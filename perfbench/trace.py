"""Per-layer spans for the traced run, recorded from outside the program.

Inside each Python worker the tracer wraps the public functions of
each layer in place. A wrapper records one span per call: name, start,
end, span id, parent id, batch id and an optional count. Spans stay in
the worker's memory and are appended as JSONL to one file per worker
process when its task ends (extraction) or when a top-level decode
returns (codec tier). The driver reads the files after each traced
pass and turns them into self times: a span's duration minus the time
its direct children cover.

Two hooks install the wrappers in the workers:

- extraction: :func:`make_traced_extract_fn` replaces
  ``tika_spark.pipeline.job.make_extract_fn`` on the driver, so the
  function shipped to the workers wraps each ``process_batch`` call in
  a batch span and installs the layer wrappers on first use;
- codec tier: ``perfbench.tracedaemon`` runs as the Python daemon
  (``spark.python.daemon.module``) and installs the decoder wrappers
  before workers fork from it.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from collections import defaultdict

# extraction routes reported one by one (the fixture's routes)
ROUTES = ("html", "pdf", "pkg", "ooxml", "ole", "chm", "rtf", "rfc822",
          "txt", "xml", "feed")
CODEC_KINDS = ("png", "webp_lossless", "webp_lossy", "jpeg", "vp8_webm",
               "mpeg2_ts", "h264_mp4", "mp3")


class Tracer:
    """Span recorder of one worker process."""

    def __init__(self, span_dir: str, per_call: bool = False):
        """``per_call``: each top-level call reads whether to record
        from the flag file ``ACTIVE`` in ``span_dir`` and writes its
        spans when it returns. Otherwise the owner sets ``active`` and
        calls :meth:`flush`."""
        self.span_dir = span_dir
        self.flag = os.path.join(span_dir, "ACTIVE")
        self.per_call = per_call
        self.active = False
        self.batch = None
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.ids = itertools.count()

    def call(self, name, fn, args, kwargs, count=None, errors=None):
        if self.per_call and not self.stack:
            self.active = os.path.exists(self.flag)
        if not self.active:
            return fn(*args, **kwargs)
        sid = next(self.ids)
        parent = self.stack[-1] if self.stack else None
        self.stack.append(sid)
        err = 0
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            if errors is not None:
                err = errors(out)
            return out
        except Exception:
            err = 1
            raise
        finally:
            t1 = time.perf_counter()
            self.stack.pop()
            n = count(*args, **kwargs) if count is not None else 1
            self.spans.append((name, t0, t1, sid, parent, self.batch, n,
                               err))
            if self.per_call and not self.stack:
                self.flush()

    def wrap(self, name, fn, count=None, errors=None):
        """``fn`` recording a span per call; ``name`` may be a function
        of the call's arguments."""

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            return self.call(label, fn, args, kwargs, count, errors)
        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr, name, **kw):
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), **kw))

    def flush(self) -> None:
        if not self.spans:
            return
        keys = ("name", "start", "end", "id", "parent", "batch", "n", "err")
        # the process id at write time: workers fork from the process
        # that created the tracer, and span ids are per process
        path = os.path.join(self.span_dir, f"{os.getpid()}.jsonl")
        with open(path, "a", encoding="utf-8") as f:
            f.write("".join(json.dumps(dict(zip(keys, s))) + "\n"
                            for s in self.spans))
        self.spans.clear()


_TRACER: Tracer | None = None   # this worker process's tracer


def _status_error(out) -> int:
    return int(isinstance(out, dict) and out.get("status") == "error")


def install_extraction(span_dir: str) -> Tracer:
    """Wrap the extraction layers of this process (idempotent)."""
    global _TRACER
    if _TRACER is not None:
        return _TRACER
    from tika_spark import charset
    from tika_spark.html import boilerpipe
    from tika_spark.html import extract as html_extract
    from tika_spark.language.identifier import LanguageIdentifierModel
    from tika_spark.pipeline import stages
    t = Tracer(span_dir)
    t.patch(stages, "detect_batch", "mime",
            count=lambda html, *a, **k: len(html))
    for route in list(stages._EXTRACTORS):
        stages._EXTRACTORS[route] = t.wrap(
            f"parse.{route}", stages._EXTRACTORS[route],
            errors=_status_error)
    t.patch(charset, "html_charset", "charset.html")
    t.patch(charset, "decode", "charset.decode")
    t.patch(charset, "detect_statistical", "charset.statistical")
    t.patch(html_extract, "build_dom", "dom")
    t.patch(html_extract, "normalize_tree", "dom")
    t.patch(html_extract, "serialize_body", "layout")
    t.patch(boilerpipe, "main_content", "boilerpipe")
    t.patch(LanguageIdentifierModel, "identify_batch", "language",
            count=lambda self, texts, *a, **k: int(
                sum(len(x) for x in texts if isinstance(x, str))))
    _TRACER = t
    return t


def make_traced_extract_fn(config, span_dir: str):
    """Stand-in for ``make_extract_fn``: the same per-batch
    ``process_batch`` calls, each in a batch span."""

    def extract_batches(iterator):
        from pyspark import TaskContext

        from tika_spark.pipeline import stages
        tracer = install_extraction(span_dir)
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        task = ctx.taskAttemptId() if ctx else os.getpid()
        tracer.active = True
        try:
            for k, pdf in enumerate(iterator):
                tracer.batch = f"{task}.{k}"
                out = tracer.call("stages", stages.process_batch,
                                  (pdf, config, part_id), {})
                yield out
            tracer.flush()
        finally:
            tracer.active = False

    return extract_batches


def _webp_kind(data, *a, **k) -> str:
    return ("codec.webp_lossless" if bytes(data[12:16]) == b"VP8L"
            else "codec.webp_lossy")


def install_codec(span_dir: str) -> Tracer:
    """Wrap the codec-tier decoders of this process. Spans record only
    while the ``ACTIVE`` flag file exists in ``span_dir``."""
    from tika_spark.analysis import (ebml, isobmff, jpegcodec, mp2codec,
                                     mpegts, pixels, webp)
    t = Tracer(span_dir, per_call=True)
    t.patch(pixels, "decode_png", "codec.png")
    t.patch(webp, "decode_webp", _webp_kind)
    t.patch(jpegcodec, "decode_jpeg", "codec.jpeg")
    t.patch(ebml, "mkv_video_frames", "codec.vp8_webm")
    t.patch(mpegts, "ts_video_frames", "codec.mpeg2_ts")
    t.patch(isobmff, "mp4_h264_frames", "codec.h264_mp4")
    t.patch(mp2codec, "decode_mpeg_audio", "codec.mp3")
    return t


# ------------------------------------------------------------ driver side


def read_spans(span_dir: str) -> list[dict]:
    """Read and remove every span file under ``span_dir``."""
    spans = []
    for path in glob.glob(os.path.join(span_dir, "*.jsonl")):
        pid = os.path.basename(path).split(".")[0]
        with open(path, encoding="utf-8") as f:
            for line in f:
                s = json.loads(line)
                s["pid"] = pid
                spans.append(s)
        os.remove(path)
    return spans


def tail_percentile(values: list[float]) -> float:
    """The highest of p99.9/p99/p90/p50 with at least ten samples
    beyond it; the maximum when there are fewer than 20 samples."""
    import numpy as np
    n = len(values)
    if n == 0:
        return 0.0
    for p in (99.9, 99.0, 90.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return float(np.percentile(values, p))
    return float(max(values))


def layer_totals(spans: list[dict]) -> dict:
    """Per span name: self seconds, calls, summed counts, errors; plus
    the root (batch) durations."""
    by_key = {(s["pid"], s["id"]): s for s in spans}
    child_s: dict = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[(s["pid"], s["parent"])] += s["end"] - s["start"]
    tot: dict = defaultdict(lambda: {"self_s": 0.0, "calls": 0, "n": 0,
                                     "err": 0, "durations": []})
    for key, s in by_key.items():
        dur = s["end"] - s["start"]
        t = tot[s["name"]]
        t["self_s"] += dur - child_s[key]
        t["calls"] += 1
        t["n"] += s["n"]
        t["err"] += s["err"]
        if s["parent"] is None:
            t["durations"].append(dur)
    # statistical charset runs reached through html_charset vs direct
    direct_stat = sum(1 for s in spans if s["name"] == "charset.statistical"
                      and (s["parent"] is None
                           or by_key[(s["pid"], s["parent"])]["name"]
                           != "charset.html"))
    tot["charset.statistical"]["direct"] = direct_stat
    return tot


def layer_metrics(tot: dict, n_passes: int, cores: int,
                  wall_s: float) -> dict[str, float]:
    """Per-layer metrics per traced pass from :func:`layer_totals`."""
    per = 1.0 / max(n_passes, 1)

    def self_s(*names):
        return per * sum(tot[n]["self_s"] for n in names if n in tot)

    def calls(name):
        return tot[name]["calls"] if name in tot else 0

    batches = tot["stages"]["durations"] if "stages" in tot else []
    python_s = per * sum(batches)
    core_s = cores * wall_s * per
    m = {
        "stages.batches": per * len(batches),
        "stages.batch_s_p50": (float(sorted(batches)[len(batches) // 2])
                               if batches else 0.0),
        "stages.batch_s_tail": tail_percentile(batches),
        "stages.python_s": python_s,
        "stages.self_s": self_s("stages"),
        "stages.python_busy_share": python_s / core_s if core_s else 0.0,
        "stages.outside_python_core_s": core_s - python_s if batches else 0.0,
        "mime.s": self_s("mime"),
        "mime.docs": per * tot["mime"]["n"] if "mime" in tot else 0.0,
        "charset.s": self_s("charset.html", "charset.decode",
                            "charset.statistical"),
        "dom.s": self_s("dom"),
        "layout.s": self_s("layout"),
        "layout.walks_per_html_doc": (calls("layout") / calls("parse.html")
                                      if calls("parse.html") else 0.0),
        "boilerpipe.s": self_s("boilerpipe"),
        "language.s": self_s("language"),
        "language.chars": per * tot["language"]["n"]
        if "language" in tot else 0.0,
    }
    resolved = calls("charset.html") + (
        tot["charset.statistical"].get("direct", 0)
        if "charset.statistical" in tot else 0)
    m["charset.statistical_share"] = (calls("charset.statistical")
                                      / resolved if resolved else 0.0)
    for route in ROUTES:
        name = f"parse.{route}"
        m[f"{name}.s"] = self_s(name)
        m[f"{name}.docs"] = per * calls(name)
        m[f"{name}.errors"] = per * (tot[name]["err"] if name in tot else 0)
    for kind in CODEC_KINDS:
        name = f"codec.{kind}"
        m[f"{name}.s"] = self_s(name)
        m[f"{name}.items"] = per * calls(name)
    return m


def self_sum_share(tot: dict) -> float:
    """Sum of every layer's self time over the summed batch time (1.0
    when the spans nest)."""
    roots = sum(tot["stages"]["durations"]) if "stages" in tot else 0.0
    if not roots:
        return 1.0
    return sum(t["self_s"] for n, t in tot.items()
               if not n.startswith("codec.")) / roots
