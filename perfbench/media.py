"""Mixed codec payloads for the ``media_decode`` workload.

Every payload comes from a generator the repository already ships, so
the decoders see real bitstreams. Each row also carries what the
generator knows about its output, which the benchmark checks the
decoded rows against.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# kind -> (decode stage, media type); the stage names the public
# analysis operator that decodes the row
KINDS = {
    "png": ("pixels", "image/png"),
    "webp_lossless": ("pixels", "image/webp"),
    "webp_lossy": ("pixels", "image/webp"),
    "jpeg": ("pixels", "image/jpeg"),
    "vp8_webm": ("frames", "video/webm"),
    "mpeg2_ts": ("frames", "video/mp2t"),
    "h264_mp4": ("frames", "video/mp4"),
    "mp3": ("audio", "audio/mpeg"),
}


def means_micro(arr: np.ndarray) -> list[int]:
    """Per-channel mean in micro-units, rounded half up."""
    flat = arr.reshape(-1, arr.shape[-1]).astype(np.int64)
    n = flat.shape[0]
    return [(int(s) * 1_000_000 + n // 2) // n for s in flat.sum(axis=0)]


def _png(i, rng):
    from tika_spark.analysis.pixels import png_bytes
    img = rng.randint(0, 256, (24, 32, 3), dtype=np.uint8)
    return png_bytes(img), {"width": 32, "height": 24,
                            "mean_micro": means_micro(img)}


def _webp_lossless(i, rng):
    from tika_spark.analysis.webp import webp_bytes
    img = rng.randint(0, 256, (24, 32, 4), dtype=np.uint8)
    opts = ({}, {"subtract_green": True}, {"predictor": i % 14},
            {"cache_bits": 6})[i % 4]
    return webp_bytes(img, **opts), {"width": 32, "height": 24,
                                     "mean_micro": means_micro(img)}


def _webp_lossy(i, rng):
    from tika_spark.analysis.vp8 import webp_lossy_from_rgb
    img = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
    raw, _ = webp_lossy_from_rgb(img, qindex=(i * 13) % 128,
                                 plan=("dc", "rotate", "bpred")[i % 3],
                                 filter_level=(i * 7) % 64)
    return raw, {"width": 32, "height": 32}


def _jpeg(i, rng):
    from tika_spark.analysis.jpegcodec import jpeg_bytes
    img = rng.randint(0, 256, (32, 48, 3), dtype=np.uint8)
    return jpeg_bytes(img, quality=50 + i % 40), {"width": 48,
                                                   "height": 32}


def _vp8_webm(i, rng):
    from tika_spark.analysis.ebml import mkv_wrap_video
    from tika_spark.analysis.vp8 import encode_vp8_yuv
    from tika_spark.analysis.vp8inter import (VP8Decoder,
                                              encode_vp8_inter_yuv)
    y = rng.randint(0, 256, (32, 32)).astype(np.int32)
    u = rng.randint(0, 256, (16, 16)).astype(np.int32)
    v = rng.randint(0, 256, (16, 16)).astype(np.int32)
    kf, _ = encode_vp8_yuv(y, u, v, qindex=(i * 11) % 96, plan="dc")
    dec = VP8Decoder()
    dec.decode_yuv(kf)
    frames = [kf]
    for mv in ((16, 0), (2, -6), (0, 16)):
        src = np.roll(dec.last[0], (mv[0] // 8, mv[1] // 8),
                      axis=(0, 1))[:32, :32]
        p, _ = encode_vp8_inter_yuv(dec.last, src, dec.last[1][:16, :16],
                                    dec.last[2][:16, :16], mv=mv,
                                    qindex=(i * 7) % 64)
        dec.decode_yuv(p)
        frames.append(p)
    return mkv_wrap_video(frames, 32, 32), {"width": 32, "height": 32,
                                            "n_frames": 4}


def _mpeg2_ts(i, rng):
    from tika_spark.analysis.mpegts import mpegts_fixture
    return mpegts_fixture(i), {}


def _h264_mp4(i, rng):
    from tika_spark.analysis.isobmff import video_h264p_fixture
    return video_h264p_fixture(i), {"width": 32, "height": 16,
                                    "n_frames": 2 + i % 2}


def _mp3(i, rng):
    from tika_spark.analysis.mp3codec import mp3_bytes
    nch = 1 + i % 2
    n_frames = 1 + i % 4
    zero = np.zeros(576, dtype=np.int64)
    frame = [[zero] * nch, [zero] * nch]
    raw = mp3_bytes([frame] * n_frames,
                    mode="mono" if nch == 1 else "stereo",
                    count1_zeros=16 + i % 5,
                    scalefac_compress=5 + i % 11, scalefactors=[1] * 21)
    # all-zero spectra decode to digital silence
    return raw, {"n_channels": nch, "n_samples": 1152 * n_frames,
                 "peak_micro": 0}


_GENERATORS = {"png": _png, "webp_lossless": _webp_lossless,
               "webp_lossy": _webp_lossy, "jpeg": _jpeg,
               "vp8_webm": _vp8_webm, "mpeg2_ts": _mpeg2_ts,
               "h264_mp4": _h264_mp4, "mp3": _mp3}


def media_table(seed: int, per_kind: dict[str, int]) -> pd.DataFrame:
    """Rows (id, kind, stage, media_type, payload, expect) for ``seed``.

    ``expect`` maps output column -> value the decoded row must have.
    """
    rows = []
    for k, (kind, (stage, mtype)) in enumerate(KINDS.items()):
        for j in range(per_kind[kind]):
            row_id = (seed % 100_000) * 1000 + k * 100 + j
            rng = np.random.RandomState((seed * 7919 + row_id) % 2**32)
            payload, expect = _GENERATORS[kind](row_id, rng)
            rows.append({"id": row_id, "kind": kind, "stage": stage,
                         "media_type": mtype, "payload": payload,
                         "expect": expect})
    return pd.DataFrame(rows)


class MediaWorkload:
    """``media_decode``: one pass runs the three decode operators over
    their rows of the mixed payload table into the noop sink."""

    shuffles = None        # no plan-shape pin
    daemon_traced = True   # traced through perfbench.tracedaemon

    def __init__(self, unique: dict[str, int], copies: int):
        self.unique = unique
        self.copies = copies

    def build(self, seed: int, work: str, cores: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.work = work
        base = media_table(seed, self.unique)
        frame = base.loc[base.index.repeat(self.copies)].reset_index(
            drop=True)
        frame["id"] = frame["id"] * self.copies + (frame.index
                                                   % self.copies)
        self.frame = frame
        self.rows = len(frame)
        self.bytes = int(frame["payload"].map(len).sum())
        cols = ["id", "kind", "stage", "media_type", "payload"]
        self.table = f"{work}/media"
        self.warm_table = f"{work}/media_warm"
        warm = frame.groupby("kind").head(1)
        for path, df in ((self.table, frame), (self.warm_table, warm)):
            os.makedirs(path, exist_ok=True)
            t = pa.Table.from_pandas(df[cols], preserve_index=False)
            # row k goes to file k % cores: every file mixes every kind
            for k in range(cores):
                pq.write_table(t.take(np.arange(k, len(df), cores)),
                               f"{path}/part-{k:05d}.parquet")

    def outputs(self, spark, table: str):
        import pyspark.sql.functions as F

        from tika_spark.analysis.pcm import audio_pcm_stats
        from tika_spark.analysis.pixels import image_pixel_stats
        from tika_spark.analysis.video import sample_frame_stats
        df = spark.read.parquet(table)

        def rows(stage):
            return df.filter(F.col("stage") == stage)
        return {"pixels": image_pixel_stats(rows("pixels")),
                "frames": sample_frame_stats(rows("frames"), every=1),
                "audio": audio_pcm_stats(rows("audio"))}

    def run_pass(self, spark, warm: bool = False) -> None:
        for out in self.outputs(spark, self.warm_table if warm
                                else self.table).values():
            out.write.format("noop").mode("overwrite").save()

    def verify(self, spark) -> dict:
        got = {stage: df.toPandas() for stage, df in
               self.outputs(spark, self.table).items()}
        exp = self.frame.set_index("id")
        mismatch = errors = unknown = 0
        seen = set()
        for stage, out in got.items():
            errors += int((out["status"] == "error").sum())
            unknown += int((~out["status"].isin({"ok", "error",
                                                 "unsupported"})).sum())
            for row_id, group in out.groupby("id"):
                seen.add(row_id)
                want = exp.loc[row_id, "expect"]
                if (group["status"] != "ok").any():
                    mismatch += 1
                    continue
                first = group.iloc[0]
                for key, value in want.items():
                    if key == "n_frames":
                        ok = (len(group) == value
                              and (group["n_frames"] == value).all())
                    elif key == "mean_micro":
                        ok = list(first["mean_micro"]) == value
                    else:
                        ok = (group[key] == value).all()
                    mismatch += int(not ok)
        mismatch += len(set(exp.index) - seen)
        return {"rows": len(seen), "golden_mismatch": mismatch,
                "errors": errors, "unknown_status": unknown}
