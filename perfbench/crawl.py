"""The synthetic crawl table and the three ``crawl_*`` workloads.

Rows come from :func:`tika_spark.fixtures.pages.gen_row`, which also
returns each row's expected text, so the table and its expectations
are built together and only ``url``, ``warc_ts`` and ``html`` reach
the program.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The giant-HTML tail (row ids divisible by GIANT_EVERY) is generated
# from this fixed fixture seed. A giant page's size is drawn per seed
# between 1 and 8 MB and the tail holds about 2/3 of the input bytes,
# so with a seed-drawn tail the bytes of one table differ by about 14%
# between seeds and docs/s would follow the seed, not the code. Every
# other row follows --seed.
GIANT_SEED = 42

# detected media type of every fixture variant (the type census a
# correct detector reports for the generator's payloads)
EXPECTED_MIME = {
    "html_plain": "text/html",
    "html_boiler": "text/html",
    "html_meta_charset": "text/html",
    "html_no_charset": "text/html",
    "html_big_preamble": "text/html",
    "html_evil": "text/html",
    "xhtml": "application/xhtml+xml",
    "html_base_href": "text/html",
    "html_table_layout": "text/html",
    "pdf_simple": "application/pdf",
    "pdf_two_boxes": "application/pdf",
    "txt_utf8": "text/plain",
    "txt_utf16le": "text/plain",
    "txt_cp866": "text/plain",
    "xml_dc": "application/xml",
    "rss": "application/rss+xml",
    "binary_junk": "application/octet-stream",
    "zip_archive": "application/zip",
    "gz_txt": "application/x-gzip",
    "rtf_doc": "application/rtf",
    "docx_doc": "application/vnd.openxmlformats-officedocument."
                "wordprocessingml.document",
    "eml_msg": "message/rfc822",
    "ole_doc": "application/msword",
    "ole_xls": "application/vnd.ms-excel",
    "chm_help": "application/vnd.ms-htmlhelp",
    "giant_html": "text/html",
}

# statuses a fixture row may end in; anything else is a failure
KNOWN_STATUSES = {"ok", "no_parser", "detected", "output_limit",
                  "write_limit", "input_capped"}


def crawl_frame(seed: int, n_rows: int, start: int = 0) -> pd.DataFrame:
    """Rows ``start .. start+n_rows-1`` with their expectations."""
    from tika_spark.fixtures.pages import GIANT_EVERY, gen_row
    rows = [gen_row(i, GIANT_SEED if i % GIANT_EVERY == 0 and i > 0
                    else seed)
            for i in range(start, start + n_rows)]
    df = pd.DataFrame({c: [r[c] for r in rows] for c in
                       ("url", "warc_ts", "html", "text", "text_main",
                        "source")})
    df["warc_ts"] = pd.to_datetime(df["warc_ts"]).dt.tz_localize("UTC")
    return df


def write_table(df: pd.DataFrame, path: str, n_files: int,
                bucketed: bool) -> None:
    """Write ``url, warc_ts, html`` as ``n_files`` parquet files.

    ``bucketed``: the layout ``extract(repartition=0)`` expects. Rows
    of each size bucket are dealt across files, largest first in snake
    order, so giant pages spread evenly, and each file is sorted by
    bucket so every Arrow batch is size-homogeneous. Otherwise rows
    keep generation order in contiguous runs, and ``extract`` has to
    run its size-bucket shuffle.
    """
    from tika_spark.config import SIZE_BUCKET_BOUNDS
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df[["url", "warc_ts", "html"]],
                                 preserve_index=False)
    n = len(df)
    if bucketed:
        sizes = df["html"].map(len).to_numpy()
        bucket = np.searchsorted(SIZE_BUCKET_BOUNDS, sizes, side="left")
        crc = df["url"].map(lambda u: zlib.crc32(u.encode())).to_numpy()
        files: list[list[int]] = [[] for _ in range(n_files)]
        for b in np.unique(bucket):
            members = np.flatnonzero(bucket == b)
            members = members[np.lexsort((crc[members], -sizes[members]))]
            for k, row in enumerate(members):
                lap, pos = divmod(k, n_files)
                files[pos if lap % 2 == 0 else n_files - 1 - pos].append(
                    int(row))
        parts = [sorted(f, key=lambda r: (bucket[r], crc[r]))
                 for f in files]
    else:
        parts = [list(c) for c in np.array_split(np.arange(n), n_files)]
    for k, rows in enumerate(parts):
        pq.write_table(table.take(rows), f"{path}/part-{k:05d}.parquet",
                       coerce_timestamps="us")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CrawlWorkload:
    """``crawl_main`` / ``crawl_detect``: one ``extract`` pass over the
    pre-bucketed table into the noop sink (scan -> mapInPandas -> sink,
    no exchange)."""

    shuffles = False        # plan-shape pin: no shuffle write at all
    daemon_traced = False   # traced through make_extract_fn

    def __init__(self, mode: str, n_rows: int):
        self.mode = mode
        self.n_rows = n_rows

    def build(self, seed: int, work: str, cores: int) -> None:
        self.work = work
        self.frame = crawl_frame(seed, self.n_rows)
        self.table = f"{work}/crawl"
        write_table(self.frame, self.table, cores, bucketed=not self.shuffles)
        # warm-up slice: the first rows (every variant, no giant page)
        warm = crawl_frame(seed, min(100 * cores, 990), start=1)
        self.warm_table = f"{work}/warm"
        write_table(warm, self.warm_table, cores, bucketed=not self.shuffles)
        self.rows = len(self.frame)
        self.bytes = int(self.frame["html"].map(len).sum())

    def extract(self, spark, table: str):
        from tika_spark.pipeline.job import extract
        return extract(spark.read.parquet(table), mode=self.mode,
                       repartition=None if self.shuffles else 0)

    def run_pass(self, spark, warm: bool = False) -> None:
        noop(self.extract(spark, self.warm_table if warm else self.table))

    def verify(self, spark) -> dict:
        """One collected pass: statuses, and text or type per url."""
        got = (self.extract(spark, self.table)
               .select("url", "mime", "status", "text").toPandas())
        return self.compare(got)

    def compare(self, got: pd.DataFrame) -> dict:
        exp = self.frame.set_index("url")
        got = got.set_index("url")
        mismatch = int(len(exp.index.symmetric_difference(got.index))
                       + got.index.duplicated().sum())
        got = got[~got.index.duplicated()]
        both = exp.join(got, how="inner", rsuffix="_got")
        if self.mode == "detect":
            want = both["source"].map(EXPECTED_MIME)
            mismatch += int((both["mime"] != want).sum())
        elif self.mode == "text-main":
            has = both["text_main"].notna()
            mismatch += int((both["text_main"][has]
                             != both["text_got"][has]).sum())
        else:
            mismatch += int((both["text"] != both["text_got"]).sum())
        return {"rows": len(got), "golden_mismatch": mismatch,
                "errors": int((got["status"] == "error").sum()),
                "unknown_status": int((~got["status"].isin(KNOWN_STATUSES))
                                      .sum())}


class ResumeWorkload(CrawlWorkload):
    """``crawl_resume``: ``run_checkpointed(mode="text")`` from the
    unbucketed table, stopped after half its waves and resumed."""

    shuffles = True

    def __init__(self, n_rows: int, n_buckets: int = 4,
                 wave_size: int = 2):
        super().__init__("text", n_rows)
        self.n_buckets = n_buckets
        self.wave_size = wave_size
        self.passes = 0
        self.summaries: list[dict] = []

    def run_pass(self, spark, warm: bool = False) -> None:
        """One checkpointed run; the warm-up pass is a plain shuffled
        ``extract`` of the warm-up slice."""
        import shutil

        from tika_spark.pipeline.checkpoint import run_checkpointed
        if warm:
            return super().run_pass(spark, warm=True)
        if getattr(self, "last_out", None):
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.passes += 1
        out = f"{self.work}/resume-{self.passes}"
        pages = spark.read.parquet(self.table)
        waves = -(-self.n_buckets // self.wave_size)
        first = run_checkpointed(pages, out, n_buckets=self.n_buckets,
                                 wave_size=self.wave_size, mode="text",
                                 max_waves=waves // 2)
        rest = run_checkpointed(pages, out, n_buckets=self.n_buckets,
                                wave_size=self.wave_size, mode="text")
        self.last_out = out
        self.summaries = [first, rest]

    def checkpoint_stats(self, wall: float) -> dict:
        """Wave walls (from the manifest), runner time outside the waves
        (manifest probes and appends) and rows parsed twice, for the
        pass just run in ``wall`` seconds."""
        manifest = pq.read_table(f"{self.last_out}/manifest").to_pandas()
        # every bucket of one wave carries that wave's wall time
        wave_s = list(manifest["wall_ms"].unique() / 1000.0)
        return {"wave_s": wave_s, "commit_s": wall - sum(wave_s),
                "rows_reparsed": sum(s["rows_processed"]
                                     for s in self.summaries) - self.rows}

    def verify(self, spark) -> dict:
        self.run_pass(spark)
        got = pq.read_table(f"{self.last_out}/data",
                            columns=["url", "mime", "status", "text"]
                            ).to_pandas()
        result = self.compare(got)
        first, rest = self.summaries
        if not (rest["complete"] and first["buckets_done_before"] == 0
                and rest["buckets_done_before"]
                == first["buckets_processed"] > 0):
            result["golden_mismatch"] += 1
        return result
