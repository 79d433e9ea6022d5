"""Checkpointed/resumable extraction (pipeline/checkpoint.py, O12).

The north-rule contract: a run that dies mid-way resumes from the
manifest, never re-parses committed buckets, never duplicates rows,
and converges to exactly the one-shot output.
"""

import glob
import os

import pyspark.sql.functions as F
import pytest

from tika_spark.config import ExtractConfig
from tika_spark.pipeline import checkpoint as ck
from tika_spark.pipeline.job import extract


def _pages(spark, n=80):
    return spark.range(n).select(
        F.concat(F.lit("http://h"), F.pmod("id", F.lit(7)),
                 F.lit(".test/p"), F.col("id")).alias("url"),
        F.encode(F.concat(
            F.lit("<html><head><title>T</title></head><body><p>body "),
            F.col("id").cast("string"),
            F.lit("</p></body></html>")), "UTF-8").alias("html"))


def _parsed_rows(markers):
    """Sum of per-batch row counts from the batch markers written since
    the last call (the markers read are removed)."""
    n = 0
    for p in glob.glob(os.path.join(markers, "*")):
        n += int(os.path.basename(p).rsplit("_", 1)[1])
        os.remove(p)
    return n


def test_interrupt_then_resume_matches_one_shot(spark, tmp_path):
    pages = _pages(spark)
    out = str(tmp_path / "ckpt")

    # "crash" after one wave of 3 buckets
    s1 = ck.run_checkpointed(pages, out, n_buckets=8, wave_size=3,
                             max_waves=1)
    assert s1["buckets_processed"] == 3 and not s1["complete"]
    m1 = ck.manifest(spark, out)
    assert m1.count() == 3

    # resume completes the remaining 5 buckets
    s2 = ck.run_checkpointed(pages, out, n_buckets=8, wave_size=3)
    assert s2["buckets_done_before"] == 3
    assert s2["buckets_processed"] == 5 and s2["complete"]

    got = ck.load_extracted(spark, out)
    want = extract(pages, mode="text").drop("children")
    # exactly the one-shot rows: same urls, same text, no duplicates
    assert got.count() == want.count() == 80
    assert got.select("url").distinct().count() == 80
    a = {(r["url"], r["text"]) for r in
         got.select("url", "text").collect()}
    b = {(r["url"], r["text"]) for r in
         want.select("url", "text").collect()}
    assert a == b
    # manifest totals match the data
    m = ck.manifest(spark, out)
    assert m.count() == 8
    assert m.agg(F.sum("n_rows")).first()[0] == 80


def test_resume_never_reparses_committed_buckets(spark, tmp_path,
                                                  batch_markers):
    pages = _pages(spark, 64)
    out = str(tmp_path / "ckpt")

    ck.run_checkpointed(pages, out, n_buckets=8, wave_size=4,
                        max_waves=1, config=ExtractConfig())
    first = _parsed_rows(batch_markers)
    assert 0 < first < 64  # partial run parsed only wave-1 buckets

    ck.run_checkpointed(pages, out, n_buckets=8, wave_size=4,
                        config=ExtractConfig())
    # the resume parses exactly the complement — committed buckets
    # are filtered out BEFORE the parse stage, not after
    assert _parsed_rows(batch_markers) == 64 - first

    # a third run is a no-op: manifest complete, nothing parsed
    s = ck.run_checkpointed(pages, out, n_buckets=8, wave_size=4,
                            config=ExtractConfig())
    assert s["buckets_processed"] == 0 and s["complete"]
    assert _parsed_rows(batch_markers) == 0


def test_half_written_bucket_is_overwritten_not_duplicated(
        spark, tmp_path):
    """A crash between the data write and the manifest commit leaves
    a half-written bucket; the retry must replace it, not append."""
    pages = _pages(spark, 40)
    out = str(tmp_path / "ckpt")

    # simulate the torn state: bucket data written, manifest missing
    b = ck.md5_bucket_fn(8)(F.col("url"))
    torn = (extract(pages.withColumn("ckpt_bucket", b)
                    .filter(F.col("ckpt_bucket") == 0)
                    .drop("ckpt_bucket"), mode="text")
            .drop("children").withColumn("ckpt_bucket", b)
            # half the rows, wrong content — must disappear
            .limit(1).withColumn("text", F.lit("TORN")))
    (torn.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("ckpt_bucket").parquet(f"{out}/data"))

    ck.run_checkpointed(pages, out, n_buckets=8, wave_size=8)
    got = ck.load_extracted(spark, out)
    assert got.count() == 40
    assert got.select("url").distinct().count() == 40
    assert got.filter(F.col("text") == "TORN").count() == 0


def test_empty_bucket_gets_manifest_row(spark, tmp_path):
    # 2 rows into 64 buckets: most buckets are empty but every one
    # must be committed so re-runs don't rescan forever
    pages = _pages(spark, 2)
    out = str(tmp_path / "ckpt")
    s = ck.run_checkpointed(pages, out, n_buckets=64, wave_size=64)
    assert s["complete"]
    m = ck.manifest(spark, out)
    assert m.count() == 64
    assert m.agg(F.sum("n_rows")).first()[0] == 2
    s2 = ck.run_checkpointed(pages, out, n_buckets=64, wave_size=64)
    assert s2["buckets_processed"] == 0


def test_custom_bucket_expression(spark, tmp_path):
    pages = _pages(spark, 30)
    out = str(tmp_path / "ckpt")

    def bucket_fn(col):
        return F.pmod(F.ascii(F.substring(F.md5(col), 1, 1)),
                      F.lit(4)).cast("int")

    s = ck.run_checkpointed(pages, out, n_buckets=4, wave_size=2,
                            bucket_fn=bucket_fn)
    assert s["complete"]
    got = ck.load_extracted(spark, out)
    assert got.count() == 30
    # bucket column round-trips and matches the expression
    chk = (got.withColumn("want", bucket_fn(F.col("url")))
           .filter(F.col("ckpt_bucket") != F.col("want")))
    assert chk.count() == 0


def test_materialized_bucket_column_partition_prunes(spark, tmp_path):
    """A pages table written partitioned by a materialized
    ckpt_bucket column lets each wave's filter reach the scan as a
    partition filter (no per-row md5), and the run commits exactly
    the same rows as the expression path."""
    pages = _pages(spark, 60)
    src = str(tmp_path / "pages_bucketed")
    (pages.withColumn("ckpt_bucket",
                      ck.md5_bucket_fn(8)(F.col("url")))
     .write.partitionBy("ckpt_bucket").parquet(src))
    bucketed = spark.read.parquet(src)

    # the wave filter must be a partition filter on the scan
    wave = bucketed.filter(F.col("ckpt_bucket").isin([0, 1, 2]))
    plan = wave._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [ckpt_bucket" in plan

    out = str(tmp_path / "ckpt")
    s = ck.run_checkpointed(bucketed, out, n_buckets=8, wave_size=3)
    assert s["complete"] and s["rows_written"] == 60
    got = ck.load_extracted(spark, out)
    assert got.count() == 60
    assert got.select("url").distinct().count() == 60
    # bucket assignment in the output matches the expression form
    chk = (got.withColumn("want", ck.md5_bucket_fn(8)(F.col("url")))
           .filter(F.col("ckpt_bucket") != F.col("want")))
    assert chk.count() == 0


_RETRY_SCRIPT = r"""
import os, sys
sys.path.insert(0, __REPO__)
from pyspark.sql import SparkSession
import pyspark.sql.functions as F
from tika_spark.pipeline.job import extract

# local[N, maxFailures] enables task retry, which plain local[N]
# (maxFailures=1) does not — needs its own SparkContext, hence the
# subprocess.
s = (SparkSession.builder.master("local[2, 2]")
     .appName("retry-test")
     .config("spark.sql.shuffle.partitions", "2")
     .config("spark.ui.enabled", "false").getOrCreate())
s.sparkContext.setLogLevel("ERROR")
marker_dir = sys.argv[1]
pages = s.range(24).select(
    F.concat(F.lit("http://t/p"), F.col("id")).alias("url"),
    F.encode(F.concat(F.lit("<html><body><p>b"),
                      F.col("id").cast("string"),
                      F.lit("</p></body></html>")), "UTF-8")
    .alias("html")).repartition(2)

def fail_once(batches):
    from pyspark import TaskContext
    pid = TaskContext.get().partitionId()
    rows = list(batches)          # do the work, THEN die
    marker = os.path.join(marker_dir, "p%d" % pid)
    if not os.path.exists(marker):
        open(marker, "w").close()
        raise RuntimeError("injected failure after work")
    for r in rows:
        yield r

flaky = pages.mapInPandas(fail_once, schema=pages.schema)
got = {(r["url"], r["text"]) for r in
       extract(flaky, mode="text", repartition=0)
       .select("url", "text").collect()}
want = {(r["url"], r["text"]) for r in
        extract(pages, mode="text").select("url", "text").collect()}
assert got == want and len(got) == 24, (len(got), len(want))
assert len(os.listdir(marker_dir)) == 2, os.listdir(marker_dir)
s.stop()
print("RETRY-OK")
"""


def test_extraction_idempotent_under_task_retry(tmp_path):
    """Spark-level fault injection: a task that dies AFTER the parse
    stage ran (first attempt per partition) is retried by the
    scheduler, and the retried run produces exactly the one-shot
    output — the pure-per-row extraction contract that makes
    bucket-level resume (and speculative execution) safe. Runs in a
    subprocess because local[2,2] needs its own SparkContext."""
    import subprocess
    import sys

    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         _RETRY_SCRIPT.replace("__REPO__", repr(repo)), marker_dir],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RETRY-OK" in proc.stdout
