import os
import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .appName("tika-spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def batch_markers(tmp_path, monkeypatch):
    """Directory that gains one ``<uuid>_<n_rows>`` marker file per
    batch the extraction stage parses, so a test can count parsed rows.
    ``tika_spark.pipeline.job.make_extract_fn`` is substituted with a
    wrapper for the duration of the test."""
    from tika_spark.pipeline import job
    markers = str(tmp_path / "batch_markers")
    os.makedirs(markers)
    make_extract_fn = job.make_extract_fn

    def make_marking_fn(config):
        extract_batches = make_extract_fn(config)

        def marking_batches(iterator):
            for out in extract_batches(iterator):
                name = f"{uuid.uuid4().hex}_{len(out)}"
                with open(os.path.join(markers, name), "w"):
                    pass
                yield out

        return marking_batches

    monkeypatch.setattr(job, "make_extract_fn", make_marking_fn)
    return markers
