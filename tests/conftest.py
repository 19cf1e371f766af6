import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running test (still part of the full run)"
    )


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("s1x-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def parquet_codecs():
    """A function: the set of codecs that the column chunks of every
    parquet file under a directory record in their footers."""
    from pathlib import Path

    import pyarrow.parquet as pq

    def codecs(path) -> set[str]:
        files = list(Path(path).rglob("*.parquet"))
        assert files, f"no parquet files under {path}"
        return {
            md.row_group(g).column(c).compression
            for md in (pq.ParquetFile(f).metadata for f in files)
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        }

    return codecs


@pytest.fixture(scope="session")
def crashed_run(spark):
    """A function ``(transcripts, output_dir, markers_dir, **kwargs)``:
    ``run_with_resume`` (8 buckets) over only the rows of the input's
    three lowest bucket ids. It leaves the data and markers of a run
    that crashed after its first three pending buckets."""
    from pyspark.sql import functions as F

    from service1_text_extraction_spark.pipeline import run_with_resume, with_bucket

    def run(transcripts, output_dir, markers_dir, **kwargs):
        bucketed = with_bucket(transcripts, 8)
        first = sorted(
            r.bucket_id for r in bucketed.select("bucket_id").distinct().collect()
        )[:3]
        return run_with_resume(
            spark,
            bucketed.where(F.col("bucket_id").isin(first)),
            output_dir,
            markers_dir,
            n_buckets=8,
            **kwargs,
        )

    return run
