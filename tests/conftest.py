from __future__ import annotations

import os

import pytest

# Building an S3 client makes the AWS SDK probe the EC2 instance-metadata
# service (IMDS) for credentials and region; off EC2 the probe can wait
# ~2 s per client before it gives up. The s3-stub tests put every
# credential in the URI, so they need no probe. Set before the session
# JVM starts so Spark's Python workers inherit it.
os.environ.setdefault("AWS_EC2_METADATA_DISABLED", "true")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("osm-pbf-parquet-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    from osm_pbf_parquet_spark.sources.pages import pages_parquet

    path = str(tmp_path_factory.mktemp("fixtures") / "pages.parquet")
    return pages_parquet(path, n_rows=5000)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
