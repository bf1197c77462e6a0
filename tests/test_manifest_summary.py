"""The commit's manifest summary: ``summarize_written`` (pyarrow, on the
driver) against the Spark aggregation it replaced, kept here verbatim
as the oracle, on real encode_job stores — local JVM route and the s3
(pyarrow) route over the in-process S3 stub — plus the Spark job
budget of a write."""

from __future__ import annotations

import json
import os
import sys

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from s3stub import s3_uri, start_s3_stub  # noqa: E402


def spark_summarize_chunks(written: DataFrame) -> DataFrame:
    """The Spark groupBy/join summary the commit used to run (oracle)."""
    per_group = written.groupBy("partition_id", "chunk_seq").agg(
        F.max("n_rows").alias("gnr")
    )
    rows_per_pid = per_group.groupBy("partition_id").agg(
        F.sum("gnr").alias("n_rows"), F.count("*").alias("n_chunks")
    )
    per_col = (
        written.groupBy("partition_id", "column")
        .agg(
            F.max_by("codec", "chunk_seq").alias("codec"),
            F.sum("bytes_in").alias("bi"),
            F.sum("bytes_out").alias("bo"),
            F.collect_list("checksum").alias("cks"),
        )
    )
    per_pid = per_col.groupBy("partition_id").agg(
        F.sum("bi").alias("bytes_in"),
        F.sum("bo").alias("bytes_out"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("column", "codec")))
        ).alias("codec_map"),
        F.sha2(
            F.concat_ws("|", F.sort_array(F.flatten(F.collect_list("cks")))), 256
        ).alias("checksum"),
    )
    out = per_pid.join(rows_per_pid, "partition_id")
    if "__file" in written.columns:
        bare = F.element_at(
            F.split(F.element_at(F.split("__file", "\\?"), 1), "/"), -1
        )
        files_per_pid = (
            written.select("partition_id", bare.alias("__bare"))
            .groupBy("partition_id")
            .agg(F.sort_array(F.collect_set("__bare")).alias("files"))
        )
        out = out.join(files_per_pid, "partition_id")
    return out


def _oracle_rows(written: DataFrame) -> list[dict]:
    rows = [r.asDict() for r in spark_summarize_chunks(written).collect()]
    for r in rows:
        r["codec_map"] = dict(r["codec_map"])
        r["files"] = list(r["files"]) if "files" in r else None
    return sorted(rows, key=lambda r: r["partition_id"])


def _check_store_against_oracle(spark, out: str, stats: dict) -> None:
    from osm_pbf_parquet_spark.plans.manifest import (
        SUMMARY_COLUMNS,
        read_chunks,
        read_manifest,
        summarize_written,
        visible_chunk_files,
    )

    run_id = stats["run_id"]
    manifest = sorted(
        (r.asDict() for r in read_manifest(spark, out).collect()),
        key=lambda r: r["partition_id"],
    )
    written = read_chunks(
        spark, out, with_file=True, run_id=run_id,
        columns=SUMMARY_COLUMNS, files=visible_chunk_files(manifest),
    ).filter(F.col("run_id") == run_id).toArrow()
    # the oracle aggregates the same collected rows in Spark (one
    # read of the store; its several jobs would each re-read it)
    oracle = _oracle_rows(spark.createDataFrame(written))
    assert summarize_written(written) == oracle

    # the committed rows carry the same summary, serialized
    assert [r["partition_id"] for r in manifest] == [
        r["partition_id"] for r in oracle
    ]
    for m, o in zip(manifest, oracle):
        assert m["run_id"] == run_id and m["status"] == "done"
        assert (m["n_rows"], m["n_chunks"], m["bytes_in"], m["bytes_out"]) == (
            o["n_rows"], o["n_chunks"], o["bytes_in"], o["bytes_out"]
        )
        assert json.loads(m["codecs"]) == o["codec_map"]
        assert m["checksum"] == o["checksum"]
        assert json.loads(m["files"]) == o["files"]

    # the store is shaped to exercise every field: several chunk groups
    # per partition, more than one codec, and partitions spread over
    # several rotated files
    assert all(r["n_chunks"] >= 2 for r in oracle)
    assert len({c for r in oracle for c in r["codec_map"].values()}) >= 2
    assert max(len(r["files"]) for r in oracle) >= 2
    assert sum(r["n_rows"] for r in oracle) == stats["rows"]


def _encode_small_groups(spark, pages_path, out: str) -> dict:
    from osm_pbf_parquet_spark.plans.manifest import encode_job

    src = spark.read.parquet(pages_path).limit(300)
    # 16 KiB chunk targets cut each partition into several groups; a
    # rotate_bytes below one target caps every file at one group
    return encode_job(
        spark, src, out, key_col="url", num_partitions=4,
        target_chunk_bytes=16 << 10, rotate_bytes=1,
    )


def test_summary_equals_spark_oracle_local(spark, pages_path, tmp_path):
    out = str(tmp_path / "store")
    stats = _encode_small_groups(spark, pages_path, out)
    assert stats["partitions"] == 4
    _check_store_against_oracle(spark, out, stats)


@pytest.fixture()
def s3_store(tmp_path):
    root = str(tmp_path / "bucket")
    os.makedirs(root)
    srv, port = start_s3_stub(root)
    yield port
    srv.shutdown()


def test_summary_equals_spark_oracle_s3(spark, pages_path, s3_store):
    out = s3_uri(s3_store, "bkt", "store")
    # the pyarrow writer rotates between input batches: one batch per
    # chunk group (5 columns) lets rotate_bytes split partitions here
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        stats = _encode_small_groups(spark, pages_path, out)
    finally:
        spark.conf.set(key, prev)
    assert stats["partitions"] == 4
    _check_store_against_oracle(spark, out, stats)


def test_encode_job_runs_at_most_three_spark_jobs(spark, pages_path, tmp_path):
    """A write is the chunk write (two jobs) plus one read-back job;
    the commit runs no Spark aggregation of its own."""
    from osm_pbf_parquet_spark.plans.manifest import encode_job

    src = spark.read.parquet(pages_path)
    sc = spark.sparkContext
    sc.setJobGroup("encode-job-budget", "encode_job job budget")
    try:
        stats = encode_job(
            spark, src, str(tmp_path / "store"), key_col="url",
            num_partitions=8,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["partitions"] == 8
    jobs = sc.statusTracker().getJobIdsForGroup("encode-job-budget")
    assert len(jobs) <= 3, sorted(jobs)
