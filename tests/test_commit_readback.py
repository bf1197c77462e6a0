"""The commit's read-back of a write reads only its own run, and the
pyarrow (s3) chunk writer honours the rotation cap inside an input
batch."""

from __future__ import annotations

import glob
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from s3stub import s3_uri, start_s3_stub  # noqa: E402


def test_commit_readback_pushes_run_filter_into_scan(
    spark, pages_path, tmp_path, monkeypatch
):
    """On a store holding two runs, the commit's read-back must push
    its run_id filter into the parquet scan; input_file_name() ahead
    of the filter would keep every run's metadata in the read."""
    from osm_pbf_parquet_spark.plans.manifest import encode_job, read_manifest

    src = spark.read.parquet(pages_path).limit(300)
    out = str(tmp_path / "store")
    first = encode_job(spark, src, out, key_col="url", num_partitions=4,
                       fail_after_partitions=2)
    assert first["partitions"] == 2

    plans: list[str] = []
    frame = type(src)  # the session's concrete DataFrame class
    to_arrow = frame.toArrow

    def recording(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return to_arrow(self)

    monkeypatch.setattr(frame, "toArrow", recording)
    second = encode_job(spark, src, out, key_col="url", num_partitions=4)
    monkeypatch.undo()
    assert second["partitions"] == 2

    readbacks = [p for p in plans if "input_file_name" in p]
    assert readbacks, plans
    for p in readbacks:
        assert "EqualTo(run_id," in p, p
    runs = {r["run_id"] for r in read_manifest(spark, out).collect()}
    assert runs == {first["run_id"], second["run_id"]}


def test_pyarrow_writer_rotates_inside_a_batch(spark, pages_path, tmp_path):
    """With the default arrow batch size a task's chunk rows arrive as
    one batch; rotate_bytes must still cap every object at max_records
    rows, like maxRecordsPerFile on the JVM route."""
    from osm_pbf_parquet_spark.plans.manifest import encode_job, read_encoded

    root = str(tmp_path / "bucket")
    os.makedirs(root)
    srv, port = start_s3_stub(root)
    try:
        src = spark.read.parquet(pages_path).limit(300)
        out = s3_uri(port, "bkt", "store")
        # 16 KiB chunk targets cut each partition into several groups;
        # rotate_bytes below one target makes max_records one group
        # (one row per column)
        stats = encode_job(
            spark, src, out, key_col="url", num_partitions=2,
            target_chunk_bytes=16 << 10, rotate_bytes=1,
        )
        assert stats["rows"] == 300
        max_records = len(src.columns)
        # the stub serves the bucket from its root directory
        files = glob.glob(os.path.join(root, "store", "chunks", "*.parquet"))
        rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
        assert len(files) > 2 and max(rows) <= max_records, rows
        assert read_encoded(spark, out, src.schema).count() == 300
    finally:
        srv.shutdown()
