"""End-to-end Spark encode→decode round-trip — the engine's analogue of
the reference's golden validation (reference test/validate.py):

  V1 no duplicate chunk keys          (validate.py:49-56)
  V2/V3 completeness both directions  (validate.py:59-83)
  V4/V5 bitwise value equality incl. binary/nested (validate.py:85-209)
plus the north_rule per-row invariant: byte-identical text per url.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import functions as F

from osm_pbf_parquet_spark.operators.encode import (
    decode_dataframe,
    encode_dataframe,
)


def _assert_bit_identical(spark, src_df, dec_df, key):
    """Join on key and null-safe-compare every column (V2+V4+V5)."""
    cols = [c for c in src_df.columns]
    a = src_df.select([F.col(c).alias(f"a_{c}") for c in cols])
    b = dec_df.select([F.col(c).alias(f"b_{c}") for c in cols])
    joined = a.join(b, a[f"a_{key}"] == b[f"b_{key}"], "full_outer")
    n_src = src_df.count()
    n_dec = dec_df.count()
    assert n_src == n_dec, f"row count {n_src} != {n_dec}"
    assert joined.count() == n_src, "join not 1:1 (missing/extra keys)"
    mismatch = joined.filter(
        ~F.expr(
            " AND ".join(f"a_{c} <=> b_{c}" for c in cols)
        )
    )
    bad = mismatch.limit(5).collect()
    assert not bad, f"value mismatches: {bad}"


def test_pages_roundtrip(spark, pages_path):
    src = spark.read.parquet(pages_path)
    chunks = encode_dataframe(src, key_col="url", num_partitions=8,
                              target_chunk_bytes=1 << 20)
    chunks.cache()
    # V1: chunk key uniqueness
    dup = (
        chunks.groupBy("partition_id", "chunk_seq", "column")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0
    # every partition encodes every column
    ncols = (
        chunks.select("partition_id", "column").distinct()
        .groupBy("partition_id").count().select(F.min("count")).first()[0]
    )
    assert ncols == len(src.columns)

    dec = decode_dataframe(chunks, src.schema)
    assert dec.schema == src.schema
    _assert_bit_identical(spark, src, dec, "url")
    chunks.unpersist()


def test_text_byte_identical_per_url(spark, pages_path):
    """north_rule invariant: byte-identical extracted text per url."""
    src = spark.read.parquet(pages_path)
    chunks = encode_dataframe(src, key_col="url", num_partitions=4)
    dec = decode_dataframe(chunks, src.schema)
    a = src.select("url", F.md5(F.coalesce(F.encode("text", "UTF-8"), F.lit(b""))).alias("h1"))
    b = dec.select("url", F.md5(F.coalesce(F.encode("text", "UTF-8"), F.lit(b""))).alias("h2"))
    diff = a.join(b, "url").filter("h1 != h2").count()
    assert diff == 0


def test_compression_beats_parquet_zstd_baseline(spark, pages_path, tmp_path):
    """BASELINE.md target: compressed chunks ≤ plain Parquet-zstd of the
    same data (the reference's own output format, src/sink.rs:130-135)."""
    import os

    src = spark.read.parquet(pages_path)
    chunks = encode_dataframe(src, key_col="url", num_partitions=4)
    out_bytes = chunks.agg(F.sum("bytes_out")).first()[0]

    ref_dir = str(tmp_path / "ref_zstd")
    src.write.option("compression", "zstd").parquet(ref_dir)
    ref_bytes = sum(
        os.path.getsize(os.path.join(ref_dir, f))
        for f in os.listdir(ref_dir)
        if f.endswith(".parquet")
    )
    # html is random bytes (incompressible); allow 15% slack on the
    # container overhead while requiring the same order of size
    assert out_bytes <= ref_bytes * 1.15, (out_bytes, ref_bytes)


def test_forced_codecs_roundtrip(spark, pages_path):
    src = spark.read.parquet(pages_path)
    codecs = {
        "url": "str_fsst",
        "warc_ts": "delta",
        "html": "str_zstd",
        "text": "str_fsst",
        "lang": "str_dict",
    }
    chunks = encode_dataframe(src, key_col="url", num_partitions=4, codecs=codecs)
    used = {r["column"]: r["codec"] for r in chunks.select("column", "codec").distinct().collect()}
    assert used == codecs
    dec = decode_dataframe(chunks, src.schema)
    _assert_bit_identical(spark, src, dec, "url")


def test_testdata_documents_roundtrip(spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = encode_dataframe(src, key_col="doc_id", num_partitions=4)
    dec = decode_dataframe(chunks, src.schema)
    _assert_bit_identical(spark, src, dec, "doc_id")


def test_testdata_events_roundtrip(spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    chunks = encode_dataframe(src, key_col="event_id", num_partitions=4)
    dec = decode_dataframe(chunks, src.schema)
    _assert_bit_identical(spark, src, dec, "event_id")


def test_testdata_embeddings_roundtrip(spark, sf_dir):
    """Nested list<float> column through the IPC/zstd path."""
    src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    chunks = encode_dataframe(src, key_col="vec_id", num_partitions=2)
    dec = decode_dataframe(chunks, src.schema)
    n = src.count()
    assert dec.count() == n
    joined = src.alias("a").join(dec.alias("b"), "vec_id")
    same = joined.filter(F.expr("a.embedding <=> b.embedding and a.label <=> b.label")).count()
    assert same == n


def test_input_partition_mode_roundtrip_no_shuffle(spark, pages_path, tmp_path):
    """Shuffle-free encode (reference task-per-blob twin): bit-identity
    plus a zero-Exchange physical plan straight off the file splits."""
    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_input_partitions,
    )

    multi = str(tmp_path / "multi")
    spark.read.parquet(pages_path).repartition(6).write.parquet(multi)
    src = spark.read.parquet(multi)
    chunks = encode_input_partitions(src, target_chunk_bytes=1 << 20)
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    dec = decode_dataframe(chunks, src.schema)
    _assert_bit_identical(spark, src, dec, "url")


def test_light_encode_width_follows_bytes(spark, pages_path):
    """A light input (well under 16 MB per pid) encodes on about one task
    per chunk target of input bytes, at least one per core, instead of
    one per pid value — and its chunk rows are exactly those of one
    task per pid value (the previous routing), bytes_in included."""
    from osm_pbf_parquet_spark.config import plan_bytes as _plan_size_estimate
    from osm_pbf_parquet_spark.operators.encode import (
        CHUNKS_SPARK_SCHEMA,
        PID_COL,
        make_encode_fn,
        with_partition_id,
    )

    src = spark.read.parquet(pages_path).cache()
    src.count()
    n, target = 32, 1 << 20
    est = _plan_size_estimate(src)
    cores = spark.sparkContext.defaultParallelism
    tasks = min(n, max(cores, -(-est // target)))
    assert cores <= tasks < n  # the byte-sized width is not the pid count

    sc = spark.sparkContext
    sc.setJobGroup("light-encode-width", "light encode width")
    try:
        got = encode_dataframe(
            src, key_col="url", num_partitions=n, target_chunk_bytes=target,
            bloom_cols=["url"],
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stage_tasks = [
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup("light-encode-width")
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    ]
    assert tasks in stage_tasks, (tasks, stage_tasks)
    assert n not in stage_tasks, stage_tasks

    per_pid = (
        with_partition_id(src, "url", n)
        .repartition(n, PID_COL)
        .mapInArrow(make_encode_fn(None, target, bloom_cols=("url",)),
                    CHUNKS_SPARK_SCHEMA)
        .collect()
    )
    src.unpersist()

    got, per_pid = sorted(map(tuple, got)), sorted(map(tuple, per_pid))
    assert len(got) == 5 * n  # one group per pid: no cuts at this target
    assert len({r[:3] for r in got}) == len(got)  # (pid, seq, col) unique
    assert got == per_pid
