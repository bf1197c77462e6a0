"""Config surface: memory-derived chunk target (reference
src/util.rs:97-101) and the zstd-level knob (src/util.rs:35-37)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from osm_pbf_parquet_spark.config import (
    MAX_CHUNK,
    MIN_CHUNK,
    derive_chunk_target,
    parse_mem,
)


def test_parse_mem():
    assert parse_mem("4g") == 4 << 30
    assert parse_mem("512m") == 512 << 20
    assert parse_mem("1024") == 1024
    assert parse_mem("2G") == 2 << 30
    with pytest.raises(ValueError):
        parse_mem("lots")


def test_derive_chunk_target_bounds(spark):
    t = derive_chunk_target(spark)
    assert MIN_CHUNK <= t <= MAX_CHUNK


def test_zstd_level_changes_payload_and_roundtrips():
    from osm_pbf_parquet_spark.functions.codecs import decode_array, encode_array

    arr = pa.array(
        [f"document {i % 7} with repetitive content " * 20 for i in range(2000)]
    )
    _, p1, pay1 = encode_array(arr, "str_zstd", zstd_level=1)
    _, p9, pay9 = encode_array(arr, "str_zstd", zstd_level=9)
    assert len(pay9) <= len(pay1)
    assert decode_array("str_zstd", p1, pay1).equals(arr)
    assert decode_array("str_zstd", p9, pay9).equals(arr)


def test_zstd_level_through_spark(spark, sf_dir):
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "props")
    sizes = {}
    for level in (1, 19):
        ch = encode_dataframe(
            src, key_col="event_id", num_partitions=2,
            codecs={"props": "str_zstd"}, zstd_level=level,
        )
        sizes[level] = ch.filter("column = 'props'").agg(F.sum("bytes_out")).first()[0]
        dec = decode_dataframe(ch, src.schema)
        assert dec.count() == src.count()
    assert sizes[19] <= sizes[1]


def test_malformed_decode_task_bytes_names_the_variable(monkeypatch, spark):
    from osm_pbf_parquet_spark.config import derive_decode_task_bytes

    monkeypatch.setenv("SPARK_GRAFT_DECODE_TASK_BYTES", "8MB")
    with pytest.raises(ValueError, match="SPARK_GRAFT_DECODE_TASK_BYTES"):
        derive_decode_task_bytes(spark)
    monkeypatch.setenv("SPARK_GRAFT_DECODE_TASK_BYTES", "4096")
    assert derive_decode_task_bytes(spark) == 4096


@pytest.mark.parametrize("value,expect", [("TRUE", True), ("True", True),
                                          ("false", False), ("FALSE", False)])
def test_aqe_enabled_reads_the_flag_case_insensitively(spark, value, expect):
    """Spark parses boolean confs case-insensitively; the engine's routing
    (encode's pid exchange, dedup's pair exchange) must read them alike."""
    from osm_pbf_parquet_spark.config import aqe_enabled

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        assert aqe_enabled(spark) is expect
    finally:
        spark.conf.set(key, before)
