"""Zone-map chunk pruning + selective-column decode over the chunk store."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_pbf_parquet_spark.operators.encode import (
    decode_dataframe,
    encode_dataframe,
    encode_input_partitions,
)
from osm_pbf_parquet_spark.operators.pruning import (
    decode_columns,
    prune_by_range,
    select_columns,
)


def test_selective_column_decode(spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = encode_dataframe(src, key_col="doc_id", num_partitions=4)
    out = decode_columns(chunks, src.schema, ["doc_id", "lang"])
    assert out.columns == ["doc_id", "lang"]
    a = {(r[0], r[1]) for r in src.select("doc_id", "lang").collect()}
    b = {(r[0], r[1]) for r in out.collect()}
    assert a == b


def test_zone_map_prunes_sorted_timestamps(spark, sf_dir, tmp_path):
    """Time-clustered layout (input-partition mode over a sorted
    source) → a narrow ts-range predicate skips most chunk groups."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet").orderBy("ts")
    sorted_dir = str(tmp_path / "sorted")
    src.coalesce(1).write.parquet(sorted_dir)
    # 8 splits in time order
    resorted = spark.read.parquet(sorted_dir).repartitionByRange(8, "ts").sortWithinPartitions("ts")
    chunks = encode_input_partitions(resorted, target_chunk_bytes=1 << 20).cache()
    total_groups = chunks.select("partition_id", "chunk_seq").distinct().count()

    # ntz-robust µs view (session tz is UTC in conftest)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = src.agg(F.min(us), F.max(us)).first()
    lo_us, hi_us = bounds[0], bounds[1]
    cut = lo_us + (hi_us - lo_us) // 8  # bottom eighth of the range

    pruned = prune_by_range(chunks, "ts", upper=cut)
    kept_groups = pruned.select("partition_id", "chunk_seq").distinct().count()
    assert kept_groups < total_groups / 2, (kept_groups, total_groups)

    # correctness: exact predicate after decode loses no qualifying rows
    dec = decode_dataframe(pruned, spark.read.parquet(sorted_dir).schema)
    got = dec.filter(us <= cut).count()
    expected = src.filter(us <= cut).count()
    assert got == expected
    chunks.unpersist()


def test_prune_keeps_statless_chunks(spark, sf_dir):
    """Chunks without stats (e.g. nested embedding column) must be
    conservatively kept for unrelated predicates."""
    src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    chunks = encode_dataframe(src, key_col="vec_id", num_partitions=2)
    pruned = prune_by_range(chunks, "vec_id", lower=0)
    assert pruned.count() == chunks.count()
    dec = decode_dataframe(pruned, src.schema)
    assert dec.count() == src.count()


def test_column_filter_pushes_down(spark, sf_dir, tmp_path):
    """The `column IN (...)` filter must reach the chunks-parquet scan."""
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "chunks")
    encode_dataframe(src, key_col="doc_id", num_partitions=2).write.parquet(out)
    stored = spark.read.parquet(out)
    plan = (
        select_columns(stored, ["lang"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and ("In(column" in plan or "EqualTo(column" in plan), plan


def test_prune_unknown_column_keeps_everything(spark, sf_dir):
    """A typo'd/absent column name must keep all chunks, never drop them."""
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = encode_dataframe(src, key_col="doc_id", num_partitions=2)
    pruned = prune_by_range(chunks, "no_such_column", lower=0)
    assert pruned.count() == chunks.count()


def test_prune_keeps_nan_rows_for_lower_bound(spark):
    """Spark orders NaN above every double: a NaN-bearing chunk must
    survive any lower-bound predicate (arrow min/max skip NaNs)."""
    import math

    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, float("nan"))], ["id", "value"]
    ).coalesce(1)
    chunks = encode_dataframe(df, key_col="id", num_partitions=1)
    pruned = prune_by_range(chunks, "value", lower=10.0)
    dec = decode_dataframe(pruned, df.schema)
    got = dec.filter(F.col("value") >= 10.0).collect()
    assert len(got) == 1 and math.isnan(got[0]["value"])


def test_encode_date_column_has_stats(spark):
    """date32 zone-map stats must not crash the encode (regression)."""
    import datetime

    df = spark.createDataFrame(
        [(0, datetime.date(2020, 1, 2)), (1, datetime.date(2021, 3, 4))],
        ["id", "d"],
    )
    chunks = encode_dataframe(df, key_col="id", num_partitions=1)
    row = {r["column"]: r for r in chunks.collect()}["d"]
    assert row["stat_min"] is not None and int(row["stat_min"]) <= int(row["stat_max"])
    dec = decode_dataframe(spark.createDataFrame(chunks.collect(), chunks.schema), df.schema)
    assert dec.count() == 2


def test_prune_string_range_lexicographic(spark, sf_dir, tmp_path):
    """numeric=False prunes on string min/max (lexicographic)."""
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").orderBy("source")
    d = str(tmp_path / "by_source")
    src.coalesce(1).write.parquet(d)
    clustered = spark.read.parquet(d).repartitionByRange(4, "source").sortWithinPartitions("source")
    chunks = encode_input_partitions(clustered, target_chunk_bytes=64 << 10).cache()
    total = chunks.select("partition_id", "chunk_seq").distinct().count()
    pruned = prune_by_range(chunks, "source", lower="src5", upper="src5", numeric=False)
    kept = pruned.select("partition_id", "chunk_seq").distinct().count()
    assert kept < total, (kept, total)
    dec = decode_dataframe(pruned, src.schema)
    got = dec.filter(F.col("source") == "src5").count()
    expected = src.filter(F.col("source") == "src5").count()
    assert got == expected > 0
    chunks.unpersist()


def test_decode_evolved_add_and_drop(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest
    from pyspark.sql import types as T

    from osm_pbf_parquet_spark.operators.encode import encode_dataframe
    from osm_pbf_parquet_spark.operators.pruning import decode_evolved

    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("gone"),
        F.concat(F.lit("t"), F.col("id")).alias("txt"),
    )
    chunks = encode_dataframe(df, key_col="k", num_partitions=2).cache()
    target = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("txt", T.StringType()),
            T.StructField("quality", T.DoubleType()),  # added
        ]  # 'gone' dropped
    )
    out = decode_evolved(chunks, df.schema, target)
    assert out.columns == ["k", "txt", "quality"]
    rows = out.collect()
    assert len(rows) == 500
    assert all(r["quality"] is None for r in rows)
    assert {r["k"] for r in rows} == set(range(500))
    # type change must be rejected, not silently cast
    bad = T.StructType([T.StructField("k", T.IntegerType())])
    with _pytest.raises(ValueError, match="type change"):
        decode_evolved(chunks, df.schema, bad)
    chunks.unpersist()


def test_sorted_encode_makes_zone_maps_selective(spark, sf_dir):
    """sort_cols clusters values per chunk, so a range predicate prunes
    most chunk groups even under hash partitioning — and the decoded
    rows are still exactly the filtered set."""
    import pyspark.sql.functions as F

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )
    from osm_pbf_parquet_spark.operators.pruning import prune_by_range

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    chunks = encode_dataframe(
        ev, key_col="event_id", num_partitions=2,
        target_chunk_bytes=2 << 10, sort_cols=["value"],
    ).cache()
    n_groups = chunks.select("partition_id", "chunk_seq").distinct().count()
    assert n_groups >= 16, "fixture must produce many chunk groups"
    lo, hi = 10.0, 20.0
    pruned = prune_by_range(chunks, "value", lower=lo, upper=hi)
    kept = pruned.select("partition_id", "chunk_seq").distinct().count()
    assert kept < n_groups / 2, f"zone maps did not bite: {kept}/{n_groups}"
    dec = decode_dataframe(pruned, ev.schema).filter(
        (F.col("value") >= lo) & (F.col("value") <= hi)
    )
    expected = ev.filter((F.col("value") >= lo) & (F.col("value") <= hi))
    assert sorted(r["event_id"] for r in dec.collect()) == sorted(
        r["event_id"] for r in expected.collect()
    )
    chunks.unpersist()


def test_read_encoded_where_on_timestamp_counts_exactly(spark, pages_path, tmp_path):
    """`where` on a timestamp column, with datetime or int (µs since the
    epoch) literals: the zone maps compare the stored µs ints and the
    worker row filter compares in the column's own type, so a warc_ts
    window counts exactly — before, a datetime literal failed in the
    zone map (CAST_INVALID_INPUT) and an int literal in the row filter
    (no timestamp[us] vs int64 comparison)."""
    import datetime

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osm_pbf_parquet_spark.plans.manifest import encode_job, read_encoded

    ts = np.sort(pq.read_table(pages_path).column("warc_ts").cast(pa.int64()).to_numpy())
    lo, hi = int(ts[len(ts) * 2 // 5]), int(ts[len(ts) * 9 // 20])
    expected = int(((ts >= lo) & (ts < hi)).sum())
    assert 0 < expected < len(ts)

    src = spark.read.parquet(pages_path)
    out = str(tmp_path / "store")
    encode_job(spark, src, out, key_col="url", num_partitions=4)

    def as_dt(us: int) -> datetime.datetime:
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)

    def count(where) -> int:
        return read_encoded(spark, out, src.schema, where=where).count()

    assert count([("warc_ts", ">=", as_dt(lo)), ("warc_ts", "<", as_dt(hi))]) == expected
    assert count([f"warc_ts >= {lo}", f"warc_ts < {hi}"]) == expected
    assert count([("warc_ts", "==", as_dt(lo))]) == int((ts == lo).sum())
    # a window past the data: the zone maps drop every group, nothing decodes
    assert count([("warc_ts", ">", as_dt(int(ts[-1])))]) == 0
