"""Regressions from the round-1 code review: multi-run chunk-group
collisions, duplicate-codec manifest keys, short-text shingles, and
salted-pid passthrough on the resumable path."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_multi_snapshot_store_decodes_all_rows(spark, pages_path, tmp_path):
    """Two committed snapshots share partition_ids in one store; decode
    must keep their chunk groups apart (was: silent row loss)."""
    from osm_pbf_parquet_spark.plans.manifest import encode_job, read_encoded

    out = str(tmp_path / "multi_snap")
    src = spark.read.parquet(pages_path)
    half1 = src.filter(F.xxhash64("url") % 2 == 0)
    half2 = src.filter(F.xxhash64("url") % 2 != 0)
    encode_job(spark, half1, out, key_col="url", num_partitions=4,
               snapshot_id="snap-a")
    encode_job(spark, half2, out, key_col="url", num_partitions=4,
               snapshot_id="snap-b")
    dec = read_encoded(spark, out, src.schema)
    assert dec.count() == src.count()
    joined = src.alias("a").join(dec.alias("b"), "url")
    cols = [c for c in src.columns if c != "url"]
    ok = joined.filter(F.expr(" AND ".join(f"a.{c} <=> b.{c}" for c in cols))).count()
    assert ok == src.count()


def test_summarize_chunks_mixed_codecs_last_wins(spark):
    """A partition whose chunks picked different codecs for one column
    must commit its last chunk's codec, once per column."""
    import pyarrow as pa

    from osm_pbf_parquet_spark.plans.manifest import summarize_written

    rows = [
        # (pid, seq, col_idx, column, codec, n_rows, bytes_in, bytes_out, checksum)
        (0, 1, 0, "text", "str_zstd", 12, 120, 30, "bb"),
        (0, 0, 0, "text", "str_fsst", 10, 100, 40, "aa"),
        (0, 0, 1, "id", "bitpack", 10, 80, 10, "cc"),
        (0, 1, 1, "id", "bitpack", 12, 96, 12, "dd"),
    ]
    names = ["partition_id", "chunk_seq", "col_idx", "column", "codec",
             "n_rows", "bytes_in", "bytes_out", "checksum"]
    written = pa.Table.from_pylist([dict(zip(names, r)) for r in rows])
    out = summarize_written(written)
    assert len(out) == 1
    r = out[0]
    assert r["codec_map"] == {"text": "str_zstd", "id": "bitpack"}
    assert r["n_rows"] == 22 and r["n_chunks"] == 2
    assert r["bytes_in"] == 396 and r["bytes_out"] == 92


def test_short_text_shingles_empty(spark):
    """Texts shorter than k (incl. empty/null) produce NO shingles —
    Spark's sequence(1, 0) counts down, so the guard matters; without
    it every short doc shares one spurious shingle and LSH blows up n²."""
    from osm_pbf_parquet_spark.operators.dedup import (
        _char_shingles,
        minhash_lsh_pairs,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, None), (2, "abc"), (3, "abcd"), (4, "")],
        ["doc_id", "text"],
    )
    sh = df.select("doc_id", _char_shingles("text", 4).alias("sh")).collect()
    by_id = {r["doc_id"]: r["sh"] for r in sh}
    assert by_id[0] == [] and by_id[1] == [] and by_id[2] == []
    assert by_id[3] == ["abcd"]
    # empty/null docs must NOT pair with each other
    pairs = minhash_lsh_pairs(df).collect()
    flat = {x for r in pairs for x in (r["doc_a"], r["doc_b"])}
    assert 0 not in flat and 1 not in flat and 4 not in flat


def test_encode_job_respects_salted_pids(spark, pages_path, tmp_path):
    """salted_pids must survive through the resumable path (was:
    silently recomputed as plain url-hash)."""
    from osm_pbf_parquet_spark.operators.encode import PID_COL
    from osm_pbf_parquet_spark.operators.partitioning import salted_pids
    from osm_pbf_parquet_spark.plans.manifest import encode_job, read_manifest

    src = spark.read.parquet(pages_path)
    salted = salted_pids(src, num_partitions=8)
    expected_pids = {r[0] for r in salted.select(PID_COL).distinct().collect()}
    out = str(tmp_path / "salted")
    stats = encode_job(spark, salted, out, key_col="url", num_partitions=8)
    got_pids = {r[0] for r in read_manifest(spark, out).select("partition_id").collect()}
    assert got_pids == expected_pids
    assert stats["rows"] == src.count()


def test_decode_detects_corrupt_payload(spark):
    """crc32 stored at encode time is verified before decode: a
    flipped payload byte must fail the job, not silently decode."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )
    chunks = encode_dataframe(df, key_col="k", num_partitions=2).cache()
    corrupt = chunks.withColumn(
        "payload",
        F.when(
            F.col("column") == "v",
            F.concat(F.expr("substring(payload, 1, length(payload) - 1)"),
                     F.lit(b"\x00")),
        ).otherwise(F.col("payload")),
    )
    with _pytest.raises(Exception, match="checksum mismatch"):
        decode_dataframe(corrupt, df.schema).collect()
    chunks.unpersist()


def test_decode_rejects_incomplete_group(spark):
    """A chunk feed missing a column's cells (without the matching
    narrowed schema) must raise, not emit a misaligned batch."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    chunks = encode_dataframe(df, key_col="k", num_partitions=2)
    only_k = chunks.filter(F.col("column") == "k")
    with _pytest.raises(Exception, match="incomplete chunk group"):
        decode_dataframe(only_k, df.schema).collect()


def test_summarize_chunks_column_filtered_rows(spark):
    """n_rows must come from the chunk-group grain, not col_idx == 0:
    a column-filtered feed yields the true count instead of 0."""
    import pyspark.sql.functions as F

    import pyarrow.compute as pc

    from osm_pbf_parquet_spark.operators.encode import encode_dataframe
    from osm_pbf_parquet_spark.plans.manifest import summarize_written

    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    chunks = encode_dataframe(df, key_col="k", num_partitions=2).toArrow()
    full = sum(r["n_rows"] for r in summarize_written(chunks))
    # drop the col_idx==0 rows entirely: count must be unchanged
    filtered = chunks.filter(pc.not_equal(chunks["col_idx"], 0))
    part = sum(r["n_rows"] for r in summarize_written(filtered))
    assert full == 500 and part == 500


def test_decode_rejects_colliding_runs_even_when_adjacent(spark):
    """A chunk store holding two runs WITHOUT run_id that share
    (partition_id, chunk_seq) must fail decode even when one run's
    cells complete a group before the other's arrive (review r2: the
    eager-emit path silently returned duplicate rows)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    chunks = encode_dataframe(df, key_col="k", num_partitions=1)
    doubled = chunks.union(chunks).coalesce(1)
    with _pytest.raises(Exception, match="colliding runs"):
        decode_dataframe(doubled, df.schema, num_partitions=1).collect()


def test_decode_narrowed_schema_needs_filtered_feed(spark):
    """A narrowed schema over an UNFILTERED chunk feed must raise (not
    mislabel whichever column completes a group first)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from pyspark.sql import types as T

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    chunks = encode_dataframe(df, key_col="k", num_partitions=1)
    narrow = T.StructType([df.schema["v"]])
    with _pytest.raises(Exception, match="columns|colliding"):
        decode_dataframe(chunks, narrow, num_partitions=1).collect()


def test_read_chunks_tolerates_pre_bloom_files(spark, tmp_path):
    """r3 advice: chunk dirs can mix files written before a metadata
    column existed (e.g. stat_bloom); schema inference could pick the
    old file's schema and drop the column. read_chunks reads with the
    explicit store schema: absent columns come back as NULLs."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.plans.manifest import (
        chunks_dir,
        encode_job,
        read_chunks,
        read_encoded,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    out = str(tmp_path / "store")
    encode_job(spark, df, out, key_col="k", num_partitions=2)
    # simulate a pre-stat_bloom store file: rewrite one chunk file
    # without the stat_bloom column
    import glob

    import pyarrow.parquet as pq

    f = sorted(glob.glob(f"{chunks_dir(out)}/*.parquet"))[0]
    tbl = pq.read_table(f)
    pq.write_table(tbl.drop_columns(["stat_bloom"]), f)
    # drop the Hadoop checksum sidecar invalidated by the rewrite
    import os

    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    chunks = read_chunks(spark, out)
    assert "stat_bloom" in chunks.columns
    assert chunks.filter(F.col("stat_bloom").isNotNull()).count() == 0
    dec = read_encoded(spark, out, df.schema)
    assert dec.count() == 100


# --- round-4 review findings -------------------------------------------------


def test_empty_primitive_block_yields_empty_table():
    """A spec-legal PrimitiveBlock with zero elements must parse to an
    empty unified-schema table, not crash concat_arrays (r4 review)."""
    from osm_pbf_parquet_spark.sources.pbf import (
        parse_primitive_block, unified_osm_schema,
    )

    t = parse_primitive_block(b"")
    assert t.num_rows == 0
    assert t.schema.equals(unified_osm_schema())


def test_scalar_delta_pack_wraps_like_numpy():
    """<64-element refs take the scalar pack path; a delta overflowing
    int64 must wrap exactly like the numpy branch's int64 diff
    (r4 review: silent corruption on extreme-but-valid int64 refs)."""
    import numpy as np

    from osm_pbf_parquet_spark.sources.pbf import (
        _iter_fields, _packed_delta_field,
    )

    def rt(buf):
        (f, w, val), = list(_iter_fields(buf))
        b = np.frombuffer(val, dtype=np.uint8)
        ends = np.nonzero((b & 0x80) == 0)[0]
        starts = np.concatenate(([0], ends[:-1] + 1))
        pos = np.arange(b.size) - np.repeat(starts, ends - starts + 1)
        with np.errstate(over="ignore"):
            limbs = (b & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64)
            u = np.add.reduceat(limbs, starts)
        s = (u >> np.uint64(1)).astype(np.int64) ^ -(
            u & np.uint64(1)
        ).astype(np.int64)
        with np.errstate(over="ignore"):
            return np.cumsum(s, dtype=np.int64).tolist()

    vals = [-(2**62) - 1, 2**62 + 5, 17]
    assert rt(_packed_delta_field(8, vals)) == vals
    big = list(range(70))
    big[1], big[2] = vals[0], vals[1]
    assert rt(_packed_delta_field(8, big)) == big


def test_varint_spanning_message_boundary_raises():
    """A varint whose continuation bytes leak across a message boundary
    must fail loudly, not silently merge into the next message's
    values (r4 review: the old check was dead code)."""
    import pytest

    from osm_pbf_parquet_spark.sources.pbf import _unpack_segments

    with pytest.raises(ValueError, match="spans a message boundary"):
        _unpack_segments([b"\x01\x80", b"\x02"])
    # legit multi-byte varints inside one buffer still decode
    c, v = _unpack_segments([b"\x01\x80\x02", b"\x03"])
    assert c.tolist() == [2, 1] and v.tolist() == [1, 256, 3]


def test_legacy_store_without_meta_requires_explicit_partitions(
    spark, pages_path, tmp_path
):
    """A store with commits but no store_meta.json (pre-v2) must refuse
    a derived-default resume — deriving a fresh num_partitions would
    re-route pids AND record the wrong contract (r4 review)."""
    import os

    import pytest

    from osm_pbf_parquet_spark.plans.manifest import (
        STORE_META_FILE, encode_job,
    )

    out = str(tmp_path / "legacy")
    src = spark.read.parquet(pages_path).limit(50)
    encode_job(spark, src, out, key_col="url", num_partitions=4)
    os.remove(os.path.join(out, STORE_META_FILE))  # simulate pre-v2 store
    with pytest.raises(ValueError, match="pre-v"):
        encode_job(spark, src, out, key_col="url")
    # explicit value records the contract and resumes cleanly
    stats = encode_job(spark, src, out, key_col="url", num_partitions=4)
    assert stats["partitions"] == 0  # everything already committed


def test_merge_stream_resolves_partitions_from_store_meta(
    spark, pages_path, tmp_path
):
    """Streaming writers must inherit the store's recorded routing by
    default; a hardcoded 32 rejects every epoch of a store built with
    the derived default (r4 review)."""
    import inspect

    from osm_pbf_parquet_spark.streaming.encode_stream import (
        encode_stream, merge_stream,
    )

    assert inspect.signature(merge_stream).parameters[
        "num_partitions"
    ].default is None
    assert inspect.signature(encode_stream).parameters[
        "num_partitions"
    ].default is None


def test_ivf_probe_missing_manifest_is_clear_error(spark, tmp_path):
    """Centroids sidecar without a committed store must raise a clear
    FileNotFoundError, not NoneType.filter (r4 review)."""
    import json

    import pytest

    from osm_pbf_parquet_spark.functions.similarity import ivf_probe_chunks

    out = str(tmp_path / "ivf_orphan")
    import os

    os.makedirs(out)
    with open(os.path.join(out, "ivf_centroids.json"), "w") as f:
        json.dump([[1.0, 0.0], [0.0, 1.0]], f)
    with pytest.raises(FileNotFoundError, match="no committed manifest"):
        ivf_probe_chunks(spark, out, [1.0, 0.0], n_probe=1)


def test_planted_dups_are_disjoint_real_pairs():
    """tools/gen_scale_data.py plants exact-dup pairs: every pair must
    copy a DIFFERENT doc and none may overwrite an earlier pair, so the
    realized dup rate is the intended one (10 docs, 5 pairs: the old
    draw-and-copy loop self-copied or overwrote almost surely)."""
    import importlib.util
    import os

    import numpy as np

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "gen_scale_data.py")
    spec = importlib.util.spec_from_file_location("gen_scale_data", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    for seed in range(20):
        texts = [f"doc {i}" for i in range(10)]
        pairs = gen.plant_exact_dups(texts, 5, np.random.default_rng(seed))
        assert len(pairs) == 5
        assert all(a != b and texts[a] == texts[b] for a, b in pairs)
        assert len({i for p in pairs for i in p}) == 10
        assert len(set(texts)) == 5
