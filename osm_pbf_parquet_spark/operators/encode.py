"""Distributed encode: DataFrame → encoded column-chunk rows.

Spark-first re-expression of the reference's scan→demux→batch→sink
pipeline (reference src/pbf.rs:45-91 task-per-blob fan-out,
src/sink.rs:100-106 size-driven batch cut, src/sink.rs:145-169
partitioned layout):

  df.withColumn(pid, pmod(xxhash64(key), N))      # deterministic demux
    .repartition(T, pid)                          # one shuffle, AQE-safe
    .mapInArrow(encode_fn, CHUNKS_ARROW_SCHEMA)   # vectorized, JVM↔Arrow

The unit of routing is the partition id (the reference's blob); a task
encodes one or more pids (T ≤ N, sized by bytes in config.encode_width);
the unit of output is the (partition_id, chunk_seq) chunk group, cut when
accumulated Arrow bytes reach `target_chunk_bytes` — the reference's
`finish_batch` / 500 MB file-rotation twins (src/sink.rs:75-94).

Scale notes (1000-executor / 100 TB): one shuffle total, no driver
collect, per-task memory bounded by target_chunk_bytes × columns, all
value work inside numpy/pyarrow kernels. Skewed keys are pre-salted by
operators/partitioning.py before the repartition.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    decode_width,
    derive_chunk_target,
    derive_num_partitions,
    encode_width,
    plan_bytes,
)
from ..functions.codecs import decode_array, encode_array

PID_COL = "__pid__"
DEFAULT_TARGET_CHUNK_BYTES = 32 << 20

CHUNKS_ARROW_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int64()),
        ("chunk_seq", pa.int64()),
        ("col_idx", pa.int32()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("params", pa.binary()),
        ("payload", pa.binary()),
        ("n_rows", pa.int64()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("checksum", pa.string()),
        ("stat_min", pa.string()),
        ("stat_max", pa.string()),
        # per-chunk Bloom filter of a key column (functions/bloom.py):
        # point-lookup pruning from metadata alone; null when not built
        ("stat_bloom", pa.binary()),
    ]
)

CHUNKS_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.LongType()),
        T.StructField("chunk_seq", T.LongType()),
        T.StructField("col_idx", T.IntegerType()),
        T.StructField("column", T.StringType()),
        T.StructField("codec", T.StringType()),
        T.StructField("params", T.BinaryType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("bytes_out", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("stat_min", T.StringType()),
        T.StructField("stat_max", T.StringType()),
        T.StructField("stat_bloom", T.BinaryType()),
    ]
)

#: chunk rows as persisted by the store (run_id stamped at commit time).
#: Store reads use THIS schema explicitly: schema inference over a dir
#: mixing files written before/after a metadata-column addition (e.g.
#: stat_bloom) could infer the old file's schema and silently drop the
#: new column (r3 advice) — an explicit schema reads missing columns
#: as NULLs instead, which every consumer already treats as "no stat".
CHUNKS_STORE_SPARK_SCHEMA = T.StructType(
    list(CHUNKS_SPARK_SCHEMA.fields) + [T.StructField("run_id", T.StringType())]
)


def with_partition_id(
    df: DataFrame, key_col: str, num_partitions: int, pid_expr=None
) -> DataFrame:
    """Deterministic partition id — the engine's demux key (reference
    src/pbf.rs:175-191 routes per element type; we route per url-hash).

    `pid_expr` overrides with a salted expression from partitioning.py.
    """
    if pid_expr is None:
        pid_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_partitions))
    return df.withColumn(PID_COL, pid_expr.cast("long"))


def _chunk_stats(col) -> tuple[str | None, str | None]:
    """Zone-map min/max for prunable types, JSON-encoded as strings
    (numeric/timestamp → repr of int/float µs view; string → raw).
    Nested/binary columns and all-null chunks carry no stats."""
    import pyarrow.compute as pc

    t = col.type
    prunable = (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
    )
    if not prunable or col.null_count == len(col) or len(col) == 0:
        return None, None
    mm = pc.min_max(col)
    if mm["min"].as_py() is None:  # e.g. all-NaN float chunk
        return None, None
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        # temporal scalars expose the raw int (µs/ms/days) as .value
        return str(mm["min"].value), str(mm["max"].value)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_floating(t) and pc.any(pc.is_nan(col)).as_py():
        # Spark orders NaN above every double, so a NaN-bearing chunk
        # must survive any lower-bound predicate
        hi = float("inf")
    return str(lo), str(hi)


def temporal_literal(val, t: pa.DataType) -> pa.Scalar:
    """A filter literal as timestamp/date type ``t``, the form both the
    zone maps (``.value``: the raw int _chunk_stats stores) and the
    worker row filter compare in. An int is ``t``'s raw unit (µs since
    the epoch for Spark timestamps, days for dates); a datetime, date
    or ISO string is cast (a naive datetime reads as UTC)."""
    if isinstance(val, int):
        return pa.scalar(val, type=t)
    return pa.scalar(val).cast(t)


def _encode_group(
    pid: int,
    seq: int,
    tables: list[pa.Table],
    codecs: dict[str, str] | None,
    zstd_level: int = 3,
    bloom_cols: tuple[str, ...] = (),
) -> pa.RecordBatch:
    tbl = pa.concat_tables(tables)  # zero-copy: columns stay chunked
    n = tbl.num_rows
    rows = {k: [] for k in CHUNKS_ARROW_SCHEMA.names}
    for idx, name in enumerate(tbl.column_names):
        # combine one column at a time, not the whole table up front:
        # the group's peak memory is its input plus ONE combined column
        col = tbl.column(name)
        if col.num_chunks > 1:
            col = pa.chunked_array([col.combine_chunks()], type=col.type)
        codec_name, params, payload = encode_array(
            col, (codecs or {}).get(name), zstd_level
        )
        rows["partition_id"].append(pid)
        rows["chunk_seq"].append(seq)
        rows["col_idx"].append(idx)
        rows["column"].append(name)
        rows["codec"].append(codec_name)
        rows["params"].append(params)
        rows["payload"].append(payload)
        rows["n_rows"].append(n)
        rows["bytes_in"].append(col.nbytes)
        rows["bytes_out"].append(len(payload) + len(params))
        rows["checksum"].append(f"{zlib.crc32(payload):08x}")
        lo, hi = _chunk_stats(col)  # pc.min_max accepts chunked columns
        rows["stat_min"].append(lo)
        rows["stat_max"].append(hi)
        if name in bloom_cols:
            from ..functions.bloom import bloom_build

            rows["stat_bloom"].append(bloom_build(col))
        else:
            rows["stat_bloom"].append(None)
    return pa.record_batch(
        [pa.array(rows[f.name], type=f.type) for f in CHUNKS_ARROW_SCHEMA],
        schema=CHUNKS_ARROW_SCHEMA,
    )


def _as_sent(tbl: pa.Table) -> pa.Table:
    """``tbl`` as an Arrow IPC stream carries it, the form the JVM sends
    batches in: no validity bitmap on a null-free (child) array.
    Table.filter adds all-valid bitmaps, and bytes_in (nbytes) must not
    depend on whether a pid shared its input batch with another pid."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as writer:
        writer.write_table(tbl)
    return pa.ipc.open_stream(sink.getvalue()).read_all()


def make_encode_fn(
    codecs: dict[str, str] | None,
    target_chunk_bytes: int,
    zstd_level: int = 3,
    progress=None,
    bloom_cols: tuple[str, ...] = (),
):
    """Arrow-batch iterator transform for mapInArrow.

    A task may receive several partition_ids (a light encode sizes its
    tasks by bytes, and pid hashes collide); groups are accumulated
    separately and cut independently at the byte target.

    `progress` is an optional pyspark Accumulator of rows encoded —
    the reference's global element counter (src/util.rs:17-18,
    bumped at src/pbf.rs:192), surfaced the idiomatic Spark way.
    """

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        acc: dict[int, dict] = {}

        def feed(pid: int, sub: pa.Table):
            """Accumulate toward the byte target, slicing incoming
            tables so a group never overshoots by more than one row —
            the reference's batch cut (src/sink.rs:100-106) at exact
            granularity rather than arrival-batch granularity."""
            st = acc.setdefault(pid, {"tables": [], "bytes": 0, "seq": 0})
            while sub.num_rows:
                room = target_chunk_bytes - st["bytes"]
                if sub.nbytes <= room:
                    st["tables"].append(sub)
                    st["bytes"] += sub.nbytes
                    break
                take = max(1, int(sub.num_rows * room / sub.nbytes))
                st["tables"].append(sub.slice(0, take))
                st["bytes"] += target_chunk_bytes  # force the cut below
                sub = sub.slice(take)
                if st["bytes"] >= target_chunk_bytes:
                    yield _encode_group(pid, st["seq"], st["tables"], codecs, zstd_level, bloom_cols)
                    st["tables"], st["bytes"] = [], 0
                    st["seq"] += 1
            if st["bytes"] >= target_chunk_bytes and st["tables"]:
                yield _encode_group(pid, st["seq"], st["tables"], codecs, zstd_level, bloom_cols)
                st["tables"], st["bytes"] = [], 0
                st["seq"] += 1

        def route(batch: pa.RecordBatch):
            tbl = pa.Table.from_batches([batch])
            pid_arr = tbl.column(PID_COL)
            # layout-helper columns (pid routing, z-order sort value)
            # are metadata, not data — never encoded
            helpers = [
                c for c in (PID_COL, "__zval__") if c in tbl.column_names
            ]
            data = tbl.drop_columns(helpers)
            if progress is not None:
                progress.add(batch.num_rows)
            uniq = pc.unique(pid_arr)
            for pid_scalar in uniq:
                pid = pid_scalar.as_py()
                # fast path: single-pid batch — no filter scan needed
                sub = data if len(uniq) == 1 else _as_sent(
                    data.filter(pc.equal(pid_arr, pid_scalar))
                )
                yield from feed(pid, sub)

        for batch in batches:
            yield from route(batch)
        # a multi-pid batch was copied into its pids' groups by the
        # filter: drop the last one before the final flush
        batch = None
        for pid, st in acc.items():
            if st["tables"]:
                yield _encode_group(pid, st["seq"], st["tables"], codecs, zstd_level, bloom_cols)

    return encode_fn


def encode_dataframe(
    df: DataFrame,
    key_col: str = "url",
    num_partitions: int | None = None,
    codecs: dict[str, str] | None = None,
    target_chunk_bytes: int | None = None,
    pid_expr=None,
    zstd_level: int = 3,
    progress=None,
    sort_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every column of df into chunk rows. One shuffle.

    bloom_cols builds a per-chunk Bloom filter (stat_bloom) for the
    named columns — point-lookup pruning via pruning.prune_by_point.

    If df already carries PID_COL (e.g. from partitioning.salted_pids)
    it is used as-is; otherwise pid = pmod(xxhash64(key_col), N).

    num_partitions is the number of pid VALUES (None derives ≥ 8×
    cores, config.derive_num_partitions). It fixes which rows share a
    chunk group, not how many tasks encode them: a light input runs
    on about one task per chunk target of bytes (config.encode_width).
    Pin it explicitly when pids must stay stable across
    differently-sized clusters (resumable stores record it in
    store_meta and encode_job reuses that).

    sort_cols clusters rows WITHIN each engine partition before the
    chunk cut (sortWithinPartitions — no extra shuffle, just a per-task
    sort merged into the exchange's read side). Sorted input makes the
    per-chunk zone maps selective even under hash partitioning (each
    chunk covers a narrow value range instead of the full span) and
    typically improves delta/RLE/dict ratios — the lightweight cousin
    of Z-ordering.
    """
    if target_chunk_bytes is None:
        target_chunk_bytes = derive_chunk_target(df.sparkSession)
    if num_partitions is None:
        num_partitions = derive_num_partitions(df.sparkSession)
    if PID_COL in df.columns:
        with_pid = df
    else:
        with_pid = with_partition_id(df, key_col, num_partitions, pid_expr)
    tasks = encode_width(df.sparkSession, plan_bytes(df), num_partitions,
                         target_chunk_bytes)
    if tasks is None:
        routed = with_pid.repartition(PID_COL)
    else:
        routed = with_pid.repartition(tasks, PID_COL)
    if sort_cols:
        routed = routed.sortWithinPartitions(PID_COL, *sort_cols)
    return routed.mapInArrow(
        make_encode_fn(codecs, target_chunk_bytes, zstd_level, progress,
                       tuple(bloom_cols or ())),
        CHUNKS_SPARK_SCHEMA,
    )


def encode_input_partitions(
    df: DataFrame,
    codecs: dict[str, str] | None = None,
    target_chunk_bytes: int | None = None,
    zstd_level: int = 3,
    progress=None,
    bloom_cols: list[str] | None = None,
) -> DataFrame:
    """Shuffle-free encode: each INPUT partition is the engine
    partition (pid = spark_partition_id) — the exact twin of the
    reference's task-per-blob pipeline (src/pbf.rs:64-89: the blob is
    both the scan split and the unit of work; no global exchange).

    Use when the source layout is already well-sized (an Iceberg/
    parquet table's file splits at 100 TB): zero shuffle, zero extra
    memory, perfect linear scaling. The pid is deterministic for a
    fixed snapshot + fixed read configuration (Spark derives file
    splits deterministically), so manifest/resume semantics still
    hold; prefer url-hash mode when the input layout is unknown or
    skewed, or when stable pids across *different* read configs are
    required.
    """
    if target_chunk_bytes is None:
        target_chunk_bytes = derive_chunk_target(df.sparkSession)
    with_pid = df.withColumn(PID_COL, F.spark_partition_id().cast("long"))
    return with_pid.mapInArrow(
        make_encode_fn(codecs, target_chunk_bytes, zstd_level, progress,
                       tuple(bloom_cols or ())),
        CHUNKS_SPARK_SCHEMA,
    )


def verify_checksum(payload: bytes, checksum: str | None, ctx: str = "") -> None:
    """Fail loudly on chunk-store corruption: the crc32 written at
    encode time (src/sink.rs analog: parquet page checksums) must match
    before any payload is decoded."""
    if checksum is not None and f"{zlib.crc32(payload):08x}" != checksum:
        raise ValueError(
            f"chunk payload checksum mismatch {ctx}: stored {checksum}, "
            f"computed {zlib.crc32(payload):08x} — chunk store is corrupt"
        )


#: row_filter comparison ops (SQL WHERE semantics; null → not selected)
_FILTER_OPS = {
    "==": "equal",
    "!=": "not_equal",
    "<": "less",
    "<=": "less_equal",
    ">": "greater",
    ">=": "greater_equal",
}


def make_decode_fn(field_names: list[str], row_filter=None):
    """Inverse transform: chunk rows → original-schema record batches.

    row_filter — optional list of (column, op, literal) conjuncts with
    op in ==/!=/</<=/>/>= — is applied INSIDE the Arrow worker:
    Catalyst cannot push predicates through mapInArrow, so without
    this a selective scan decodes and ships every row across the
    Python→JVM boundary just for Spark to drop them. With it, the
    filter column(s) decode FIRST; a group whose mask is empty is
    skipped before any other column is decoded, and surviving groups
    ship only matching rows. Null comparisons select nothing (SQL
    WHERE). The caller should still re-apply the exact predicate
    DataFrame-side — this is a transfer/CPU optimization, never the
    semantic gate (same contract as zone-map/Bloom pruning).

    The chunk-group key includes run_id (when present) so chunks from
    different committed runs/snapshots sharing a partition_id — the
    normal multi-epoch streaming store — never collide.

    Groups are decoded and yielded AS SOON as all len(field_names)
    column cells have arrived, so steady-state task memory is bounded
    by the in-flight incomplete groups (cells of one chunk group are
    written adjacently, so they normally arrive adjacently), not by
    the whole task's input — the decode-side twin of the encode path's
    target_chunk_bytes bound. Every payload's crc32 is verified against
    the stored checksum before decode.
    """
    expected = len(field_names)
    if row_filter:
        for col, op, _ in row_filter:
            if op not in _FILTER_OPS:
                raise ValueError(f"row_filter op {op!r} not in {list(_FILTER_OPS)}")
            if col not in field_names:
                raise ValueError(
                    f"row_filter column {col!r} not in decoded schema {field_names}"
                )

    def _emit(key: tuple, by_idx: dict[int, tuple]) -> pa.RecordBatch | None:
        import pyarrow.compute as pc

        n_rows = {e[3] for e in by_idx.values()}
        if len(n_rows) != 1:
            raise ValueError(f"inconsistent n_rows {n_rows} in chunk group {key}")
        # the cells' column names (in col_idx order) must BE field_names:
        # catches a narrowed-schema decode fed an unfiltered chunk store
        # before it could mislabel an array
        got_names = [by_idx[idx][4] for idx in sorted(by_idx)]
        if got_names != field_names:
            raise ValueError(
                f"chunk group {key} columns {got_names} != expected "
                f"{field_names} — filter the chunk feed to match the schema "
                "(pruning.decode_columns does both together)"
            )
        decoded: dict[int, pa.Array] = {}
        if row_filter:
            name_to_idx = {by_idx[idx][4]: idx for idx in by_idx}
            mask = None
            for col, op, val in row_filter:
                idx = name_to_idx[col]
                if idx not in decoded:
                    decoded[idx] = decode_array(*by_idx[idx][:3])
                t = decoded[idx].type
                if pa.types.is_timestamp(t) or pa.types.is_date(t):
                    # pyarrow has no timestamp-vs-int64 (or naive-vs-
                    # zoned) comparison: compare in the column's type
                    val = temporal_literal(val, t)
                m = getattr(pc, _FILTER_OPS[op])(decoded[idx], val)
                mask = m if mask is None else pc.and_kleene(mask, m)
            mask = pc.fill_null(mask, False)  # SQL WHERE: null → drop
            if not pc.any(mask).as_py():
                return None  # whole group filtered: nothing else decodes
        arrays = []
        for idx in sorted(by_idx):
            arr = decoded.get(idx)
            if arr is None:
                arr = decode_array(*by_idx[idx][:3])
            arrays.append(arr)
        rb = pa.record_batch(arrays, names=field_names)
        return rb.filter(mask) if row_filter else rb

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        groups: dict[tuple, dict[int, tuple]] = {}
        emitted: set[tuple] = set()  # tiny: one tuple per chunk group
        for batch in batches:
            cols = {n: batch.column(n) for n in batch.schema.names}
            run_ids = cols.get("run_id")
            checksums = cols.get("checksum")
            for i in range(batch.num_rows):
                key = (
                    run_ids[i].as_py() if run_ids is not None else "",
                    cols["partition_id"][i].as_py(),
                    cols["chunk_seq"][i].as_py(),
                )
                if key in emitted:
                    raise ValueError(
                        f"chunk cell arrived for already-decoded group {key} "
                        "— chunk store has colliding runs; decode via "
                        "plans.manifest.read_encoded"
                    )
                payload = cols["payload"][i].as_py()
                if checksums is not None:
                    verify_checksum(
                        payload, checksums[i].as_py(), f"group {key}"
                    )
                entry = (
                    cols["codec"][i].as_py(),
                    cols["params"][i].as_py(),
                    payload,
                    cols["n_rows"][i].as_py(),
                    cols["column"][i].as_py(),
                )
                by_idx = groups.setdefault(key, {})
                prev = by_idx.setdefault(cols["col_idx"][i].as_py(), entry)
                if prev is not entry:
                    raise ValueError(
                        f"duplicate chunk cell for group {key} col_idx "
                        f"{cols['col_idx'][i].as_py()} — chunk store has "
                        "colliding runs; decode via plans.manifest.read_encoded"
                    )
                if len(by_idx) == expected:
                    rb = _emit(key, groups.pop(key))
                    emitted.add(key)
                    if rb is not None:
                        yield rb
        for key in sorted(groups):
            # leftovers can only be groups with missing cells — a
            # column-filtered feed must go through pruning.decode_columns
            # (which passes the matching narrowed field_names)
            raise ValueError(
                f"incomplete chunk group {key}: "
                f"{len(groups[key])}/{expected} column cells present"
            )

    return decode_fn


def decode_dataframe(
    chunks_df: DataFrame,
    schema: T.StructType,
    num_partitions: int | None = None,
    row_filter=None,
) -> DataFrame:
    """Decode chunk rows back to the source schema, bit-identically.

    Chunks of one partition_id are co-located by a repartition on
    partition_id so each task can reassemble complete row groups; the
    repartition's width is config.decode_width unless num_partitions
    pins it.

    row_filter (see make_decode_fn) pushes simple conjuncts inside the
    Arrow worker: fully-filtered chunk groups skip decoding their
    remaining columns and non-matching rows never cross the
    Python→JVM boundary. Re-apply the exact predicate on the result —
    the worker-side filter is an optimization, not the semantic gate.
    """
    # keyed by (run_id, partition_id, chunk_seq): cells of one group
    # always share all three, and the finer key spreads few-pid /
    # many-seq stores that a pid-only key would skew
    if num_partitions is None:
        n = decode_width(chunks_df.sparkSession, plan_bytes(chunks_df))
    else:
        n = int(num_partitions)
    group_cols = [
        c for c in ("run_id", "partition_id", "chunk_seq")
        if c in chunks_df.columns
    ]
    co_located = chunks_df.repartition(n, *group_cols)
    return co_located.mapInArrow(
        make_decode_fn([f.name for f in schema], row_filter=row_filter), schema
    )
