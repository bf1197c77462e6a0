"""Chunk pruning: zone-map scan skipping + selective-column decode.

The encoded chunk store is itself a columnar table, so it supports the
two classic columnar read optimizations:

* **column pruning** — decode only the requested columns' chunk rows
  (the payload bytes of every other column are never read: the filter
  `column IN (...)` pushes down to the chunks-parquet scan, and parquet
  row groups lazily skip the big `payload` values that don't match);
* **zone-map predicate pruning** — each chunk row carries min/max
  statistics (encode.py `_chunk_stats`); a range predicate keeps only
  chunk GROUPS whose range intersects, then the caller re-applies the
  exact predicate on the decoded rows.

Zone maps only bite when the data is clustered on the filter column
(e.g. input-partition mode over a time-sorted source). With url-hash
partitioning every chunk spans the full value range — that trade-off
is inherent to any columnar store, not this engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GROUP_KEYS = ["partition_id", "chunk_seq"]


def _group_keys(chunks_df: DataFrame) -> list[str]:
    return (["run_id"] if "run_id" in chunks_df.columns else []) + GROUP_KEYS


def select_columns(chunks_df: DataFrame, columns: list[str]) -> DataFrame:
    """Column pruning: keep only the chunk rows of `columns`."""
    return chunks_df.filter(F.col("column").isin(columns))


def prune_by_range(
    chunks_df: DataFrame,
    column: str,
    lower=None,
    upper=None,
    numeric: bool = True,
) -> DataFrame:
    """Zone-map pruning: keep only chunk groups whose [min, max] for
    `column` intersects [lower, upper].

    numeric=True compares stats as doubles (ints/floats; timestamps
    compare in their native int64 unit — µs for Spark-written data);
    numeric=False compares lexicographically (strings).

    Chunks with no stats (nested/binary/all-null) are conservatively
    KEPT. Decoded output still contains whole chunk groups — re-apply
    the exact predicate after decode.
    """
    lo_c = F.col("stat_min").cast("double") if numeric else F.col("stat_min")
    hi_c = F.col("stat_max").cast("double") if numeric else F.col("stat_max")
    # DISQUALIFY groups whose stats provably miss the range, then
    # anti-join: groups with no stats, no row for `column`, or an
    # unknown column name are all conservatively KEPT (a semi-join on
    # qualifiers would silently drop everything on a typo'd column)
    miss = F.lit(False)
    if lower is not None:
        miss = miss | (hi_c < F.lit(lower))
    if upper is not None:
        miss = miss | (lo_c > F.lit(upper))
    disqualified = (
        chunks_df.filter(
            (F.col("column") == column) & F.col("stat_min").isNotNull() & miss
        )
        .select(*_group_keys(chunks_df))
        .distinct()
    )
    return chunks_df.join(
        F.broadcast(disqualified), _group_keys(chunks_df), "left_anti"
    )


def decode_columns(
    chunks_df: DataFrame, schema: T.StructType, columns: list[str]
) -> DataFrame:
    """Selective decode: only the requested columns' payloads are read
    and decoded; the result schema is the projection of `schema`."""
    from .encode import decode_dataframe

    sub_schema = T.StructType([f for f in schema.fields if f.name in columns])
    pruned = select_columns(chunks_df, [f.name for f in sub_schema.fields])
    return decode_dataframe(pruned, sub_schema)


def decode_evolved(
    chunks_df: DataFrame,
    written_schema: T.StructType,
    target_schema: T.StructType,
) -> DataFrame:
    """Schema evolution at read time (Iceberg-style, name-based):
    columns present in both schemas decode normally, columns ADDED in
    target_schema come back as typed NULLs, columns DROPPED from
    target_schema are never read (their payload bytes are skipped by
    the pruned scan) — no rewrite of the chunk store.

    Type changes are rejected: silent cast-on-read is how columnar
    stores corrupt data; evolve by add-new + backfill instead.
    """
    written = {f.name: f.dataType for f in written_schema.fields}
    shared = [f for f in target_schema.fields if f.name in written]
    if not shared:
        raise ValueError(
            "target schema shares no columns with the written schema "
            f"({[f.name for f in target_schema.fields]} vs "
            f"{sorted(written)}) — an all-new schema would silently "
            "read back 0 rows"
        )
    for f in shared:
        if written[f.name] != f.dataType:
            raise ValueError(
                f"type change on column {f.name!r} "
                f"({written[f.name]} → {f.dataType}) is not an "
                "evolution — add a new column and backfill"
            )
    decoded = decode_columns(
        chunks_df, written_schema, [f.name for f in shared]
    )
    return decoded.select(
        *[
            F.col(f.name) if f.name in written
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in target_schema.fields
        ]
    )


def store_count(chunks_df: DataFrame) -> DataFrame:
    """Exact row count of the store from chunk METADATA alone — no
    payload byte is ever read (the parquet scan prunes to the tiny
    key/n_rows columns). Every column's chunk row in a group carries
    the same n_rows, so per-group max == the group's row count.

    The `SELECT count(*)` fast path every columnar engine serves from
    footer statistics; at 10^12 rows this is a metadata-table agg,
    seconds not hours. Returns a 1-row DataFrame (n bigint).
    """
    return (
        chunks_df.groupBy(*_group_keys(chunks_df))
        .agg(F.max("n_rows").alias("rows"))
        .agg(F.sum("rows").cast("long").alias("n"))
    )


def store_minmax(
    chunks_df: DataFrame, column: str, numeric: bool = True
) -> DataFrame:
    """Exact global min/max of `column` from zone-map metadata alone.

    Valid because chunk stats are computed over ALL of the chunk's
    values at encode time (encode.py _chunk_stats): the global min is
    the min of chunk minima. All-null chunks carry null stats and
    drop out, matching SQL min/max null semantics. numeric=True casts
    the stat strings to double (ints/floats/int64-viewed timestamps);
    numeric=False compares lexicographically (strings).

    Columns that never get stats (nested/binary) return NULLs —
    truthfully "unknown from metadata", never a wrong value.
    """
    lo = F.col("stat_min").cast("double") if numeric else F.col("stat_min")
    hi = F.col("stat_max").cast("double") if numeric else F.col("stat_max")
    return chunks_df.filter(F.col("column") == column).agg(
        F.min(lo).alias("min_value"), F.max(hi).alias("max_value")
    )


def store_report(chunks_df: DataFrame) -> DataFrame:
    """Operability view of a chunk store from metadata alone: one row
    per (column, codec) with chunk count, rows, bytes in/out and the
    compression ratio. The first thing an operator of a 100 TB store
    asks ("which codec is each column actually using, and what is it
    buying?") answered without touching a payload byte — the parquet
    scan prunes to five small metadata columns.
    """
    return (
        chunks_df.groupBy("column", "codec")
        .agg(
            F.count("*").alias("chunks"),
            F.sum("n_rows").cast("long").alias("rows"),
            F.sum("bytes_in").cast("long").alias("bytes_in"),
            F.sum("bytes_out").cast("long").alias("bytes_out"),
        )
        .withColumn(
            "ratio",
            F.round(
                F.col("bytes_out")
                / F.greatest(F.col("bytes_in"), F.lit(1)),
                4,
            ),
        )
        .orderBy("column", "codec")
    )


def prune_by_point(
    chunks_df: DataFrame, column: str, value, value_type=None
) -> DataFrame:
    """Bloom-filter point-lookup pruning: keep only chunk groups whose
    stat_bloom for `column` might contain `value` (plus, conservatively,
    groups that carry no filter).

    The "fetch THIS url out of 10^12 pages" path: probes run over chunk
    METADATA rows only (thousands of rows per store, an Arrow-batched
    scalar fn — never the payload hot path), so the lookup prunes to
    ~1 chunk group under any partitioning, clustered or not — where
    zone maps are blind on a hash-partitioned high-cardinality key.
    A Bloom "no" is definitive (no false negatives); a "yes" merely
    decodes one extra group, so the exact predicate must still be
    re-applied after decode.

    ``value_type`` is the STORED column's type — the Spark StructType
    of the encoded table (the column is looked up by name) or a
    pyarrow DataType. It is REQUIRED for numeric/temporal probes: the
    build side hashed the column's own type family (int64 view vs
    float64 bits), so an int literal probed as-inferred against a
    float column would hash differently and return a definitive-
    looking "no" — a silent false negative, wrong results. The probe
    literal is checked-cast to the stored type (a lossy literal, e.g.
    3.5 against an int column, raises). String/binary probes are
    unambiguous and may omit it.
    """
    import pyarrow as pa

    from ..functions.bloom import (
        bloom_might_contain_many,
        bloom_probe_positions,
    )

    if value_type is None:
        inferred = pa.array([value]).type
        if not (
            pa.types.is_string(inferred)
            or pa.types.is_large_string(inferred)
            or pa.types.is_binary(inferred)
            or pa.types.is_large_binary(inferred)
        ):
            raise ValueError(
                f"prune_by_point({column!r}, {value!r}): numeric/temporal "
                "probes must pass value_type (the table schema or an "
                "arrow type) — hashing the literal as-inferred against a "
                "column of a different type family would silently prune "
                "matching chunks (false negative)"
            )
        target = inferred
    elif isinstance(value_type, T.StructType):
        from pyspark.sql.pandas.types import to_arrow_type

        target = to_arrow_type(value_type[column].dataType)
    elif isinstance(value_type, T.DataType):
        from pyspark.sql.pandas.types import to_arrow_type

        target = to_arrow_type(value_type)
    else:
        target = value_type
    probe = pa.array([value]).cast(target)  # checked: lossy literal raises
    h1, h2 = bloom_probe_positions(probe[0].as_py(), target)

    @F.pandas_udf(T.BooleanType())
    def might(blobs: pd.Series) -> pd.Series:
        # metadata-scale vectorized (r5 advice): one stacked-buffer
        # numpy probe per Arrow batch, no per-row Python — a 100 TB
        # store has millions of chunk rows
        return pd.Series(
            bloom_might_contain_many(blobs, int(h1), int(h2)),
            index=blobs.index,
        )

    disqualified = (
        chunks_df.filter(
            (F.col("column") == column) & F.col("stat_bloom").isNotNull()
        )
        .filter(~might(F.col("stat_bloom")))
        .select(*_group_keys(chunks_df))
        .distinct()
    )
    return chunks_df.join(
        F.broadcast(disqualified), _group_keys(chunks_df), "left_anti"
    )


# --- `--where` conjunct surface (CLI decode verb + read_encoded) ---------

_WHERE_RE = None  # compiled lazily; module import stays regex-free


def parse_where(exprs) -> list[tuple[str, str, object]]:
    """Parse ``"col op literal"`` conjunct strings into the
    (column, op, value) triples the store's pruning + row_filter
    layers consume. Ops: == (or =), !=, <, <=, >, >=. Literals:
    int, float, single-/double-quoted string, or bare word (string).
    Already-parsed triples pass through untouched, so programmatic
    callers can hand `read_encoded` tuples directly."""
    import re

    global _WHERE_RE
    if _WHERE_RE is None:
        _WHERE_RE = re.compile(
            r"^\s*([A-Za-z_]\w*)\s*(==|!=|<=|>=|=|<|>)\s*(.+?)\s*$"
        )
    out: list[tuple[str, str, object]] = []
    for e in exprs or []:
        if isinstance(e, (tuple, list)):
            out.append((e[0], e[1], e[2]))
            continue
        m = _WHERE_RE.match(e)
        if not m:
            raise ValueError(
                f"--where {e!r}: expected 'col op literal' with op in "
                "==/=/!=/</<=/>/>="
            )
        col, op, lit = m.group(1), m.group(2), m.group(3)
        op = "==" if op == "=" else op
        val: object
        if len(lit) >= 2 and lit[0] == lit[-1] and lit[0] in "'\"":
            val = lit[1:-1]
        else:
            try:
                val = int(lit)
            except ValueError:
                try:
                    val = float(lit)
                except ValueError:
                    val = lit
        out.append((col, op, val))
    return out


def prune_where(
    chunks_df: DataFrame,
    conjuncts: list[tuple[str, str, object]],
    schema: T.StructType | None = None,
) -> DataFrame:
    """Chunk-group pruning for a conjunct list: every `==` probes the
    column's bloom filter (point pruning — decisive under hash
    partitioning, where zone maps are blind) AND its zone map; range
    ops prune by zone map alone; `!=` cannot prune groups (any group
    may hold other values) and passes through to the row filter. All
    pruning is conservative — groups without stats are kept — so the
    caller must still apply the exact predicate row-side
    (decode_dataframe's row_filter does exactly that)."""
    for col, op, val in conjuncts:
        numeric = isinstance(val, (int, float)) and not isinstance(val, bool)
        stat = val
        t = _temporal_type(col, val, schema)
        if t is not None:
            # a temporal zone map stores the raw int (µs / days):
            # compare ints, never the stat string cast to a timestamp
            from .encode import temporal_literal

            stat, numeric = temporal_literal(val, t).value, True
        if op == "==":
            if schema is not None or isinstance(val, str):
                chunks_df = prune_by_point(
                    chunks_df, col, val, value_type=schema
                )
            chunks_df = prune_by_range(
                chunks_df, col, lower=stat, upper=stat, numeric=numeric
            )
        elif op in ("<", "<="):
            chunks_df = prune_by_range(
                chunks_df, col, upper=stat, numeric=numeric
            )
        elif op in (">", ">="):
            chunks_df = prune_by_range(
                chunks_df, col, lower=stat, numeric=numeric
            )
    return chunks_df


def _temporal_type(col: str, val, schema: T.StructType | None):
    """The arrow type a conjunct's literal compares as when the column
    (per the schema) or, schema-less, the literal is a timestamp/date;
    None otherwise."""
    import datetime

    import pyarrow as pa

    if schema is not None and col in schema.names:
        dt = schema[col].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            from pyspark.sql.pandas.types import to_arrow_type

            return to_arrow_type(dt)
        return None
    if isinstance(val, (datetime.date, datetime.datetime)):
        return pa.scalar(val).type
    return None
