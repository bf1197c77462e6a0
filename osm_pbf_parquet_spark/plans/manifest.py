"""Per-partition lineage manifest + idempotent resume.

The reference tracks progress with in-memory per-type file counters
(reference src/pbf.rs:54-58) and an atomic element counter
(src/util.rs:17-18) — neither survives a crash. This module is the
mandated upgrade (BASELINE.json north_rule): an append-only parquet
manifest, one row per (snapshot_id, partition_id), committed atomically
via write-to-temp + os.rename after the partition's chunks are durable.

Resume = left-anti join of the deterministic partition ids against the
committed manifest; chunk rows carry run_id so orphan chunks from a
crashed run (written but never committed) are filtered out at read
time by the manifest semi-join — the same visibility rule an Iceberg
snapshot commit provides.

Manifest rows are tiny (one per partition) so they are built and
written on the driver, from one payload-free read-back of the run's
durable chunk rows; at 100 TB with ~10⁵ partitions this is < 10 MB.
"""

from __future__ import annotations

import json
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.encode import (
    CHUNKS_STORE_SPARK_SCHEMA,
    PID_COL,
    decode_dataframe,
    encode_dataframe,
    with_partition_id,
)

MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        ("snapshot_id", pa.string()),
        ("partition_id", pa.int64()),
        ("run_id", pa.string()),
        ("n_rows", pa.int64()),
        ("n_chunks", pa.int64()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("codecs", pa.string()),  # json: column → codec of last chunk
        ("checksum", pa.string()),
        ("committed_at", pa.float64()),
        ("status", pa.string()),
        # json array of BARE chunk-file names this commit's rows live
        # in (Iceberg-style file-level manifest: reads open exactly
        # these; vacuum deletes strays precisely). NULL on rows
        # committed before file tracking → readers fall back to the
        # directory-listing path.
        ("files", pa.string()),
    ]
)

#: explicit Spark twin — manifest dirs mix pre-/post-`files` parts,
#: and schema inference from one random footer would drop the column
MANIFEST_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("partition_id", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("bytes_out", T.LongType()),
        T.StructField("codecs", T.StringType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
        T.StructField("status", T.StringType()),
        T.StructField("files", T.StringType()),
    ]
)
# drift guard: the JVM route reads with the explicit Spark twin, and
# a column added to one schema but not the other would silently drop
# on that route while surfacing on the pyarrow route
assert [f.name for f in MANIFEST_SPARK_SCHEMA.fields] == list(
    MANIFEST_ARROW_SCHEMA.names
)


def store_path(out_dir: str, *parts: str) -> str:
    """Child path in the store — query-aware for URI stores (s3 URIs
    carry endpoint/credential config after '?', so naive f-string
    suffixing would append the child AFTER the query)."""
    from .fsutil import join_uri

    return join_uri(out_dir, *parts)


def _manifest_dir(out_dir: str) -> str:
    return store_path(out_dir, "manifest")


def chunks_dir(out_dir: str) -> str:
    return store_path(out_dir, "chunks")


#: projection for manifest/vacuum read-backs — everything BUT the
#: payload bytes; pushed into the pyarrow per-file reads (Catalyst
#: cannot prune columns through mapInArrow)
SUMMARY_COLUMNS = [
    "partition_id", "chunk_seq", "n_rows", "column", "codec",
    "bytes_in", "bytes_out", "checksum", "run_id",
]


def read_chunks(
    spark: SparkSession,
    out_dir: str,
    with_file: bool = False,
    run_id: str | None = None,
    columns: list[str] | None = None,
    files: list[str] | None = None,
) -> DataFrame:
    """Chunk-store scan with the EXPLICIT store schema: inference over
    a dir mixing pre-/post-metadata-column files (e.g. stat_bloom) can
    pick the old file's schema and drop the column; explicit schema
    reads it as NULL where absent — what every consumer expects.

    ``with_file`` adds the source file as a ``__file`` column (vacuum's
    provenance need) — input_file_name() on the JVM path, the reader's
    own path on the pyarrow (s3) path, where input_file_name() cannot
    see through mapInArrow. ``run_id`` keeps only that run's rows,
    pushed into the parquet scan on both routes: on the JVM path the
    filter goes in BEFORE input_file_name(), which is
    nondeterministic and would otherwise stop Catalyst pushing it
    down (every commit would read every run's metadata)."""
    from .fsutil import uses_pyarrow

    if uses_pyarrow(out_dir):
        from .pa_store import read_chunks_pyarrow

        return read_chunks_pyarrow(
            spark, chunks_dir(out_dir), with_file, run_id, columns, files
        )
    cdir = chunks_dir(out_dir)
    reader = spark.read.schema(CHUNKS_STORE_SPARK_SCHEMA)
    if files is not None:
        # explicit visible-file read: no directory listing, no footer
        # probes of superseded runs' objects
        if not files:
            df = spark.createDataFrame([], CHUNKS_STORE_SPARK_SCHEMA)
        else:
            from .fsutil import join_uri

            # join_uri, not naive suffixing: a URI store's ?query
            # config must stay AFTER the child path
            df = reader.parquet(*[join_uri(cdir, n) for n in files])
    else:
        df = reader.parquet(cdir)
    if run_id is not None:
        df = df.filter(F.col("run_id") == run_id)
    if with_file:
        df = df.withColumn("__file", F.input_file_name())
    if columns is not None:
        keep = list(columns) + (["__file"] if with_file else [])
        df = df.select(*keep)
    return df


def write_chunk_table(
    spark: SparkSession,
    chunks: DataFrame,
    out_dir: str,
    max_records: int | None = None,
    run_id: str | None = None,
) -> list[dict] | None:
    """Append chunk rows to the store — JVM parquet writer for local/
    Hadoop schemes, the distributed pyarrow writer for s3 (K2 sink
    routing, reference src/sink.rs:108-122). ONE owner for the rule so
    encode/merge/compact cannot diverge. ``run_id`` names the pyarrow
    part objects; on that route the WINNING attempts' file summaries
    are returned so the caller can read the run back from the explicit
    list (immune to a zombie attempt's late object) and then sweep
    dead-attempt orphans via reconcile_run_parts. The JVM path's
    output committer handles all of this natively → returns None."""
    from .fsutil import uses_pyarrow

    cdir = chunks_dir(out_dir)
    if uses_pyarrow(out_dir):
        from .pa_store import write_chunks_pyarrow

        return write_chunks_pyarrow(
            chunks, cdir, max_records, prefix=run_id, reconcile=False
        )
    w = chunks.write
    if max_records is not None:
        w = w.option("maxRecordsPerFile", max_records)
    w.mode("append").parquet(cdir)
    return None


STORE_META_FILE = "store_meta.json"
STORE_FORMAT_VERSION = 2  # v2 = chunk schema with stat_bloom


def read_store_meta(out_dir: str, spark: SparkSession | None = None) -> dict | None:
    from .fsutil import exists, read_bytes

    path = store_path(out_dir, STORE_META_FILE)
    if not exists(spark, path):
        return None
    return json.loads(read_bytes(spark, path).decode())


def write_store_meta(
    out_dir: str, meta: dict, spark: SparkSession | None = None
) -> None:
    """First-commit-wins store identity (temp+rename, never rewritten):
    records the routing contract every later writer must repeat."""
    from .fsutil import exists, write_sidecar

    path = store_path(out_dir, STORE_META_FILE)
    if exists(spark, path):
        return
    write_sidecar(spark, path, json.dumps(meta, sort_keys=True).encode())


def check_store_routing(
    out_dir: str, key_col: str, num_partitions: int,
    custom_pid: bool = False, spark: SparkSession | None = None,
) -> None:
    """Validate a writer's routing params against the store's recorded
    contract (r3 advice: a merge_job with a different num_partitions
    silently routes change keys to different pids — untouched
    partitions keep stale rows). Raises on mismatch; silently passes
    for pre-metadata stores (nothing recorded to check)."""
    meta = read_store_meta(out_dir, spark)
    if meta is None:
        return
    problems = []
    if meta.get("key_col") != key_col:
        problems.append(f"key_col {key_col!r} != stored {meta.get('key_col')!r}")
    if meta.get("num_partitions") != num_partitions:
        problems.append(
            f"num_partitions {num_partitions} != stored "
            f"{meta.get('num_partitions')}"
        )
    if bool(meta.get("custom_pid")) != custom_pid:
        problems.append(
            f"custom_pid {custom_pid} != stored {meta.get('custom_pid')}"
        )
    if problems:
        raise ValueError(
            f"store routing mismatch for {out_dir}: {'; '.join(problems)} — "
            "rows would route to different partitions than the original "
            "encode, leaving stale/duplicate rows in untouched partitions"
        )


def commit_manifest(
    rows: list[dict], out_dir: str, run_id: str,
    spark: SparkSession | None = None,
) -> str:
    """Atomic append: one parquet part per run, temp + rename (one
    owner for the rule: fsutil.write_sidecar, local or Hadoop URI)."""
    import io

    from .fsutil import write_sidecar

    tbl = pa.Table.from_pylist(rows, schema=MANIFEST_ARROW_SCHEMA)
    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    final = store_path(out_dir, "manifest", f"part-{run_id}.parquet")
    write_sidecar(spark, final, buf.getvalue())
    return final


def _read_manifest_raw(
    spark: SparkSession, out_dir: str
) -> DataFrame | None:
    """Every committed manifest row, NO last-wins dedup — the shared
    raw scan behind read_manifest and compact_manifest. None when no
    manifest exists yet."""
    from .fsutil import uses_pyarrow

    parts = _list_manifest_parts(spark, out_dir)
    if not parts:
        return None
    if uses_pyarrow(out_dir):
        from .pa_store import fetch_parquet_tables

        raw = spark.createDataFrame(pa.concat_tables(
            fetch_parquet_tables(spark, parts), promote_options="default"
        ))
        if "files" not in raw.columns:
            # every part predates file tracking
            raw = raw.withColumn("files", F.lit(None).cast("string"))
        return raw
    return spark.read.schema(MANIFEST_SPARK_SCHEMA).parquet(
        _manifest_dir(out_dir)
    )


def read_manifest(
    spark: SparkSession, out_dir: str, as_of: float | None = None
) -> DataFrame | None:
    """Committed manifest, deduped to the LATEST commit per partition.

    Last-wins makes compaction a plain append: a compacted partition's
    new manifest row supersedes the original, and its old chunks become
    invisible through the (partition_id, run_id) semi-join. Concurrent
    double-commits of the same partition are safe either way — both
    runs encoded the same row set.

    as_of (unix seconds) time-travels: commits after the horizon are
    invisible, so last-wins resolves to whatever was current then.
    """
    raw = _read_manifest_raw(spark, out_dir)
    if raw is None:
        return None
    if as_of is not None:
        # no eager emptiness probe: an as_of before the first commit is
        # a legitimate "nothing visible yet" — it flows through as an
        # empty manifest view and the read yields an empty table, which
        # is the truthful answer (FileNotFoundError stays reserved for
        # a store with no manifest at all)
        raw = raw.filter(F.col("committed_at") <= as_of)
    from pyspark.sql.window import Window

    w = Window.partitionBy("snapshot_id", "partition_id").orderBy(
        F.col("committed_at").desc(), F.col("run_id").desc()
    )
    return (
        raw.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def _list_manifest_parts(spark: SparkSession, out_dir: str) -> list[str]:
    from .fsutil import list_files

    return list_files(spark, _manifest_dir(out_dir), ".parquet")


def compact_manifest(
    spark: SparkSession,
    out_dir: str,
    squash: bool = False,
    min_parts: int = 2,
) -> dict:
    """Rewrite the manifest's one-part-per-commit history into ONE
    part (r6 review: a long-lived incremental store accumulates 10⁴+
    parts and every read_manifest — which gates every read, merge,
    compact, vacuum — pays O(#commits) round trips to resolve them).

    Crash-safe by the same last-wins rule that makes chunk compaction
    a plain append: the combined part is written (atomic temp+rename /
    sidecar PUT) BEFORE the source parts are deleted, and duplicate
    identical rows across old+new parts dedup harmlessly in
    read_manifest's (snapshot_id, partition_id) window. A writer
    committing concurrently appends a part this pass never listed, so
    it survives untouched.

    ``squash=False`` (default) keeps EVERY historical row — as_of time
    travel is unchanged; the win is file count, which is what costs
    round trips. ``squash=True`` keeps only each (snapshot_id,
    partition_id)'s winning row (tombstones included — they ARE
    winners), trading pre-compaction time travel for size.

    Concurrency caveat: deleting the source parts races with
    CONCURRENT READERS that listed the directory before the delete
    (their next fetch hits a missing file and the read fails with
    retry-able FileNotFound) — run it as a maintenance pass, like
    expire-snapshots in any table format. Concurrent WRITERS are safe
    (their parts are never listed here), and a crashed or doubly-run
    compaction is harmless (duplicates dedup; missing files on delete
    are tolerated).

    Manifest rows are metadata-scale (one per partition commit), so
    the merge is a driver-side pyarrow pass — route-agnostic (local /
    Hadoop URI / s3)."""
    import io

    from .fsutil import delete_file, read_bytes

    parts = _list_manifest_parts(spark, out_dir)
    # squash stays eligible on a single part: it rewrites rows, not
    # just the file count, so "already one part" is not a no-op
    if len(parts) < min_parts and not (squash and parts):
        return {
            "parts_before": len(parts),
            "parts_after": len(parts),
            "rows": None,
            "rows_dropped": 0,
        }
    from .pa_store import fetch_parquet_tables

    tables = fetch_parquet_tables(spark, parts)
    tbl = pa.concat_tables(tables, promote_options="default")
    n_before = tbl.num_rows
    if squash:
        df = tbl.to_pandas()
        df = (
            df.sort_values(["committed_at", "run_id"], kind="stable")
            .groupby(["snapshot_id", "partition_id"], as_index=False)
            .tail(1)
        )
        tbl = pa.Table.from_pandas(df, preserve_index=False)
    for name in MANIFEST_ARROW_SCHEMA.names:
        if name not in tbl.column_names:  # every part predates the col
            tbl = tbl.append_column(
                name,
                pa.nulls(len(tbl), MANIFEST_ARROW_SCHEMA.field(name).type),
            )
    tbl = tbl.select(MANIFEST_ARROW_SCHEMA.names).cast(MANIFEST_ARROW_SCHEMA)

    new_run = f"compact-{uuid.uuid4().hex[:12]}"
    combined = commit_manifest(tbl.to_pylist(), out_dir, new_run, spark)
    # verify the combined part is durably readable BEFORE dropping
    # the sources — a failed verify leaves the store merely
    # uncompacted, never short
    back = pq.read_table(io.BytesIO(read_bytes(spark, combined)))
    if back.num_rows != tbl.num_rows:
        raise OSError(
            f"manifest compaction verify failed: wrote {tbl.num_rows} "
            f"rows, read back {back.num_rows} from {combined}"
        )
    for p in parts:
        try:
            delete_file(spark, p)
        except FileNotFoundError:
            continue  # a racing compaction already removed it — safe
        # other delete failures surface: swallowing them would report
        # parts_after=1 while the directory still holds every part
    return {
        "parts_before": len(parts),
        "parts_after": 1,
        "rows": tbl.num_rows,
        "rows_dropped": n_before - tbl.num_rows,
    }


def visible_chunk_files(rows) -> list[str] | None:
    """Union of the manifest winners' recorded chunk-file names —
    the explicit read set for read_chunks(files=...). None when any
    visible row predates file tracking (files NULL): mixed stores
    fall back to the directory-listing path wholesale, because a
    partial file list would silently hide the legacy rows' chunks."""
    out: set[str] = set()
    for r in rows:
        fj = r["files"]
        if fj is None:
            return None
        out.update(json.loads(fj))
    return sorted(out)


def _min_servable_as_of(spark: SparkSession, out_dir: str) -> float | None:
    """Oldest as_of the store can still serve, from the vacuum
    records' `min_servable_as_of` column — the max SUPERSEDING-commit
    time over files vacuum physically deleted (orphan/zombie-only
    vacuums record NULL: they unserve nothing). None when never
    vacuumed or nothing restricting. Legacy records without the
    column fall back to their mtime `horizon` (conservative)."""
    from .fsutil import list_files

    parts = list_files(spark, store_path(out_dir, "vacuum"), ".parquet")
    if not parts:
        return None
    from .pa_store import fetch_parquet_tables

    cutoffs = []
    for t in fetch_parquet_tables(spark, parts):
        if not t.num_rows:
            continue
        if "min_servable_as_of" in t.column_names:
            cutoffs.extend(
                v
                for v in t.column("min_servable_as_of").to_pylist()
                if v is not None
            )
        else:  # pre-column record: only the retention horizon exists
            cutoffs.extend(t.column("horizon").to_pylist())
    return max(cutoffs) if cutoffs else None


def check_time_travel_served(
    spark: SparkSession, out_dir: str, as_of: float | None
) -> None:
    """Raise a clear error when an as_of view references files vacuum
    has physically deleted — instead of the opaque missing-file scan
    error the read would otherwise die with. Shared by read_encoded,
    read_incremental, and the CLI decode path."""
    if as_of is None:
        return
    cutoff = _min_servable_as_of(spark, out_dir)
    if cutoff is not None and as_of < cutoff:
        raise ValueError(
            f"time travel to as_of={as_of} is no longer served: "
            f"vacuum physically removed files of views superseded "
            f"before {cutoff} (see the store's vacuum records)"
        )


def read_committed_chunks(
    spark: SparkSession, out_dir: str, committed
) -> DataFrame:
    """Chunk rows belonging to a manifest selection (columns
    partition_id, run_id, files) — a DataFrame, or pre-collected rows
    when the caller already paid the manifest resolution (merge).
    File-level manifests bound the scan to EXACTLY the selection's
    recorded objects — no directory listing, no footer probes of
    superseded runs; legacy rows (files NULL) fall back to the
    listing wholesale. The (partition_id, run_id) semi-join still
    applies: a rotated file can mix partitions, and on the fallback
    path it alone carries correctness. The selection is
    metadata-scale (one row per partition commit) — the collect is
    driver-safe."""
    if isinstance(committed, DataFrame):
        rows = committed.select("partition_id", "run_id", "files").collect()
    else:
        rows = committed
    files = visible_chunk_files(rows)
    keys = spark.createDataFrame(
        [(r["partition_id"], r["run_id"]) for r in rows],
        "partition_id long, run_id string",
    )
    return read_chunks(spark, out_dir, files=files).join(
        F.broadcast(keys), ["partition_id", "run_id"], "left_semi"
    )


def write_and_commit_run(
    spark: SparkSession,
    chunks: DataFrame,
    out_dir: str,
    run_id: str,
    snapshot_id: str,
    max_records: int | None = None,
) -> list[dict]:
    """The shared durable-write → read-back → manifest-commit →
    orphan-sweep sequence behind encode_job, merge_job, and
    compact_partitions. On the pyarrow (s3) route the read-back uses
    the EXPLICIT winning-file list (a zombie task attempt's object
    flushed after the action cannot reach the commit) and the
    dead-attempt sweep runs after it; the JVM route's output committer
    makes both steps a no-op. The read-back is one Spark job: a
    toArrow collect of the run's payload-free rows, bounded by one row
    per (chunk group, column) of this run, summarized on the driver."""
    wrote = write_chunk_table(
        spark, chunks, out_dir, max_records, run_id=run_id
    )
    files = [w["file"] for w in wrote] if wrote is not None else None
    # with_file: the commit records each partition's chunk-file names
    # (file-level manifest) so reads open exactly the visible files
    # and vacuum can delete strays precisely
    written = read_chunks(
        spark, out_dir, with_file=True, run_id=run_id,
        columns=SUMMARY_COLUMNS, files=files,
    )
    rows = commit_summary(
        summarize_written(written.toArrow()), out_dir, snapshot_id, run_id,
        spark,
    )
    if wrote is not None:
        from .pa_store import reconcile_run_parts

        reconcile_run_parts(
            spark, chunks_dir(out_dir), run_id, {w["file"] for w in wrote}
        )
    return rows


def summarize_written(tbl: pa.Table) -> list[dict]:
    """Per-partition manifest aggregates, sorted by partition_id, from
    durable chunk rows: an Arrow table of SUMMARY_COLUMNS, plus
    ``__file`` for the file-level manifest (else files is None).

    n_rows is Σ over chunk_seq of max(n_rows) — the chunk-group grain,
    NOT col_idx == 0 rows, so a column-filtered feed still counts the
    true rows. The codec map is last-chunk-wins per column (the
    auto-selector may pick different codecs per chunk). checksum =
    sha256 of the sorted non-null chunk checksums joined by "|";
    files = sorted bare chunk-file names (?query stripped, basename)."""
    import hashlib

    import pyarrow.compute as pc

    pid = "partition_id"

    def per_pid(t: pa.Table, aggs: list) -> list[dict]:
        return t.group_by(pid).aggregate(aggs).sort_by(pid).to_pylist()

    groups = tbl.group_by([pid, "chunk_seq"]).aggregate([("n_rows", "max")])
    # "last" keeps input order only single-threaded: sort by chunk_seq
    last = tbl.sort_by("chunk_seq").group_by(
        [pid, "column"], use_threads=False
    ).aggregate([("codec", "last", pc.ScalarAggregateOptions(
        skip_nulls=False))])
    aggs = [("bytes_in", "sum"), ("bytes_out", "sum"), ("checksum", "list")]
    if "__file" in tbl.column_names:
        bare = pc.replace_substring_regex(tbl["__file"], r"\?.*$", "")
        tbl = tbl.append_column("files", pc.replace_substring_regex(
            bare, r"^.*/", ""
        ))
        aggs.append(("files", "distinct"))
    return [
        {
            pid: a[pid],
            "n_rows": g["n_rows_max_sum"],
            "n_chunks": g["chunk_seq_count"],
            "bytes_in": a["bytes_in_sum"],
            "bytes_out": a["bytes_out_sum"],
            "codec_map": dict(zip(c["column_list"], c["codec_last_list"])),
            "checksum": hashlib.sha256("|".join(sorted(
                x for x in a["checksum_list"] if x is not None
            )).encode()).hexdigest(),
            "files": sorted(a["files_distinct"])
            if "files_distinct" in a else None,
        }
        for a, g, c in zip(
            per_pid(tbl, aggs),
            per_pid(groups, [("n_rows_max", "sum"), ("chunk_seq", "count",
                                                    pc.CountOptions("all"))]),
            per_pid(last, [("column", "list"), ("codec_last", "list")]),
        )
    ]


def commit_summary(agg_rows, out_dir: str, snapshot_id: str, run_id: str,
                   spark: SparkSession | None = None) -> list[dict]:
    """Build + atomically commit manifest rows from summarize_written
    output — the commit step of write_and_commit_run (encode_job,
    merge_job, compact_partitions)."""
    now = time.time()
    rows = [
        {
            "snapshot_id": snapshot_id,
            "partition_id": r["partition_id"],
            "run_id": run_id,
            "n_rows": r["n_rows"],
            "n_chunks": r["n_chunks"],
            "bytes_in": r["bytes_in"],
            "bytes_out": r["bytes_out"],
            "codecs": json.dumps(r["codec_map"], sort_keys=True),
            "checksum": r["checksum"],
            "committed_at": now,
            "status": "done",
            "files": None if r["files"] is None else json.dumps(r["files"]),
        }
        for r in agg_rows
    ]
    if rows:
        commit_manifest(rows, out_dir, run_id, spark)
    return rows


def encode_job(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    key_col: str = "url",
    num_partitions: int | None = None,
    snapshot_id: str = "snap-0",
    codecs: dict[str, str] | None = None,
    target_chunk_bytes: int | None = None,
    pid_expr=None,
    zstd_level: int = 3,
    fail_after_partitions: int | None = None,
    rotate_bytes: int = 512 << 20,
    sort_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Resumable encode: pending partitions only, idempotent commit.

    fail_after_partitions is a test hook simulating a mid-job crash:
    only that many pending partitions are encoded and committed.

    rotate_bytes caps physical chunk-parquet file size (the reference's
    500 MB sink rotation, src/sink.rs:75-94): a chunk GROUP's rows sum
    to ≤ target_chunk_bytes of payload, so maxRecordsPerFile =
    (rotate_bytes / target_chunk_bytes) groups × n_cols rows bounds
    every output file near rotate_bytes even for incompressible data.
    """
    run_id = uuid.uuid4().hex[:12]
    if target_chunk_bytes is None:
        from ..config import derive_chunk_target

        target_chunk_bytes = derive_chunk_target(spark)
    if num_partitions is None:
        # an existing store's recorded routing wins (pid-stable resume
        # even on a differently-sized cluster); a fresh store derives
        # ≥ 8× cores (the r3 task-granularity default)
        meta = read_store_meta(out_dir, spark)
        if meta is not None and "num_partitions" in meta:
            num_partitions = int(meta["num_partitions"])
        else:
            if read_manifest(spark, out_dir) is not None:
                # pre-metadata store with committed data: deriving a
                # fresh default here would route a resume to different
                # pids than the original encode AND then record the
                # wrong value as the store's contract — fail loudly
                raise ValueError(
                    f"store {out_dir} has commits but no "
                    f"{STORE_META_FILE} (pre-v{STORE_FORMAT_VERSION} "
                    "store): pass num_partitions= explicitly with the "
                    "value the original encode used; it will be "
                    "recorded as the store's routing contract"
                )
            from ..config import derive_num_partitions

            num_partitions = derive_num_partitions(spark)
    # routing contract: first commit records it, every later writer
    # (resume, merge, stream epoch) must repeat it exactly
    custom_pid = pid_expr is not None or PID_COL in df.columns
    check_store_routing(out_dir, key_col, num_partitions, custom_pid, spark)
    write_store_meta(
        out_dir,
        {
            "format_version": STORE_FORMAT_VERSION,
            "key_col": key_col,
            "num_partitions": num_partitions,
            "custom_pid": custom_pid,
        },
        spark,
    )
    # X5 parity: global progress counter (reference src/util.rs:17-18)
    progress = spark.sparkContext.accumulator(0)
    # a pre-attached PID_COL (e.g. partitioning.salted_pids) is
    # authoritative — recomputing here would silently discard the skew
    # handling; resume requires the caller to attach the same pids on
    # every run (salted_pids is deterministic for a fixed input)
    if PID_COL in df.columns:
        with_pid = df
    else:
        with_pid = with_partition_id(df, key_col, num_partitions, pid_expr)

    manifest = read_manifest(spark, out_dir)
    if manifest is not None:
        done = manifest.filter(
            (F.col("snapshot_id") == snapshot_id) & (F.col("status") == "done")
        ).select(F.col("partition_id").alias(PID_COL))
        with_pid = with_pid.join(F.broadcast(done), PID_COL, "left_anti")

    if fail_after_partitions is not None:
        pending = [
            r[0]
            for r in with_pid.select(PID_COL).distinct().collect()
        ]
        keep = sorted(pending)[:fail_after_partitions]
        with_pid = with_pid.filter(F.col(PID_COL).isin(keep))

    chunks = encode_dataframe(
        with_pid,
        key_col=key_col,
        num_partitions=num_partitions,
        codecs=codecs,
        target_chunk_bytes=target_chunk_bytes,
        pid_expr=pid_expr,
        zstd_level=zstd_level,
        progress=progress,
        sort_cols=sort_cols,
        bloom_cols=bloom_cols,
    ).withColumn("run_id", F.lit(run_id))

    n_cols = max(1, len(df.columns) - (1 if PID_COL in df.columns else 0))
    max_records = max(
        n_cols, (rotate_bytes // max(1, target_chunk_bytes)) * n_cols
    )
    rows = write_and_commit_run(
        spark, chunks, out_dir, run_id, snapshot_id, max_records
    )
    return {
        "run_id": run_id,
        "rows_seen": progress.value,
        "partitions": len(rows),
        "rows": int(sum(r["n_rows"] for r in rows)),
        "bytes_in": int(sum(r["bytes_in"] for r in rows)),
        "bytes_out": int(sum(r["bytes_out"] for r in rows)),
    }


def read_encoded(
    spark: SparkSession,
    out_dir: str,
    schema,
    snapshot_id: str | None = None,
    as_of: float | None = None,
    columns: list[str] | None = None,
    where=None,
) -> DataFrame:
    """Decode the committed view: chunks ⋉ manifest on (pid, run_id).

    Orphan chunks from crashed runs are invisible — only manifest-
    committed (partition_id, run_id) pairs participate.

    snapshot_id scopes the read to one snapshot (a streaming epoch, a
    backfill generation); default reads ALL snapshots (the full table —
    epochs are disjoint appends). as_of (unix seconds) time-travels:
    only commits with committed_at <= as_of are visible, and last-wins
    supersedes (compaction) resolve against that horizon — the same
    read semantics an Iceberg snapshot timestamp gives, from the same
    append-only metadata.

    columns projects the decode (only those columns' payload bytes are
    read). where — "col op literal" strings or (col, op, value)
    triples, ANDed — pushes down three levels: bloom point pruning +
    zone-map group pruning on the chunk METADATA (whole chunk groups
    skipped before any payload read) and an exact worker-side
    row_filter during decode, so a point query on a bloom-indexed key
    decodes ~1 chunk group out of the whole store (the reference's
    "fetch one way out of the planet" read path).
    """
    from ..operators.pruning import parse_where, prune_where

    check_time_travel_served(spark, out_dir, as_of)
    manifest = read_manifest(spark, out_dir, as_of=as_of)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    committed = manifest.filter(F.col("status") == "done")
    if snapshot_id is not None:
        committed = committed.filter(F.col("snapshot_id") == snapshot_id)
    chunks = read_committed_chunks(spark, out_dir, committed)
    conj = parse_where(where)
    if conj:
        chunks = prune_where(chunks, conj, schema)
    if columns is not None:
        # filter columns must decode too; project them away at the end
        need = list(dict.fromkeys(list(columns) + [c for c, _, _ in conj]))
        sub = type(schema)([f for f in schema.fields if f.name in need])
        chunks = chunks.filter(F.col("column").isin([f.name for f in sub]))
        dec = decode_dataframe(chunks, sub, row_filter=conj or None)
        return dec.select(*[c for c in columns if c in dec.columns])
    return decode_dataframe(chunks, schema, row_filter=conj or None)


def verify_roundtrip(src: DataFrame, dec: DataFrame) -> dict:
    """Multiset-faithful decode-back verification (the CLI/submit-job
    gate): counts both ways plus a full-equality ANTI-join each way.

    Join-PAIR counting (inner join on the key, filter, compare to
    n_src) is fooled by duplicate key values — with k src and k' dec
    rows under one key the join yields k·k' pairs, so exact-duplicate
    corruption in the store (or extra dec rows under existing keys)
    can still count up to n_src. Even anti-joins + counts miss
    multiplicity REDISTRIBUTION (src {r,r,s} vs dec {r,s,s}).
    EXCEPT ALL both ways is the multiset-exact check: both empty ⟺
    the decoded multiset IS the source multiset.

    MAP columns are not groupable/orderable, so they canonicalize to
    sorted entry lists first. Returns {identical, n_src, n_dec,
    src_unmatched, dec_unmatched} (unmatched = multiset-difference
    row counts). Cost: one full-row shuffle per direction — the same
    order as the join it replaces.
    """
    from pyspark.sql.types import MapType

    def _canon(df: DataFrame) -> DataFrame:
        return df.select(*[
            F.sort_array(F.map_entries(f.name)).alias(f.name)
            if isinstance(f.dataType, MapType) else F.col(f.name)
            for f in df.schema.fields
        ])

    a, b = _canon(src), _canon(dec.select(*src.columns))
    n_src = src.count()
    n_dec = dec.count()
    src_unmatched = a.exceptAll(b).count()
    dec_unmatched = b.exceptAll(a).count()
    return {
        "identical": n_src == n_dec and src_unmatched == 0
        and dec_unmatched == 0,
        "n_src": n_src,
        "n_dec": n_dec,
        "src_unmatched": src_unmatched,
        "dec_unmatched": dec_unmatched,
    }


def read_incremental(
    spark: SparkSession,
    out_dir: str,
    schema,
    since: float,
    until: float | None = None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Incremental read: decode ONLY partitions whose current manifest
    row committed in (since, until] — the changed-data feed a
    downstream pipeline consumes instead of rescanning the table.

    Semantics are partition-granular refresh (the store's write unit):
    a partition appears iff its LATEST visible commit falls in the
    window, and it arrives whole — new appends, re-crawled merges and
    compaction rewrites all surface exactly once. At 100 TB the win is
    structural: a daily consumer decodes the handful of partitions
    that changed, not 10^12 rows; the manifest (thousands of rows)
    is the only thing fully scanned. Compare Iceberg's incremental
    snapshot scan — same metadata-driven shape.

    Pass until to replay a historical window (e.g. re-run yesterday's
    failed downstream batch); default is "now" (everything since).
    """
    check_time_travel_served(spark, out_dir, until)
    manifest = read_manifest(spark, out_dir, as_of=until)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    committed = manifest.filter(
        (F.col("status") == "done") & (F.col("committed_at") > since)
    )
    if snapshot_id is not None:
        committed = committed.filter(F.col("snapshot_id") == snapshot_id)
    chunks = read_committed_chunks(spark, out_dir, committed)
    return decode_dataframe(chunks, schema)
