"""Distributed chunk-store IO over pyarrow.fs — the s3:// route.

Stock PySpark ships no hadoop-aws jar, so `spark.read.parquet` /
`df.write.parquet` CANNOT touch s3:// in this stack. The store's
chunk tables instead move through the SAME client the PBF ranged
reads use — pyarrow's S3FileSystem (AWS C++ SDK) — but distributed:

  write  chunks.mapInArrow(writer): every task streams its batches
         into rotating `part-<uuid>.parquet` objects via one multipart
         upload each (the SDK splits parts; reference
         src/sink.rs:108-122 routes its S3 sink the same way), then
         emits one summary row per file. The collect() that triggers
         the job moves only (file, rows) rows — no payload ever
         crosses the driver.
  read   the driver lists `chunks/*.parquet` (one ListObjectsV2),
         STRIDE-interleaves the file list (contiguous slices cluster
         same-partition files into straggler tasks — measured 2× wall
         on PBF; see CLAUDE.md), parallelizes WITHOUT an Exchange, and
         each task streams its files' row groups through mapInArrow.
         Missing columns (a pre-metadata store file) surface as NULLs,
         matching the explicit-schema JVM read.

At 10^12 documents the file list is ~10⁵–10⁶ names — a few MB on the
driver, the same scale Spark's own file index holds; everything else
stays on executors.
"""

from __future__ import annotations

import uuid

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.encode import CHUNKS_ARROW_SCHEMA, CHUNKS_STORE_SPARK_SCHEMA
from .fsutil import join_uri, list_files, pa_fs, split_query

#: chunk rows as persisted (run_id stamped at commit time)
CHUNKS_STORE_ARROW_SCHEMA = pa.schema(
    list(CHUNKS_ARROW_SCHEMA) + [pa.field("run_id", pa.string())]
)


def write_chunks_pyarrow(
    chunks: DataFrame,
    cdir: str,
    max_records: int | None = None,
    prefix: str | None = None,
    reconcile: bool = True,
) -> list[dict]:
    """Write a chunk DataFrame under ``cdir`` (s3://…/chunks), one or
    more parquet objects per task, rotating at ``max_records`` rows
    (the JVM path's maxRecordsPerFile twin). Returns the written-file
    summaries; the collect is the job's action.

    Task-commit protocol (r6 review): an object store has no
    Hadoop output committer, so a RETRIED or speculative task's first
    attempt leaves its final-named objects durable — duplicate chunk
    rows under the committed run. Pass ``prefix`` (the run_id) and the
    job reconciles after the action: Spark returns summary rows only
    from each task's WINNING attempt, so any ``part-<prefix>-*`` object
    not in that set is a dead attempt's orphan and is deleted before
    anything reads the run back. ``reconcile=False`` skips the
    immediate sweep for callers (encode/merge/compact) that read the
    run back from the EXPLICIT winning file list and sweep afterwards
    — that ordering also shrinks the zombie window (an attempt still
    flushing after collect() returns) to nearly nothing, and the
    explicit-list read-back makes the manifest commit immune to it
    entirely."""
    out_schema = T.StructType(
        [
            T.StructField("file", T.StringType()),
            T.StructField("rows", T.LongType()),
        ]
    )

    def writer(batches):
        import pyarrow.parquet as pq

        fs, inner = pa_fs(cdir)
        inner = inner.rstrip("/")
        buf: list[pa.RecordBatch] = []
        nrows = 0
        written: list[tuple[str, int]] = []
        tag = f"{prefix}-" if prefix else ""

        def flush():
            nonlocal buf, nrows
            if not buf:
                return
            name = f"part-{tag}{uuid.uuid4().hex}.parquet"
            with fs.open_output_stream(f"{inner}/{name}") as out:
                pq.write_table(pa.Table.from_batches(buf), out)
            written.append((name, nrows))
            buf, nrows = [], 0

        for b in batches:
            if b.num_rows == 0:
                continue
            buf.append(b)
            nrows += b.num_rows
            if max_records is not None and nrows >= max_records:
                flush()
        flush()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([w[0] for w in written], type=pa.string()),
                pa.array([w[1] for w in written], type=pa.int64()),
            ],
            ["file", "rows"],
        )

    rows = [
        r.asDict() for r in chunks.mapInArrow(writer, out_schema).collect()
    ]
    if prefix and reconcile:
        reconcile_run_parts(
            chunks.sparkSession, cdir, prefix, {r["file"] for r in rows}
        )
    return rows


def reconcile_run_parts(
    spark: SparkSession, cdir: str, prefix: str, keep: set[str]
) -> int:
    """Delete ``part-<prefix>-*`` objects under ``cdir`` that are not
    in ``keep`` (the winning attempts' files) — dead task attempts'
    orphans. One directory listing (pyarrow's FileSelector has no
    server-side prefix filter); idempotent, missing files tolerated
    (two sweeps may race). Returns the number deleted."""
    fs, _ = pa_fs(cdir)
    n = 0
    for uri in list_files(spark, cdir, ".parquet"):
        # list_files preserves the ?query routing config — strip
        # it before comparing bare object names
        name = split_query(uri)[0].rsplit("/", 1)[-1]
        if name.startswith(f"part-{prefix}-") and name not in keep:
            _, fpath = pa_fs(uri)
            try:
                fs.delete_file(fpath)
            except FileNotFoundError:
                continue  # a concurrent sweep got there first
            # any other failure must SURFACE: the manifest already
            # committed this run, so a surviving orphan is a visible
            # duplicate — swallowing the error would hide data
            # corruption, not noise
            n += 1
    return n


def read_chunks_pyarrow(
    spark: SparkSession,
    cdir: str,
    with_file: bool = False,
    run_id: str | None = None,
    columns: list[str] | None = None,
    files: list[str] | None = None,
) -> DataFrame:
    """Distributed chunk read for s3 stores: list once on the driver,
    stride-interleave, one pyarrow parquet stream per file on the
    executors. ``files`` (bare object names) skips the listing and
    reads EXACTLY those objects — the post-write read-back path, where
    trusting a directory listing would let a zombie task attempt's
    object (flushed after the job's action returned) into the manifest
    commit. ``with_file`` appends the full file URI as ``__file``
    (the s3 twin of ``input_file_name()`` — vacuum's provenance).
    ``run_id`` pushes a row-group-pruning filter into the parquet
    reads — the JVM path gets this from Catalyst pushdown; without it
    every post-encode read-back would re-read the whole store's
    payload bytes to summarize one run. ``columns`` is the projection
    pushed INTO the per-file reads (Catalyst cannot prune columns
    through mapInArrow — CLAUDE.md gotcha): metadata consumers
    (vacuum, summarize) must pass it or every scan downloads the
    payload column too."""
    if files is not None:
        files = [join_uri(cdir, n) for n in files]
    else:
        files = list_files(spark, cdir, ".parquet")
    store_fields = list(CHUNKS_STORE_SPARK_SCHEMA.fields)
    if columns is not None:
        want_names = set(columns)
        store_fields = [f for f in store_fields if f.name in want_names]
    fields = list(store_fields)
    if with_file:
        fields = fields + [T.StructField("__file", T.StringType())]
    schema = T.StructType(fields)
    if not files:
        return spark.createDataFrame([], schema)
    sc = spark.sparkContext
    n = min(len(files), sc.defaultParallelism * 2)
    strided = [f for i in range(n) for f in files[i::n]]
    # createDataFrame over the strided list (same shape as
    # read_osm_pbf): it plans as `Scan ExistingRDD` in
    # defaultParallelism slices with no Exchange; its lineage still
    # holds PySpark's identity PythonRDD. Any contiguous re-slicing
    # preserves the stride balance.
    pdf = spark.createDataFrame([(f,) for f in strided], "path string")
    want = [
        CHUNKS_STORE_ARROW_SCHEMA.field(f.name) for f in store_fields
    ]

    def reader(batches):
        import pyarrow.parquet as pq

        for b in batches:
            for path in b.column("path").to_pylist():
                fs, inner = pa_fs(path)
                # schema probe first: a corrupt/truncated object must
                # FAIL the read (the JVM path would), never be skipped
                # — only a genuinely pre-run_id file (no run_id column)
                # may be passed over when filtering by run
                pf = pq.ParquetFile(inner, filesystem=fs)
                present = set(pf.schema_arrow.names)
                avail = [f.name for f in want if f.name in present]
                if run_id is None:
                    tbl = pf.read(columns=avail)
                    pf.close()
                else:
                    pf.close()
                    if "run_id" not in present:
                        continue
                    # read_table (a fresh footer fetch) for the
                    # row-group-pruning filter ParquetFile.read lacks
                    tbl = pq.read_table(
                        inner, filesystem=fs, columns=avail,
                        filters=[("run_id", "==", run_id)],
                    )
                cols = []
                for f in want:
                    if f.name in tbl.column_names:
                        cols.append(tbl.column(f.name).cast(f.type))
                    else:  # pre-metadata file: NULL column, like the
                        cols.append(  # explicit-schema JVM read
                            pa.nulls(len(tbl), type=f.type)
                        )
                names = [f.name for f in want]
                if with_file:
                    cols.append(
                        pa.array([path] * len(tbl), type=pa.string())
                    )
                    names.append("__file")
                out = pa.table(dict(zip(names, cols)))
                yield from out.to_batches()

    return pdf.mapInArrow(reader, schema)


def fetch_parquet_tables(spark, paths: list[str]) -> list:
    """Driver-side fetch of SMALL parquet parts (manifest/vacuum
    metadata) as arrow tables, route-aware: pyarrow schemes fetch
    through a 16-way thread pool (IO-bound, GIL-free inside Arrow —
    a long-lived store has one part per commit, and sequential GETs
    make resolution O(#commits) round trips); JVM/local routes read
    serially (py4j is not thread-safe). ONE owner for the pattern —
    read_parquet_dir_driver and compact_manifest both ride it."""
    import io
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    from .fsutil import read_bytes, uses_pyarrow

    def fetch(p):
        if uses_pyarrow(p):
            fs, inner = pa_fs(p)
            return pq.read_table(inner, filesystem=fs)
        return pq.read_table(io.BytesIO(read_bytes(spark, p)))

    if paths and all(uses_pyarrow(p) for p in paths):
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(fetch, paths))
    return [fetch(p) for p in paths]


def read_parquet_dir_driver(
    spark: SparkSession, dir_uri: str
) -> DataFrame | None:
    """Driver-side read of a SMALL parquet dir (manifest/vacuum parts —
    one row per partition commit) into a DataFrame; None when the dir
    is missing/empty. The s3 twin of spark.read.parquet for metadata
    tables that never exceed a few MB."""
    parts = list_files(spark, dir_uri, ".parquet")
    if not parts:
        return None
    tables = fetch_parquet_tables(spark, parts)
    return spark.createDataFrame(
        pa.concat_tables(tables, promote_options="default")
    )


__all__ = [
    "CHUNKS_STORE_ARROW_SCHEMA",
    "read_chunks_pyarrow",
    "read_parquet_dir_driver",
    "write_chunks_pyarrow",
    "join_uri",
]
