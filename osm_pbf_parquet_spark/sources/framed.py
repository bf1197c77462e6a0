"""Binary-framed source: length-prefixed compressed blocks → DataFrame.

The reference's actual input is a framed binary stream — a sequence of
[4-byte big-endian length][compressed blob] records, each blob decoding
to a batch of elements (reference src/pbf.rs:45-91 `process_blobs`;
blob decompression :70-83). This module re-expresses that ingestion
Spark-first:

  1. `scan_frames` — a header-only driver scan builds the frame index
     (offset, length) without reading payloads: O(#blocks) seeks, the
     same cheap index pass the reference's sequential reader amortizes.
     At 100 TB on S3 this is a ranged-GET walk of the headers (or a
     sidecar index file); the index itself is tiny (16 B/block).
  2. `read_framed` — the index becomes a DataFrame, repartitioned so
     each TASK owns a slice of blocks (the reference's task-per-blob
     fan-out, src/pbf.rs:64-89), and a mapInArrow kernel seeks/reads/
     inflates/parses its blocks independently — block-parallel decode
     with zero shuffle and per-task memory bounded by the largest
     block.

Frame payload = zlib(Arrow IPC stream). Arrow IPC stands in for the
reference's protobuf block; the framing, inflation, and block-parallel
execution are the load-bearing parts.
"""

from __future__ import annotations

import io
import os
import struct
import zlib
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

FRAME_HEADER = struct.Struct(">I")
MAX_FRAME_BYTES = 1 << 30  # sanity bound: a corrupt length must not OOM


def write_framed(path: str, table: pa.Table, block_rows: int = 1000) -> int:
    """Serialize a table as a framed binary file; returns #blocks.
    Fixture/egress duty — written temp+rename so readers never see a
    half-written file."""
    tmp = f"{path}.tmp-{os.getpid()}"
    n_blocks = 0
    with open(tmp, "wb") as f:
        for off in range(0, table.num_rows, block_rows):
            chunk = table.slice(off, block_rows)
            sink = io.BytesIO()
            with pa.ipc.new_stream(sink, chunk.schema) as w:
                for b in chunk.to_batches():
                    w.write_batch(b)
            payload = zlib.compress(sink.getvalue(), 6)
            f.write(FRAME_HEADER.pack(len(payload)))
            f.write(payload)
            n_blocks += 1
    os.replace(tmp, path)
    return n_blocks


def scan_frames(path: str) -> list[tuple[int, int]]:
    """Frame index [(payload_offset, payload_length)] — reads only the
    4-byte headers (seek past every payload). Raises on truncation or
    an absurd length: corrupt framing fails the job loudly (reference
    panics on corrupt blobs, SURVEY X6)."""
    idx: list[tuple[int, int]] = []
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        off = 0
        while off < size:
            hdr = f.read(4)
            if len(hdr) < 4:
                raise ValueError(f"truncated frame header at offset {off}")
            (ln,) = FRAME_HEADER.unpack(hdr)
            if ln > MAX_FRAME_BYTES or off + 4 + ln > size:
                raise ValueError(
                    f"corrupt frame at offset {off}: length {ln} exceeds file"
                )
            idx.append((off + 4, ln))
            f.seek(ln, 1)
            off += 4 + ln
    return idx


def decode_block(path: str, offset: int, length: int) -> pa.Table:
    """Read + inflate + parse ONE block (the per-task unit)."""
    with open(path, "rb") as f:
        f.seek(offset)
        payload = f.read(length)
    if len(payload) != length:
        raise ValueError(f"short read at offset {offset}")
    raw = zlib.decompress(payload)
    return pa.ipc.open_stream(io.BytesIO(raw)).read_all()


def read_framed(
    spark: SparkSession, path: str, num_partitions: int | None = None
) -> DataFrame:
    """Framed binary file → DataFrame, block-parallel.

    The frame index is parallelized across tasks; each task seeks and
    decodes only its own blocks. Local-path seeks here; at scale the
    same kernel issues S3 ranged GETs — the access pattern (bounded
    random reads, no full-file pass per task) is identical.
    """
    idx = scan_frames(path)
    if not idx:
        raise ValueError(f"no frames in {path}")
    # schema from the first block only (one small driver read)
    arrow_schema = decode_block(path, *idx[0]).schema
    from pyspark.sql.pandas.types import from_arrow_schema

    spark_schema = from_arrow_schema(arrow_schema)

    n = num_partitions or min(
        len(idx), int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    )
    # stride-interleave + createDataFrame (same shape as
    # read_osm_pbf): the old round-robin repartition(n) was a full
    # Exchange stage of the index rows. The list plans as `Scan
    # ExistingRDD` in defaultParallelism slices with no shuffle (see
    # read_osm_pbf), and striding keeps any contiguous re-slicing
    # balanced across the file's regions.
    rows = [(path, o, ln) for o, ln in idx]
    strided = [r for i in range(n) for r in rows[i::n]]
    index_df = spark.createDataFrame(
        strided, "path string, offset long, length long"
    )

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            paths = batch.column("path")
            offs = batch.column("offset")
            lens = batch.column("length")
            for i in range(batch.num_rows):
                tbl = decode_block(
                    paths[i].as_py(), offs[i].as_py(), lens[i].as_py()
                )
                yield from tbl.to_batches()

    return index_df.mapInArrow(decode_fn, spark_schema)


def framed_fixture(sf_dir: str, table: str, block_rows: int = 500) -> str:
    """Deterministic framed twin of a testdata parquet table, cached in
    /tmp (fixture duty for the rt_framed_source contract row)."""
    import pyarrow.parquet as pq

    key = f"{sf_dir.strip('/').replace('/', '_')}_{table}_{block_rows}"
    path = f"/tmp/framed_{key}.bin"
    if not os.path.exists(path):
        src = pq.read_table(f"{sf_dir}/{table}.parquet")
        write_framed(path, src, block_rows)
    return path
