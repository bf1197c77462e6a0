"""Chunk compaction: merge a partition's many small chunk groups into
one — the engine's answer to the reference's sink pooling (reference
src/pbf.rs:145-163), whose entire purpose is avoiding tiny output
files. Here the fix is a maintenance operator instead of runtime
pooling: decode + re-encode happen FUSED inside one mapInArrow pass
(chunk rows in → chunk rows out, no intermediate row shuffle), and the
new manifest commit supersedes the old one (read_manifest is
last-wins), making the old chunks invisible without deleting anything
— the same append-only supersede an Iceberg rewrite-data-files action
performs.

Compacting also improves compression: one dictionary/symbol-table per
partition instead of one per small chunk.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import compact_width, derive_chunk_target
from ..functions.codecs import decode_array
from ..operators.encode import CHUNKS_SPARK_SCHEMA, _encode_group, verify_checksum
from .manifest import (
    read_committed_chunks,
    read_manifest,
    write_and_commit_run,
)


def make_compact_fn(codecs: dict[str, str] | None, zstd_level: int,
                    target_chunk_bytes: int,
                    bloom_cols: tuple[str, ...] = ()):
    def compact_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # pid → seq → col_idx → (column, codec, params, payload)
        per_pid: dict[int, dict[int, dict[int, tuple]]] = {}
        for batch in batches:
            cols = {n: batch.column(n) for n in batch.schema.names}
            checksums = cols.get("checksum")
            for i in range(batch.num_rows):
                pid = cols["partition_id"][i].as_py()
                seq = cols["chunk_seq"][i].as_py()
                payload = cols["payload"][i].as_py()
                if checksums is not None:
                    verify_checksum(
                        payload, checksums[i].as_py(), f"pid {pid} seq {seq}"
                    )
                per_pid.setdefault(pid, {}).setdefault(seq, {})[
                    cols["col_idx"][i].as_py()
                ] = (
                    cols["column"][i].as_py(),
                    cols["codec"][i].as_py(),
                    cols["params"][i].as_py(),
                    payload,
                )
            del cols
        for pid in sorted(per_pid):
            seqs = per_pid[pid]
            col_order = sorted(next(iter(seqs.values())))
            arrays, names = [], []
            for idx in col_order:
                pieces = []
                for seq in sorted(seqs):
                    column, codec, params, payload = seqs[seq][idx]
                    pieces.append(decode_array(codec, params, payload))
                arrays.append(
                    pieces[0] if len(pieces) == 1 else pa.concat_arrays(pieces)
                )
                names.append(seqs[sorted(seqs)[0]][idx][0])
            tbl = pa.table(dict(zip(names, arrays)))
            # re-cut at the byte target: compaction merges small groups
            # but must not fuse a huge partition into one unbounded
            # chunk (per-group memory stays O(target_chunk_bytes))
            if tbl.nbytes <= target_chunk_bytes or tbl.num_rows <= 1:
                yield _encode_group(pid, 0, [tbl], codecs, zstd_level, bloom_cols)
            else:
                rows_per = max(1, int(tbl.num_rows * target_chunk_bytes / tbl.nbytes))
                seq = 0
                for off in range(0, tbl.num_rows, rows_per):
                    yield _encode_group(
                        pid, seq, [tbl.slice(off, rows_per)], codecs,
                        zstd_level, bloom_cols
                    )
                    seq += 1

    return compact_fn


def compact_partitions(
    spark: SparkSession,
    out_dir: str,
    snapshot_id: str = "snap-0",
    min_chunks: int = 2,
    codecs: dict[str, str] | None = None,
    zstd_level: int = 3,
    num_partitions: int | None = None,
    target_chunk_bytes: int | None = None,
    rotate_bytes: int = 512 << 20,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Rewrite every committed partition with ≥ min_chunks chunk groups
    into a single group; append + supersede, idempotent and crash-safe
    (an interrupted compaction leaves only invisible orphan chunks)."""
    manifest = read_manifest(spark, out_dir)
    if manifest is None:
        return {"compacted_partitions": 0}
    targets = manifest.filter(
        (F.col("snapshot_id") == snapshot_id)
        & (F.col("status") == "done")
        & (F.col("n_chunks") >= min_chunks)
    ).select("partition_id", "run_id", "files")
    n_targets = targets.count()
    if n_targets == 0:
        return {"compacted_partitions": 0}

    visible = read_committed_chunks(spark, out_dir, targets)
    n = num_partitions or compact_width(spark)
    if target_chunk_bytes is None:
        target_chunk_bytes = derive_chunk_target(spark)
    run_id = uuid.uuid4().hex[:12]
    compacted = (
        visible.repartition(n, "partition_id")
        .mapInArrow(
            make_compact_fn(codecs, zstd_level, target_chunk_bytes,
                            tuple(bloom_cols or ())),
            CHUNKS_SPARK_SCHEMA,
        )
        .withColumn("run_id", F.lit(run_id))
    )
    # B4 rotation parity with encode_job: bound physical file sizes.
    # n_cols comes from one TARGETED manifest row's codec map (filtered
    # to the snapshot/status being compacted — an unfiltered .first()
    # could pick a row from another snapshot with a different column
    # count and mis-size maxRecordsPerFile) — no scan job over the
    # chunk store just to count columns.
    import json as _json

    codecs_json = (
        manifest.filter(
            (F.col("snapshot_id") == snapshot_id) & (F.col("status") == "done")
        )
        .select("codecs")
        .first()["codecs"]
    )
    n_cols = max(1, len(_json.loads(codecs_json)))
    max_records = max(
        n_cols, (rotate_bytes // max(1, target_chunk_bytes)) * n_cols
    )
    rows = write_and_commit_run(
        spark, compacted, out_dir, run_id, snapshot_id, max_records
    )
    return {
        "compacted_partitions": len(rows),
        "run_id": run_id,
        "bytes_out": int(sum(r["bytes_out"] for r in rows)),
    }
