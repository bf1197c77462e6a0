"""Vacuum: physical GC of superseded and orphan chunk files.

The store is append-only — compaction and merge SUPERSEDE manifest
rows (last-wins per (snapshot, partition)) but never delete bytes, so
a long-lived 100 TB table accumulates dead chunk files forever.
Vacuum reclaims them the way Iceberg's expire_snapshots + orphan-file
removal does, using only the store's own metadata:

* a chunk parquet FILE is garbage when none of the (partition_id,
  run_id) pairs inside it is visible in the current committed view —
  covers both superseded rewrites and orphans from crashed runs
  (which never got a manifest row at all);
* the per-file pair set comes from a column-pruned scan of exactly
  two small metadata columns plus input_file_name() — payload bytes
  are never read, so vacuum cost is O(metadata), not O(table);
* retention: files younger than `older_than_s` are kept regardless
  (in-flight writers that have written chunks but not yet committed
  look like orphans; readers may hold older snapshots), and manifest
  commits newer than the horizon keep their superseded predecessors'
  time-travel window intact by default — pass older_than_s=0 only on
  a quiesced store (tests do);
* crash-safe: deletion is the last step and idempotent — a vacuum
  that dies mid-delete leaves some garbage files for the next run;
  a vacuum record (one manifest-style parquet part) is committed
  FIRST, recording `min_servable_as_of` (the max superseding-commit
  time over deleted SUPERSEDED files; NULL for orphan/zombie-only
  runs, which unserve nothing) so readers fail time travel into the
  vacuumed window with a clear error instead of a missing-file scan.

Reference parity: the reference never rewrites, so it needs no GC
(src/sink.rs:75-94 writes each file once); vacuum exists because this
engine adds compaction/merge on top.
"""

from __future__ import annotations

import json
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .manifest import read_chunks, read_manifest, store_path

VACUUM_SCHEMA = pa.schema(
    [
        ("vacuum_id", pa.string()),
        ("vacuumed_at", pa.float64()),
        ("horizon", pa.float64()),
        ("files_deleted", pa.int64()),
        ("bytes_reclaimed", pa.int64()),
        # oldest as_of this store can still serve after the deletion:
        # max SUPERSEDING-commit time over deleted superseded files
        # (orphan/zombie deletions never restrict time travel → NULL).
        # The mtime-based `horizon` above is a RETENTION knob, not a
        # serving cutoff — readers must use this column.
        ("min_servable_as_of", pa.float64()),
    ]
)


def vacuum(
    spark: SparkSession,
    out_dir: str,
    older_than_s: float = 24 * 3600.0,
    dry_run: bool = False,
) -> dict:
    """Delete chunk files with no visible (partition_id, run_id) pair.

    Returns {files_deleted, bytes_reclaimed, files_kept, horizon}.
    dry_run reports without deleting (and commits no record).
    """
    manifest = read_manifest(spark, out_dir)
    if manifest is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    now = time.time()
    horizon = now - older_than_s
    done = manifest.filter(F.col("status") == "done")
    visible = done.select("partition_id", "run_id").distinct()
    # file-level manifests (r6): the recorded per-run file sets let
    # vacuum catch ZOMBIE objects — a dead task attempt's stray whose
    # (pid, run_id) pairs are visible but whose name the commit never
    # recorded. Legacy rows (files NULL) disable the check wholesale.
    recorded: dict[str, set] = {}
    tracked = True
    for r in done.select("run_id", "files").distinct().collect():
        if r["files"] is None:
            tracked = False
            break
        recorded.setdefault(r["run_id"], set()).update(json.loads(r["files"]))
    # column-pruned metadata scan: 2 small columns + file provenance
    # (read_chunks with_file: input_file_name on the JVM path, the
    # reader's own path on the pyarrow/s3 path); a file lives iff ANY
    # of its (pid, run_id) pairs is visible
    file_rows = (
        read_chunks(
            spark, out_dir, with_file=True,
            columns=["partition_id", "run_id"],
        )
        .select(F.col("__file").alias("file"), "partition_id", "run_id")
        .distinct()
        .join(
            F.broadcast(visible.withColumn("__vis__", F.lit(1))),
            ["partition_id", "run_id"],
            "left_outer",
        )
        .groupBy("file")
        .agg(
            F.max(F.coalesce("__vis__", F.lit(0))).alias("live"),
            F.collect_set(
                F.struct("partition_id", "run_id")
            ).alias("pairs"),
        )
        .collect()  # one row per FILE — thousands, not rows; driver-safe
    )
    from .fsutil import delete_file, split_query, stat_file, write_sidecar

    deleted = 0
    reclaimed = 0
    kept = 0
    # (path, size, pairs, zombie) — stat ONCE per file
    victims: list[tuple[str, int, list, bool]] = []
    victim_bytes = 0
    for r in file_rows:
        path = r["file"]
        zombie = False
        runs = {p["run_id"] for p in r["pairs"]}
        if r["live"]:
            base = split_query(path)[0].rsplit("/", 1)[-1]
            zombie = (
                tracked
                and all(rn in recorded for rn in runs)
                and all(base not in recorded[rn] for rn in runs)
            )
            if not zombie:
                kept += 1
                continue
            # visible pairs but an unrecorded name: a dead attempt's
            # stray that can never become legitimate — falls through
            # to the same age-gated victim path as orphans
        try:
            mtime, sz = stat_file(spark, path)
        except Exception:  # noqa: BLE001 - already gone (concurrent vacuum)
            continue
        if mtime > horizon:
            kept += 1  # young orphan: may be an in-flight writer
            continue
        victims.append((path, sz, list(r["pairs"]), zombie))
        victim_bytes += sz

    # Serving cutoff (lazy — only when a record will be written): a
    # deleted SUPERSEDED file's rows were visible from their own
    # commit until their DIRECT SUCCESSOR commit in the same
    # (snapshot, partition) — not the partition's newest commit,
    # which would over-block still-servable mid-history views whose
    # files survive the mtime horizon. Orphans (run never committed)
    # and zombies (duplicate content of still-served rows) restrict
    # nothing. The record stores the max successor over deleted
    # files: as_of at/after it never references a deleted file.
    cutoff_candidates: list[float] = []
    if victims and not dry_run:
        from .manifest import _read_manifest_raw

        raw = _read_manifest_raw(spark, out_dir)
        commit_entries: dict[tuple, list] = {}
        by_sp: dict[tuple, list] = {}
        if raw is not None:
            for r in raw.select(
                "snapshot_id", "partition_id", "run_id", "committed_at"
            ).distinct().collect():
                commit_entries.setdefault(
                    (r["partition_id"], r["run_id"]), []
                ).append((r["snapshot_id"], r["committed_at"]))
                by_sp.setdefault(
                    (r["snapshot_id"], r["partition_id"]), []
                ).append(r["committed_at"])
        for _path, _sz, pairs, zomb in victims:
            if zomb:
                continue
            for p in pairs:
                key = (p["partition_id"], p["run_id"])
                for snap, t in commit_entries.get(key, ()):  # orphan: absent
                    succs = [
                        c for c in by_sp[(snap, p["partition_id"])] if c > t
                    ]
                    cutoff_candidates.append(min(succs) if succs else now)
    if not dry_run and victims:
        # commit the vacuum record BEFORE deleting: readers use its
        # min_servable_as_of (NOT the mtime retention horizon) to fail
        # time travel into the deleted window with a clear error
        vid = uuid.uuid4().hex[:12]
        rec = pa.Table.from_pylist(
            [
                {
                    "vacuum_id": vid,
                    "vacuumed_at": now,
                    "horizon": horizon,
                    "files_deleted": len(victims),
                    "bytes_reclaimed": victim_bytes,
                    "min_servable_as_of": (
                        max(cutoff_candidates)
                        if cutoff_candidates
                        else None
                    ),
                }
            ],
            schema=VACUUM_SCHEMA,
        )
        import io

        buf = io.BytesIO()
        pq.write_table(rec, buf)
        write_sidecar(
            spark, store_path(out_dir, "vacuum", f"part-{vid}.parquet"),
            buf.getvalue(),
        )
    if not dry_run:
        for path, sz, _pairs, _zomb in victims:
            try:
                if not delete_file(spark, path):
                    continue
                deleted += 1
                reclaimed += sz
            except Exception:  # noqa: BLE001 - concurrent vacuum won — fine
                pass
    return {
        "files_deleted": deleted,
        "bytes_reclaimed": reclaimed,
        "files_kept": kept,
        "horizon": horizon,
        "dry_run": dry_run,
        "candidates": len(victims),
    }
