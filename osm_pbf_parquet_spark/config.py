"""Engine configuration — the Spark twin of the reference CLI surface
(reference src/util.rs:24-61: --compression (zstd level, default 3),
--record-batch-target-bytes, --file-target-size, --worker-threads).

The adaptive chunk target reproduces the reference's memory-derived
batch default (src/util.rs:97-101: total_memory / cpus / 8), computed
from the Spark session's executor/driver memory so the same job sizes
itself correctly from a laptop to a 1000-executor cluster.

This module is the ONE place that sizes work: every task count,
exchange width and size estimate in the engine comes from a function
here (tests/test_config.py guards it). All of them exist to amortize
the fixed cost of a Python task — ~0.3 s of worker CPU per
mapInArrow task whatever its data — against the work the task does,
so they are written in bytes and cores.
"""

from __future__ import annotations

import re

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
MIN_CHUNK = 4 << 20
MAX_CHUNK = 512 << 20

#: spread the encode exchange only when a pid carries at least this
#: much data: the spread's ~3x empty buckets each pay a no-input
#: python worker task (~10 ms), which only amortizes against heavy
#: per-pid bridge+kernel work. sf1 A/B (same session, best-of-3):
#: lineitem at 29 MB/pid 3.99 -> 3.51 s with spread; events at
#: 0.5 MB/pid 1.08 -> 2.18 s WITH spread (regression) — hence gated.
SPREAD_MIN_BYTES_PER_PID = 16 << 20

#: COMPRESSED chunk bytes per decode task. Decode work per compressed
#: byte is ~15× a plain JVM row exchange's: zstd decompress fans out
#: ~6×, the codec kernels touch every value, and the full decoded
#: width crosses the Python→JVM Arrow boundary. So AQE's 64 MB
#: advisoryPartitionSizeInBytes (tuned for JVM row work) is the wrong
#: unit: on a cached 64-group lineitem chunk table it folded a 32 MB /
#: 2.4M-row decode to ONE task (3.2 s vs 0.64 s at 8 MB; local[32]).
#: 8 MB compressed ≈ 50 MB decoded ≈ 100–300 ms of kernel per task.
DECODE_TASK_BYTES = 8 << 20


def parse_mem(s: str) -> int:
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", s.strip().lower())
    if not m:
        raise ValueError(f"unparseable memory size: {s!r}")
    return int(m.group(1)) * _UNITS.get(m.group(2), 1)


def cores(spark) -> int:
    """The session's task slots (defaultParallelism; 4 if it reads 0)."""
    return spark.sparkContext.defaultParallelism or 4


def plan_bytes(df) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` for df; None when the
    internal API is unavailable.

    It is Catalyst's statistic, not the Arrow bytes a Python worker
    receives. For 12,000 pages rows (11.55 MB as Arrow):
    - a parquet scan reports the files' on-disk (compressed) bytes,
      5.10 MB;
    - its ``.cache()`` reports the same, unless its plan is first
      analysed after the cache is materialized: then the in-memory
      bytes, 11.55 MB (a plan's statistics are memoized);
    - ``createDataFrame`` over pandas or Arrow reports 2.11 MB;
    - ``createDataFrame`` over a Python list, and so every source
      built on striped_frame (read_osm_pbf, read_framed), reports
      Long.MaxValue: Spark has no estimate for an RDD.
    Other operators propagate their child's figure."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — estimate-only path
        return None


def derive_chunk_target(spark) -> int:
    """memory / cores / 8, clamped — reference src/util.rs:97-101."""
    conf = spark.conf
    mem = None
    for key in ("spark.executor.memory", "spark.driver.memory"):
        try:
            v = conf.get(key)
        except Exception:  # noqa: BLE001 - unset key raises
            v = None
        if v:
            mem = parse_mem(v)
            break
    if mem is None:
        mem = 2 << 30
    try:
        n = int(conf.get("spark.executor.cores"))
    except Exception:  # noqa: BLE001
        n = cores(spark)
    return max(MIN_CHUNK, min(MAX_CHUNK, mem // max(1, n) // 8))


def aqe_enabled(spark) -> bool:
    """spark.sql.adaptive.enabled, read as Spark reads a boolean conf
    (case-insensitively; an unreadable conf means the default, on)."""
    try:
        v = spark.conf.get("spark.sql.adaptive.enabled", "true")
    except Exception:  # noqa: BLE001
        return True
    return str(v).strip().lower() == "true"


def aqe_initial_partitions(spark) -> int:
    """AQE's initial reducer count for the session hook: past the
    default bypass-merge threshold (200), so value-keyed exchanges
    start on the sort writer and AQE folds them by bytes."""
    return max(1024, 8 * cores(spark))


def _sql_shuffle_partitions(spark, default: int) -> int:
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except Exception:  # noqa: BLE001 — unreadable conf: caller's default
        return default


def _past_bypass(spark, n: int) -> int:
    """n, raised past spark.shuffle.sort.bypassMergeThreshold (a static
    core conf). Exchanges with <= that many reduce partitions use the
    bypass-merge writer, which creates one file PER REDUCE PARTITION
    per map task (M x R file creates + merges + deletes): at local[32]
    a 256-map x 64-reducer bucket exchange spent ~30 CPU-s in
    FileOutputStream.open0/delete0 (thread dumps), and 301 reducers
    (one data+index pair per map task) took that stage 4.7 s -> 2.0 s.
    A large cluster's widths are already past it; this corrects only
    small-session defaults."""
    try:
        bypass = int(
            spark.sparkContext.getConf().get(
                "spark.shuffle.sort.bypassMergeThreshold", "200"
            )
        )
    except Exception:  # noqa: BLE001 — unreadable conf: spec default
        bypass = 200
    return max(n, bypass + 1)


def derive_shuffle_partitions(spark) -> int:
    """Partition count for operator-internal value-keyed exchanges
    (bucket windows, pair dedup): at least the session's
    spark.sql.shuffle.partitions and 2x cores, past the bypass-merge
    threshold."""
    return _past_bypass(
        spark, max(_sql_shuffle_partitions(spark, 200), 2 * cores(spark))
    )


def compact_width(spark) -> int:
    """Task count of compaction's partition_id exchange: the session's
    spark.sql.shuffle.partitions (32 when unset)."""
    return _sql_shuffle_partitions(spark, 32)


def derive_num_partitions(spark) -> int:
    """Default engine-partition (pid VALUE) count: ≥ 8 × cores, ≥ 32.

    It sets how finely rows are routed into chunk groups, and so the
    upper bound on encode tasks, not the task count itself (see
    encode_width). A heavy input runs on the AQE-coalesced pid
    exchange, where ≳8× cores pids keep every slot busy (the r3 sweep,
    BENCH_r03: 133→194 MB/s monotone in pid count at local[32]; with
    N ≈ cores one slow pid serializes the tail). At 1000 executors ×
    8 cores this yields ≥ 64k pids — ~1.5 GB each for a 100 TB scan.
    Callers that need pid-stable resume across differently-sized
    clusters should pin num_partitions explicitly (or rely on
    store_meta, which encode_job records and reuses).
    """
    return max(32, 8 * cores(spark))


def encode_width(spark, est: int | None, pids: int, target: int) -> int | None:
    """Task count of encode's pid-keyed exchange for an input of est
    plan bytes routed into `pids` pid values with a `target` chunk
    size; None means the AQE-coalescible keyed repartition (no count).

    Rows of one pid always land in exactly one task (hash of the pid
    value; AQE merges whole reducer buckets, never splits one), which
    (partition_id, chunk_seq) uniqueness needs; the pid values, and so
    every chunk row, do not depend on the width.

    - Heavy per-pid input (≥ SPREAD_MIN_BYTES_PER_PID), AQE on: None.
      With the session hook's high initialPartitionNum the exchange
      uses the single-file sort writer, pid values rarely collide, and
      AQE folds the empty buckets away instead of paying ~200 no-input
      python workers (sf1 A/B on encode_lineitem: 3.22 s vs 3.74 s
      explicit spread vs 3.99 s fixed N).
    - Heavy, AQE off: ~4× pids buckets, past the bypass-merge
      threshold. N pid values hashed into N buckets leave ~1/e of the
      tasks empty and hand some 2-3 pids (the sf1 critical path was ~3
      pid-units); 4× makes collisions rare (E[pairs] ~ N²/2B), and an
      empty bucket costs one ~10 ms no-input task.
    - Light: a fixed-N exchange, whose N follows the input bytes —
      about one chunk target per task, at least one task per core, at
      most one per pid (`pids` without an estimate). The AQE shape's
      1024-bucket map writer and planning rounds cost more than they
      save here (sf1 A/B: events 1.08 s fixed vs 2.18 s spread), and
      one task per pid spends a small encode on task setup (identity
      mapInArrow over the pages bench input, local[4]: 0.53 s at 4
      tasks, 2.8 s at 32).
    """
    if est is not None and est // max(1, pids) >= SPREAD_MIN_BYTES_PER_PID:
        if aqe_enabled(spark):
            return None
        return _past_bypass(spark, 4 * pids + 1)
    if est is None:
        return pids
    return min(pids, max(cores(spark), -(-est // target)))


def decode_width(spark, est: int | None) -> int:
    """Task count of decode's co-location exchange for a chunk table of
    est plan bytes: one task per DECODE_TASK_BYTES, at least 1 (a point
    lookup's pruned survivors fold to one task), at most 4× cores (a
    100 TB store); 2× cores without an estimate."""
    n = cores(spark)
    if est is None:
        return 2 * n
    return max(1, min(-(-est // DECODE_TASK_BYTES), 4 * n))


def kernel_width(spark, est: int | None, min_task_bytes: int | None) -> int:
    """Target partition count for a map-side kernel (widen_for_kernel):
    2× cores, capped at est // min_task_bytes (≥ 1) when a cap and an
    estimate are both given."""
    target = 2 * cores(spark)
    if min_task_bytes and est is not None:
        target = max(1, min(target, est // min_task_bytes))
    return target


def widen_for_kernel(df, min_task_bytes: int | None = None):
    """Widen a NARROW input before a per-byte map-side kernel
    (minhash/gram/signature mapInArrow passes) so the kernel uses every
    core instead of the input's accidental partition count.

    A small table read from one or two parquet files arrives in 1-2
    partitions; a mapInArrow kernel then runs on 1-2 cores while the
    rest of the cluster idles (the sf1 minhash signature pass over 2
    cached partitions took 6.3 s at local[32]). The target is 2x
    cores: every mapInArrow task pays a fixed worker/stream cost, so
    8x-cores task counts LOSE to 2x even under doc-length skew (sf1
    gram stage: 0.72 s at 64 tasks vs 1.62 s at 256; round-robin's
    row balance keeps per-task byte skew small). Inputs that already
    carry that many partitions pass unchanged. The round-robin
    exchange moves only the narrow projection the kernel consumes,
    and every downstream consumer here is partitioning-insensitive
    (groupBy/window re-shuffle by value), so results are unchanged.

    ``min_task_bytes`` (for LIGHT kernels) caps the width so each task
    gets at least this many plan bytes (plan_bytes). A sub-MB table
    widened to 2x cores pays ~64 task setups + an exchange for work
    one core finishes in tens of ms (the sf0.1 similarity_topk cosine
    fold over a 0.5 MB cached table went 0.17 -> 0.28 s when widened
    to 64). With the cap, tiny inputs skip the exchange and mid-size
    inputs widen just enough. Heavy numpy kernels (minhash etc.) pass
    no cap: their per-byte cost amortizes the spread.
    """
    est = plan_bytes(df) if min_task_bytes else None
    target = kernel_width(df.sparkSession, est, min_task_bytes)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def striped_frame(spark, rows: list, schema: str):
    """A driver-side work list (PBF blobs, framed blocks, store files)
    as a DataFrame, stride-interleaved over min(len, 2 × cores) groups:
    the list is reordered so group t holds rows t, t+n, t+2n, ….

    createDataFrame over a list plans as `Scan ExistingRDD` with no
    Exchange (its lineage keeps PySpark's identity PythonRDD under
    SerDeUtil) and splits into defaultParallelism contiguous slices —
    the task count is the session's either way (4 tasks for the 8
    blobs of the perfbench PBF at local[4]). A repartition(n) would
    add a full Exchange stage, and a `spark.range(len, n)` leaf
    measured slower (read_osm_pbf into a noop 0.636 → 0.710 s median,
    8 tasks against 4, local[4]). Work cost clusters by position (a
    planet PBF is a long dense-node run, then ways, then relations),
    so contiguous slices of the raw list hand whole regions to a few
    straggler tasks (2× wall on the mixed 13.2M-element fixture); any
    contiguous slicing of the strided list keeps each slice's mix, so
    n sets only row order and balance.
    """
    n = min(len(rows), 2 * cores(spark))
    strided = [r for i in range(n) for r in rows[i::n]]
    return spark.createDataFrame(strided, schema)
