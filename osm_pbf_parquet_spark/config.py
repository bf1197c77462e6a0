"""Engine configuration — the Spark twin of the reference CLI surface
(reference src/util.rs:24-61: --compression (zstd level, default 3),
--record-batch-target-bytes, --file-target-size, --worker-threads).

The adaptive chunk target reproduces the reference's memory-derived
batch default (src/util.rs:97-101: total_memory / cpus / 8), computed
from the Spark session's executor/driver memory so the same job sizes
itself correctly from a laptop to a 1000-executor cluster.
"""

from __future__ import annotations

import re

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
MIN_CHUNK = 4 << 20
MAX_CHUNK = 512 << 20


def parse_mem(s: str) -> int:
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", s.strip().lower())
    if not m:
        raise ValueError(f"unparseable memory size: {s!r}")
    return int(m.group(1)) * _UNITS.get(m.group(2), 1)


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
        cores = int(conf.get("spark.executor.cores"))
    except Exception:  # noqa: BLE001
        cores = spark.sparkContext.defaultParallelism or 4
    return max(MIN_CHUNK, min(MAX_CHUNK, mem // max(1, cores) // 8))


def derive_decode_task_bytes(spark) -> int:
    """Target COMPRESSED chunk bytes per decode task (r7).

    Decode work per compressed byte is ~15× a plain JVM row exchange's:
    zstd decompress fans out ~6×, the codec kernels touch every value,
    and the full decoded width crosses the Python→JVM Arrow boundary.
    AQE's advisoryPartitionSizeInBytes (64 MB, tuned for JVM row work)
    is therefore the wrong unit for the decode co-location exchange —
    measured on a cached 64-group lineitem chunk table it folded a
    32 MB / 2.4M-row decode to ONE task (3.2 s vs 0.64 s at the 8 MB
    target; one session per scale, local[32]). 8 MB compressed ≈ 50 MB
    decoded ≈ 100–300 ms of kernel per task — well above the ~5–10 ms
    python task setup cost, well below straggler granularity.
    Env-overridable via SPARK_GRAFT_DECODE_TASK_BYTES for corpora whose
    decode cost per byte is unusual (e.g. stored-uncompressed blobs).
    """
    import os

    v = os.environ.get("SPARK_GRAFT_DECODE_TASK_BYTES")
    if v:
        try:
            return max(1, int(v))
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_DECODE_TASK_BYTES={v!r}: expected a whole "
                "number of bytes (e.g. 8388608)"
            ) from None
    return 8 << 20


def aqe_enabled(spark) -> bool:
    """spark.sql.adaptive.enabled, read as Spark reads a boolean conf
    (case-insensitively; an unreadable conf means the default, on)."""
    try:
        v = spark.conf.get("spark.sql.adaptive.enabled", "true")
    except Exception:  # noqa: BLE001
        return True
    return str(v).strip().lower() == "true"


def bypass_merge_threshold(spark) -> int:
    """spark.shuffle.sort.bypassMergeThreshold (static core conf):
    exchanges with <= this many reduce partitions use the bypass-merge
    writer, which creates one file PER REDUCE PARTITION per map task
    (M x R file creates + merges + deletes). Past it, the sort-based
    writer emits ONE data+index file pair per map task."""
    try:
        return int(
            spark.sparkContext.getConf().get(
                "spark.shuffle.sort.bypassMergeThreshold", "200"
            )
        )
    except Exception:  # noqa: BLE001 — unreadable conf: spec default
        return 200


def derive_shuffle_partitions(spark, floor: int = 0) -> int:
    """Partition count for operator-internal value-keyed exchanges
    (bucket windows, pair dedup): at least the session's
    spark.sql.shuffle.partitions and 2x cores, and strictly ABOVE the
    bypass-merge threshold.

    Why the threshold nudge (r7, measured): a many-map exchange into
    R <= threshold reducers pays M x R shuffle-file creates/deletes —
    on this host the 256-map x 64-reducer bucket exchange spent ~30
    CPU-s in FileOutputStream.open0/delete0 (thread dumps), and moving
    to 301 reducers (single-file sort writer) took the window stage
    4.7 s -> 2.0 s wall. On a real cluster shuffle.partitions for a
    100 TB corpus is far above 200 already, so the nudge is a no-op
    there; it only corrects small-session defaults.
    """
    try:
        sql_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:  # noqa: BLE001
        sql_parts = 200
    cores = spark.sparkContext.defaultParallelism or 4
    n = max(sql_parts, 2 * cores, floor)
    bypass = bypass_merge_threshold(spark)
    if n <= bypass:
        n = bypass + 1
    return n


def widen_for_kernel(df, factor: int = 2, min_task_bytes: int | None = None):
    """Widen a NARROW input before a per-byte map-side kernel
    (minhash/gram/signature mapInArrow passes) so the kernel uses every
    core instead of the input's accidental partition count.

    A small table read from one or two parquet files arrives in 1-2
    partitions; a mapInArrow kernel then runs on 1-2 cores while the
    rest of the cluster idles (measured r7: the sf1 minhash signature
    pass over 2 cached partitions took 6.3 s at local[32]). The target
    is factor x cores (default 2x): every mapInArrow task pays a fixed
    worker/stream protocol cost (~4.4 ms of wall per task at 32 slots
    on this host — measured with a trivial kernel), so 8x-cores task
    counts LOSE to 2x even under doc-length skew (sf1 gram stage:
    0.72 s at 64 tasks vs 1.62 s at 256; round-robin's row balance
    keeps per-task byte skew small). At 100 TB inputs already carry
    >= thousands of partitions and this is a no-op — the check is
    partition-count-based, not a constant tuned to local mode. The
    round-robin exchange moves only the narrow (id, text) projection
    the kernel consumes, and every downstream consumer here is
    partitioning-insensitive (groupBy/window re-shuffle by value), so
    results are unchanged.

    ``min_task_bytes`` (r7, for LIGHT kernels): cap the widened width
    so each task gets at least this many input bytes (Catalyst plan
    estimate — exact for cached/scan inputs). A sub-MB table widened
    to 2x cores pays ~64 task setups + an exchange for work one core
    finishes in tens of ms (measured: the sf0.1 similarity_topk
    cosine fold over a 0.5 MB cached table REGRESSED 0.17 -> 0.28 s
    when widened to 64). With the cap, tiny inputs skip the exchange
    entirely and mid-size inputs widen just enough. Heavy numpy
    kernels (minhash etc.) pass no cap: their per-byte cost is high
    enough that even small inputs amortize the spread.
    """
    target = factor * (df.sparkSession.sparkContext.defaultParallelism or 4)
    if min_task_bytes:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            target = max(1, min(target, est // min_task_bytes))
        except Exception:  # noqa: BLE001 — estimate unavailable: no cap
            pass
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def derive_num_partitions(spark, factor: int = 8, floor: int = 32) -> int:
    """Default engine-partition (pid VALUE) count: ≥ factor × cores.

    It sets how finely rows are routed into chunk groups, and so the
    upper bound on encode tasks, not the task count itself: a light
    input (< 16 MB per pid) encodes on ~one task per chunk target of
    bytes (≥ cores), because every Python task costs a fixed ~0.3 s
    of worker CPU (encode.encode_dataframe). A heavy input runs on the
    AQE-coalesced pid exchange, where ≳8× cores pids keep every slot
    busy (the r3 sweep, BENCH_r03: 133→194 MB/s monotone in pid count
    at local[32]; with N ≈ cores one slow pid serializes the tail). At
    1000 executors × 8 cores this yields ≥ 64k pids — ~1.5 GB each for
    a 100 TB scan. Callers that need pid-stable resume across
    differently-sized clusters should pin num_partitions explicitly
    (or rely on store_meta, which encode_job records and reuses).
    """
    cores = spark.sparkContext.defaultParallelism or 4
    return max(floor, factor * cores)
