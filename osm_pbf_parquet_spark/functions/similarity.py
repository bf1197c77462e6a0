"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline (and the DuckDB-
oracle query); the LSH-bucketed variant in operators/dedup.py is the
scale path. Dot products run JVM-side via zip_with + aggregate —
no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k rows by cosine similarity to a constant query vector.

    Plan shape: scan → projection with a codegen'd fold → top-k sort
    (Spark's TakeOrderedAndProject — no full sort, no shuffle of the
    full table). At 100 TB this parallelizes as per-partition top-k
    + driver merge, which is exactly what TakeOrderedAndProject does.
    """
    from ..config import widen_for_kernel

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # the cosine fold is an interpreted HOF over dim elements per row,
    # so it is per-byte kernel work: widen narrow inputs before it
    # (r7 — a 2-partition cached table ran the fold on 2 cores;
    # measured sf1 0.36 -> 0.21 s widened). No-op for wide inputs.
    # min_task_bytes: the fold is LIGHT per byte (interpreted JVM, no
    # python boundary) — widening a sub-MB table to 2x cores regressed
    # sf0.1 0.17 -> 0.28 s, so tiny inputs keep their layout and the
    # exchange only happens when >= ~1 MB/task of fold work exists.
    scored = widen_for_kernel(
        df.select(id_col, vec_col), min_task_bytes=1 << 20
    ).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample_size: int = 1024,
    iters: int = 5,
    seed: int = 7,
):
    """Deterministic driver-side k-means over a bounded sample — the
    IVF coarse quantizer. The sample is tiny (≤ sample_size vectors)
    regardless of table size; the heavy work (assignment) stays
    distributed in ivf_assign.

    Sampling is an UNBIASED deterministic hash order (r5 advice:
    ``orderBy(id).limit(n)`` biased training to the lowest ids —
    e.g. the oldest crawl records): TakeOrderedAndProject on
    xxhash64(id, seed) keeps per-partition top-n + merge (no full
    sort, no driver loop) while drawing uniformly from the whole id
    space; the id tiebreak pins determinism even under hash collisions.
    """
    import numpy as np

    sample = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    X = np.array([r[1] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (cosine) with an
    Arrow-batched vectorized matmul — one numpy GEMM per batch, no
    per-row Python. Output: (id, cell, vec)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    cents = [[float(x) for x in c] for c in centroids]
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("cell", T.IntegerType()),
            df.schema[vec_col],
        ]
    )

    def fn(batches):
        C = np.array(cents, dtype=np.float64).T  # (dim, n_cents)
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            cell = np.argmax(X @ C, axis=1).astype("int32")
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": cell, vec_col: pdf[vec_col]}
            )

    return df.select(id_col, vec_col).mapInPandas(fn, out_schema)


def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    cache: bool = True,
):
    """Build the IVF index ONCE: (centroids, cell-assigned table).
    The assigned table is cached (and at scale would be persisted,
    partitioned by cell) so each query touches only its probed cells —
    without reuse, assignment would cost a full scan per query and the
    'scale path' would be slower than brute force."""
    cents = kmeans_centroids(df, vec_col, id_col, n_centroids)
    assigned = ivf_assign(df, cents, vec_col, id_col)
    if cache:
        assigned = assigned.cache()
    return cents, assigned


def ivf_search(
    index,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k against a prebuilt ivf_index: rank centroids
    by query similarity, scan only the n_probe nearest cells."""
    import numpy as np

    cents, assigned = index
    q = np.array(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(cents @ qn))
    probe = [int(c) for c in order[: min(n_probe, len(cents))]]
    candidates = assigned.filter(F.col("cell").isin(probe))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index=None,
) -> DataFrame:
    """One-shot convenience: build (or reuse via `index=`) an IVF index
    and search it. With n_probe == n_centroids the result is EXACTLY
    cosine_topk, which is how the correctness oracle validates the
    whole machinery."""
    if index is None:
        index = ivf_index(df, vec_col, id_col, n_centroids, cache=False)
    return ivf_search(index, query_vec, k, n_probe, vec_col, id_col)


def sql_cosine_topk(table: str, query_vec: list[float], k: int,
                    vec_col: str = "embedding", id_col: str = "vec_id") -> str:
    """DuckDB twin of cosine_topk (same fold order, same rounding)."""
    qlit = "[" + ", ".join(f"{float(x)!r}" for x in query_vec) + "]"
    return f"""
        SELECT {id_col},
               round(
                 list_sum(list_transform(list_zip({vec_col}, {qlit}),
                          p -> CAST(p[1] AS DOUBLE) * p[2]))
                 / (sqrt(list_sum(list_transform({vec_col}, x -> CAST(x AS DOUBLE) * x)))
                    * sqrt(list_sum(list_transform({qlit}, x -> CAST(x AS DOUBLE) * x)))),
                 4) AS cos_sim
        FROM {table}
        ORDER BY cos_sim DESC, {id_col}
        LIMIT {k}
    """


def ivf_build_store(
    spark,
    df: DataFrame,
    out_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    target_chunk_bytes: int | None = None,
):
    """Persisted IVF index: the cell-assigned table encoded through the
    chunk store PARTITIONED BY CELL (pid = cell id), centroids in a
    JSON sidecar. The scale path the in-memory `.cache()` of ivf_index
    cannot be (r3 verdict): at 10^12 vectors the assigned table must
    live on disk, laid out so a probe reads only its cells — here a
    probe's chunk scan filters partition_id ∈ probed cells, so the
    parquet scan prunes every other cell's chunk rows (payload bytes
    of unprobed cells are never read). Build cost is one assignment
    pass + one encode; amortized over every query.

    Returns the centroid matrix (also persisted)."""
    import json

    import numpy as np

    from ..operators.encode import PID_COL
    from ..plans.manifest import encode_job

    cents = kmeans_centroids(df, vec_col, id_col, n_centroids)
    assigned = ivf_assign(df, cents, vec_col, id_col)
    with_pid = assigned.withColumn(PID_COL, F.col("cell").cast("long"))
    encode_job(
        spark, with_pid, out_dir, key_col=id_col,
        num_partitions=len(cents), target_chunk_bytes=target_chunk_bytes,
    )
    from ..plans.fsutil import write_sidecar

    payload = json.dumps(
        [[float(x) for x in c] for c in np.asarray(cents)]
    ).encode()
    from ..plans.manifest import store_path

    write_sidecar(
        spark, store_path(out_dir, "ivf_centroids.json"), payload
    )
    return cents


def ivf_store_spark_schema(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id"):
    """Stored-row schema of a persisted IVF store built from `df`."""
    from pyspark.sql import types as T

    return T.StructType(
        [df.schema[id_col], T.StructField("cell", T.IntegerType()),
         df.schema[vec_col]]
    )


def ivf_probe_chunks(spark, out_dir: str, query_vec: list[float],
                     n_probe: int):
    """(probed cell ids, committed chunk rows pruned to those cells).
    Exposed separately so tests can assert the scan's partition set."""
    import json

    import numpy as np

    from ..plans.fsutil import read_bytes
    from ..plans.manifest import (
        read_committed_chunks,
        read_manifest,
        store_path,
    )

    cpath = store_path(out_dir, "ivf_centroids.json")
    cents = np.array(json.loads(read_bytes(spark, cpath).decode()),
                     dtype=np.float64)
    q = np.array(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(cents @ qn))
    probe = [int(c) for c in order[: min(n_probe, len(cents))]]
    manifest = read_manifest(spark, out_dir)
    if manifest is None:
        raise FileNotFoundError(
            f"no committed manifest under {out_dir} — the centroids "
            "sidecar exists but the chunk store has no commits (build "
            "crashed before encode_job committed, or wrong path)"
        )
    committed = manifest.filter(
        (F.col("status") == "done") & F.col("partition_id").isin(probe)
    )
    chunks = read_committed_chunks(spark, out_dir, committed).filter(
        F.col("partition_id").isin(probe)
    )
    return probe, chunks


def ivf_search_store(
    spark,
    out_dir: str,
    query_vec: list[float],
    schema,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k against a persisted IVF store: rank cells by
    the sidecar centroids, decode ONLY the probed cells' chunks
    (partition_id pushdown into the chunks-parquet scan), exact cosine
    + TakeOrderedAndProject on the survivors. `schema` is the stored
    (id, cell, vec) Spark schema."""
    from ..operators.encode import decode_dataframe

    _probe, chunks = ivf_probe_chunks(spark, out_dir, query_vec, n_probe)
    decoded = decode_dataframe(chunks, schema)
    return cosine_topk(decoded, query_vec, k, vec_col, id_col)
