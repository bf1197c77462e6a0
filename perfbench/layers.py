"""Per-layer measurements for the traced run.

Each layer is timed from outside, by calling its public functions or
by sending a stage into Spark's noop sink. The ladder over one input
is: codec kernels (no Spark) → identity mapInArrow (the Arrow bridge)
→ pid exchange → `encode_dataframe` into a noop sink → `encode_job`.
The difference between two rungs is the cost the upper one adds.
"""

from __future__ import annotations

import sys
import time

import pyarrow as pa

from perfbench.workloads import dir_bytes, median_seconds

#: chunk groups of the workload's own input the kernels run on
KERNEL_GROUPS = 4
#: codecs timed on the kernels, each on the first of the kernel tables
#: that has a column it applies to (alp and xorf need float columns)
KERNEL_CODECS = ("bitpack", "delta", "rle", "dictint", "plain", "zstd",
                 "alp", "xorf", "str_dict", "str_fsst", "str_zstd", "str_plain")
#: codecs whose chunk count is reported: the selector picks these on
#: both workloads' stores. The run facts carry the whole codec mix.
MIX_CODECS = ("str_dict", "str_zstd")
#: nodes in the small PBF a pages workload's traced run parses, so the
#: PBF layer and the float kernels read on every run (the pages path
#: never calls the parser, and the pages input has no float column)
CONTROL_PBF_NODES = 20_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def kernel_layers(tables: list[pa.Table], groups: int) -> tuple[dict, int, int]:
    """Codec kernels on KERNEL_GROUPS slices of a table, each the size of
    one of the store's chunk groups (rows / groups). A codec is timed on
    the first of `tables` with a column it applies to. Returns the
    metrics and how many round trips were checked and how many failed."""
    from osm_pbf_parquet_spark.functions.codecs import (
        choose_codec,
        classify,
        codecs_for,
        decode_array,
        encode_array,
    )

    enc: dict[str, list] = {}  # codec -> [in bytes, enc s, dec s, out bytes]
    select_s = 0.0
    checked = failed = 0
    for i, table in enumerate(tables):
        step = max(1, table.num_rows // max(1, groups))
        slices = [table.slice(j * step, step).combine_chunks()
                  for j in range(min(KERNEL_GROUPS, groups))]
        done = set(enc)
        for t in slices:
            for col in t.columns:
                arr = col.chunk(0) if col.num_chunks == 1 else pa.concat_arrays(col.chunks)
                kind = classify(arr.type)
                if i == 0:
                    t0 = time.perf_counter()
                    choose_codec(arr, kind)
                    select_s += time.perf_counter() - t0
                for c in codecs_for(kind):
                    if c not in KERNEL_CODECS or c in done:
                        continue
                    t0 = time.perf_counter()
                    codec, params, payload = encode_array(arr, c)
                    t1 = time.perf_counter()
                    back = decode_array(codec, params, payload)
                    t2 = time.perf_counter()
                    checked += 1
                    if not back.equals(arr):
                        failed += 1
                        print(f"codec {c} did not round-trip a {arr.type} column",
                              file=sys.stderr)
                    e = enc.setdefault(c, [0, 0.0, 0.0, 0])
                    e[0] += arr.nbytes
                    e[1] += t1 - t0
                    e[2] += t2 - t1
                    e[3] += len(params) + len(payload)
    out = {"codecs.select_s": select_s / min(KERNEL_GROUPS, max(1, groups))}
    for c in KERNEL_CODECS:
        nb, es, ds, ob = enc[c]  # a codec with no column to run on is an error
        out[f"codecs.encode_mb_per_s.{c}"] = nb / 1e6 / es
        out[f"codecs.decode_mb_per_s.{c}"] = nb / 1e6 / ds
        out[f"codecs.out_per_in.{c}"] = ob / nb
    return out, checked, failed


def pbf_layers(bench, path: str) -> tuple[dict, pa.Table]:
    """The PBF layer's metrics, and the file decoded to one Arrow table."""
    from osm_pbf_parquet_spark.sources.pbf import (
        decode_osm_blob,
        read_osm_pbf,
        scan_osm_blobs,
    )

    index, index_s, _ = median_seconds(lambda: scan_osm_blobs(path), 3)
    t0 = time.perf_counter()
    parts = [decode_osm_blob(path, off, ln) for off, ln in index]
    parse_s = time.perf_counter() - t0
    wire = sum(ln for _, ln in index)
    read_s = bench.run_op(lambda: _noop(read_osm_pbf(bench.spark, path)))[1]
    return {
        "pbf.index_s": index_s,
        "pbf.parse_mb_per_s": wire / 1e6 / parse_s,
        "pbf.read_noop_s": read_s,
        "pbf.blobs": len(index),
    }, pa.concat_tables(parts)


def spark_layers(runner) -> dict:
    """Bridge, exchange, encode and decode rungs over the cached source,
    plus manifest resolution and pruning on the runner's last store."""
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.config import derive_num_partitions
    from osm_pbf_parquet_spark.operators.encode import (
        PID_COL,
        decode_dataframe,
        encode_dataframe,
        with_partition_id,
    )
    from osm_pbf_parquet_spark.operators.pruning import prune_where
    from osm_pbf_parquet_spark.plans.manifest import encode_job

    bench, s = runner.bench, runner.source
    spark, src, key = bench.spark, s.src, s.key
    n = derive_num_partitions(spark)

    run = bench.run_op  # -> (result, seconds, (jobs, tasks per stage))
    out = {}
    out["encode.bridge_s"] = run(lambda: _noop(src.mapInArrow(_identity, src.schema)))[1]
    out["encode.exchange_s"] = run(
        lambda: _noop(with_partition_id(src, key, n).repartition(n, PID_COL)))[1]
    _, enc_s, (_, enc_tasks) = run(
        lambda: _noop(encode_dataframe(src, key, n, bloom_cols=[key])))
    out["encode.noop_s"] = enc_s
    out["encode.tasks"] = sum(enc_tasks)
    chunks, out["manifest.resolve_s"], _ = run(runner.chunks)
    _, out["decode.noop_s"], (_, dec_tasks) = run(
        lambda: _noop(decode_dataframe(chunks, s.schema)))
    out["decode.tasks"] = sum(dec_tasks)
    path = bench.path("layer-store")
    job_s = run(lambda: encode_job(spark, src, path, key_col=key, bloom_cols=[key]))[1]
    out["manifest.commit_s"] = job_s - enc_s
    out["manifest.store_bytes_per_in"] = dir_bytes(runner.store) / s.nbytes

    # pruning on chunk metadata: groups kept of all groups, per query
    chunks = chunks.cache()

    def kept(conj, schema=None):
        g = prune_where(chunks, conj, schema).filter(F.col("col_idx") == 0)
        return g.agg(F.count(F.lit(1)), F.sum("n_rows")).collect()[0]

    total = kept([])[0]
    looked = [kept([(key, "==", k)], s.schema) for k in s.lookup_keys[:2]]
    out["pruning.groups_kept_frac.lookup"] = sum(r[0] for r in looked) / len(looked) / total
    # each lookup key matches exactly one source row
    out["pruning.rows_decoded_per_hit"] = sum(r[1] for r in looked) / len(looked)
    col, lo, hi = s.range_predicate()
    out["pruning.groups_kept_frac.range"] = kept([(col, ">=", lo), (col, "<", hi)])[0] / total
    chunks.unpersist()
    return out
