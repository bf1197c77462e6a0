"""Dump .explain('formatted') for the bench's hot queries.

Usage: PYTHONPATH=<tree> python tools/dump_plans.py <suffix> <outdir>
  <tree>    repo root whose engine code to plan against
  <suffix>  'before' (round-start tree) or 'after' (current tree)

Planning only — no job is executed (plans are the AQE initial plans).
Runs at sf0.1 on local[4]; plan SHAPE (exchanges, operators, pushed
filters) is what the round judges, and it does not depend on sf/cores.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    suffix, outdir = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"plans-{suffix}")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    import __spark_entry__ as entry_mod

    entry_mod._ensure_workers_see_package(spark)
    sf = "/root/testdata/sf0.1"

    def load(name):
        return spark.read.parquet(f"{sf}/{name}.parquet")

    li = load("lineitem")
    for _ in range(3):
        li = li.union(load("lineitem"))
    li = li.cache()
    docs = load("documents").cache()

    from osm_pbf_parquet_spark.operators.dedup import minhash_lsh_pairs
    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
        encode_input_partitions,
    )
    from osm_pbf_parquet_spark.operators.pruning import prune_by_point
    from osm_pbf_parquet_spark.operators.substring import substring_dup_pairs

    li_wide = li.repartition(64)

    plans = {}
    plans["encode_lineitem"] = encode_dataframe(
        li, key_col="l_orderkey", num_partitions=64
    ).agg(F.sum("bytes_in"), F.sum("bytes_out"))
    plans["encode_lineitem_noshuffle"] = encode_input_partitions(
        li_wide
    ).agg(F.sum("bytes_in"), F.sum("bytes_out"))
    chunks = encode_input_partitions(li_wide)
    plans["decode_lineitem"] = decode_dataframe(chunks, li.schema).agg(
        F.count("*")
    )
    plans["dedup_minhash"] = minhash_lsh_pairs(docs)
    plans["dedup_substring"] = substring_dup_pairs(docs, k=50, winnow_w=25)
    doc_chunks = encode_dataframe(
        docs, key_col="doc_id", num_partitions=32,
        target_chunk_bytes=256 << 10, bloom_cols=["doc_id"],
    )
    kept = prune_by_point(doc_chunks, "doc_id", 42, value_type=docs.schema)
    plans["bloom_lookup_decode"] = decode_dataframe(
        kept, docs.schema, row_filter=[("doc_id", "==", 42)]
    ).filter(F.col("doc_id") == 42)
    # similarity top-k and the PBF ingest
    from osm_pbf_parquet_spark.functions.similarity import cosine_topk
    from osm_pbf_parquet_spark.sources.pbf import (
        read_osm_pbf,
        synthetic_osm_pbf,
    )
    import __spark_entry__ as entry_mod

    emb = load("embeddings").cache()
    emb.count()
    plans["similarity_topk"] = cosine_topk(emb, entry_mod.QUERY_VEC, 10)
    pbf_path = synthetic_osm_pbf("/tmp/plans.osm.pbf", n_nodes=20_000)
    plans["pbf_ingest"] = read_osm_pbf(spark, pbf_path).agg(F.count("*"))

    for name, df in plans.items():
        s = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(s)
        print("wrote", path, len(s))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
