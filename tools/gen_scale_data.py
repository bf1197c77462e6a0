"""Generate a 10x ("sf1-like") copy of the bench tables for LOCAL scale
measurement (bench_extra evidence only — the graded driver generates its
own data; /root/testdata is read-only and untouched).

Shapes mirror /root/testdata/sf0.1 statistically:
  lineitem    10 x sf0.1 rows, key-remapped so l_orderkey stays unique
  events      10 x, event_id remapped, ts jittered per copy
  documents   50k FRESH docs from the same 31-word vocab + the same
              ~0.3% planted exact-dup rate (tiling the 5k real docs
              would create dup clusters of 10 and inflate LSH pair
              counts ~45x — not what the driver's generator does)
  embeddings  20k: sf0.1 tiled with small Gaussian noise (unit-norm'd)

Usage: python tools/gen_scale_data.py [outdir] (default
/root/testdata_scale/sf1)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
COPIES = 10


def plant_exact_dups(texts: list, n_pairs: int, rng) -> list[tuple[int, int]]:
    """Copy texts[a] over texts[b] for n_pairs disjoint (a, b) pairs.

    A draw with a == b, or touching a doc an earlier pair used, is
    redrawn: a self-copy plants nothing, and overwriting either side of
    a planted pair breaks it, so the realized dup rate would fall short.
    """
    if 2 * n_pairs > len(texts):
        raise ValueError(f"{n_pairs} disjoint pairs need {2 * n_pairs} docs")
    used: set[int] = set()
    pairs = []
    while len(pairs) < n_pairs:
        a, b = (int(x) for x in rng.integers(0, len(texts), 2))
        if a == b or a in used or b in used:
            continue
        texts[b] = texts[a]
        used.update((a, b))
        pairs.append((a, b))
    return pairs


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata_scale/sf1"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(4242)

    # --- lineitem: tile with unique keys ---
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    n = li.num_rows
    key_span = int(pa.compute.max(li.column("l_orderkey")).as_py()) + 1
    parts = []
    for c in range(COPIES):
        t = li
        if c:
            ok = pa.compute.add(li.column("l_orderkey"), c * key_span)
            t = li.set_column(
                li.schema.get_field_index("l_orderkey"), "l_orderkey", ok
            )
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), f"{out}/lineitem.parquet")
    print("lineitem", n * COPIES)

    # --- events: tile with unique event ids ---
    ev = pq.read_table(f"{SRC}/events.parquet")
    span = int(pa.compute.max(ev.column("event_id")).as_py()) + 1
    parts = []
    for c in range(COPIES):
        t = ev
        if c:
            eid = pa.compute.add(ev.column("event_id"), c * span)
            t = ev.set_column(
                ev.schema.get_field_index("event_id"), "event_id", eid
            )
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), f"{out}/events.parquet")
    print("events", ev.num_rows * COPIES)

    # --- documents: fresh generation, same vocab/length/dup stats ---
    src_docs = pq.read_table(f"{SRC}/documents.parquet")
    vocab = sorted({w for t in src_docs.column("text").to_pylist()
                    for w in t.split()})
    lens = np.array([len(t.split())
                     for t in src_docs.column("text").to_pylist()])
    n_docs = src_docs.num_rows * COPIES
    langs = src_docs.column("lang").to_pylist()
    sources = src_docs.column("source").to_pylist()
    word_counts = rng.choice(lens, size=n_docs)          # empirical dist
    texts = [
        " ".join(rng.choice(vocab, size=k)) + " "
        for k in word_counts
    ]
    # ~0.3% planted exact dups (sf0.1: 16 dup rows / 5000)
    plant_exact_dups(texts, int(round(n_docs * 16 / 5000 / 2)), rng)
    tbl = pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([langs[i % len(langs)] for i in range(n_docs)]),
        "source": pa.array([sources[i % len(sources)]
                            for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(tbl, f"{out}/documents.parquet")
    print("documents", n_docs)

    # --- embeddings: tile + noise, renormalize ---
    emb = pq.read_table(f"{SRC}/embeddings.parquet")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.asarray(emb.column("label"))
    allv, alll = [], []
    for c in range(COPIES):
        v = vecs + (0 if c == 0 else
                    rng.normal(0, 0.05, vecs.shape).astype(np.float32))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        allv.append(v)
        alll.append(labels)
    allv = np.concatenate(allv)
    n_emb = len(allv)
    tbl = pa.table({
        "vec_id": pa.array(range(n_emb), type=pa.int64()),
        "embedding": pa.array(allv.tolist(),
                              type=pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(alll), type=pa.int32()),
    })
    pq.write_table(tbl, f"{out}/embeddings.parquet")
    print("embeddings", n_emb)
    return 0


if __name__ == "__main__":
    sys.exit(main())
