"""Seeded inputs, the operations each workload times, and their checks.

Every operation goes through the engine's public API and is checked
against the source: a full scan must reproduce the source checksum, a
lookup must return exactly the source row, a range count and a
group-by count must equal the source's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

#: input sizes, fixed so every run does the same work
PAGES_ROWS = 12_000
PBF_NODES = 50_000
LOOKUP_KEYS = 16
#: input generation is repeated this often; set-up reports the median
GEN_REPEATS = 3


def checksum(df) -> tuple:
    """Order-independent checksum: row count plus, per column, the sum
    of xxhash64 over its values (maps hashed as sorted entry lists,
    since Spark cannot hash a map)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    sums = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, MapType):
            c = F.sort_array(F.map_entries(c))
        sums.append(F.sum(F.xxhash64(c).cast("decimal(38,0)")))
    row = df.agg(F.count(F.lit(1)), *sums).collect()[0]
    return tuple(None if v is None else int(v) for v in row)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under `path`; Hadoop's hidden checksum
    files and _SUCCESS markers are not counted."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def median_seconds(fn, repeats: int) -> tuple[object, float, float]:
    """Run `fn` `repeats` times; return the first result, the median
    wall time and the time spent beyond that median."""
    import time

    times, first = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
        if i == 0:
            first = out
    med = sorted(times)[len(times) // 2]
    return first, med, sum(times) - med


class Source:
    """A workload's input: a cached source DataFrame, its Arrow `table`,
    and everything the checks need, all derived from the seed.

    Set-up generates the input GEN_REPEATS times into fresh paths;
    `gen_extra_s` is the time spent beyond the median generation, which
    set-up time leaves out."""

    key: str
    schema = None
    src = None
    nbytes: int  # the throughput base: Arrow bytes or PBF file bytes
    rows: int
    gen_extra_s: float

    def __init__(self, bench, seed: int, tracer):
        self.bench = bench
        self.span = tracer.span
        self.rng = np.random.default_rng(seed)

    def _finish(self, keys: list) -> None:
        from pyspark.sql import functions as F

        self.src = self.src.cache()
        self.schema = self.src.schema
        self.checksum = checksum(self.src)
        self.rows = self.checksum[0]
        self.lookup_keys = keys
        expected = self.src.filter(F.col(self.key).isin(keys)).collect()
        self.expected_rows = {r[self.key]: r for r in expected}
        ref = self.bench.path("zstd-ref")
        self.src.write.mode("overwrite").option("compression", "zstd").parquet(ref)
        self.zstd_bytes = dir_bytes(ref)

    def _range_of(self, values: np.ndarray) -> tuple[int, int, int]:
        """A seeded [lo, hi) window holding ~1% of `values`, and its count."""
        v = np.sort(values)
        n = len(v)
        lo_i = int(self.rng.integers(0, n - n // 100 - 1))
        lo, hi = int(v[lo_i]), int(v[lo_i + n // 100])
        return lo, hi, int(((values >= lo) & (values < hi)).sum())

    @staticmethod
    def _value_counts(arr) -> dict:
        return {v["values"].as_py(): v["counts"].as_py() for v in arr.value_counts()}

    # -- operations -------------------------------------------------

    def _read(self, store: str, **kw):
        """`read_encoded` (which resolves the manifest eagerly), traced."""
        from osm_pbf_parquet_spark.plans.manifest import read_encoded

        with self.span("read_encoded"):
            return read_encoded(self.bench.spark, store, self.schema, **kw)

    def ingest(self, out_dir: str) -> bool:
        from osm_pbf_parquet_spark.plans.manifest import encode_job

        with self.span("encode_job"):
            r = encode_job(
                self.bench.spark, self.read_source(), out_dir,
                key_col=self.key, bloom_cols=[self.key],
            )
        return r["rows"] == self.rows

    def scan(self, store: str) -> bool:
        dec = self._read(store)
        with self.span("decode_checksum"):
            return checksum(dec) == self.checksum

    def lookup(self, store: str, i: int) -> bool:
        k = self.lookup_keys[i % len(self.lookup_keys)]
        dec = self._read(store, where=[(self.key, "==", k)])
        with self.span("decode_collect"):
            got = dec.collect()
        return got == [self.expected_rows[k]]


class Pages(Source):
    """`generate_pages` rows held in memory: wide html/text strings."""

    key = "url"

    def __init__(self, bench, seed: int, tracer):
        super().__init__(bench, seed, tracer)
        from osm_pbf_parquet_spark.sources.pages import generate_pages

        self.table, _, self.gen_extra_s = median_seconds(
            lambda: generate_pages(PAGES_ROWS, seed=seed), GEN_REPEATS
        )
        self.nbytes = self.table.nbytes
        self.src = bench.spark.createDataFrame(self.table)
        ts = self.table.column("warc_ts").cast(pa.int64()).to_numpy()
        *self.range_us, self.range_count = self._range_of(ts)
        self.project_counts = self._value_counts(self.table.column("lang"))
        urls = self.table.column("url")
        picks = self.rng.choice(self.table.num_rows, LOOKUP_KEYS, replace=False)
        self._finish([urls[int(i)].as_py() for i in picks])

    def read_source(self):
        return self.src

    def range_predicate(self) -> tuple[str, int, int]:
        return ("warc_ts", *self.range_us)

    def range(self, store: str) -> bool:
        """warc_ts window → count. The filter runs on the decoded
        column: the engine's `where` pushdown cannot take a timestamp
        literal (its zone-map cast fails)."""
        from datetime import datetime, timedelta

        from pyspark.sql import functions as F

        lo, hi = (
            F.lit(datetime(1970, 1, 1) + timedelta(microseconds=v)).cast("timestamp_ntz")
            for v in self.range_us
        )
        dec = self._read(store, columns=["warc_ts"])
        with self.span("decode_count"):
            n = dec.filter((F.col("warc_ts") >= lo) & (F.col("warc_ts") < hi)).count()
        return n == self.range_count

    def project(self, store: str) -> bool:
        dec = self._read(store, columns=["url", "lang"])
        with self.span("decode_group"):
            got = dec.groupBy("lang").count().collect()
        return {r["lang"]: r["count"] for r in got} == self.project_counts


class Pbf(Source):
    """A seeded `synthetic_osm_pbf` file: narrow rows, nested tags/nds."""

    key = "id"

    def __init__(self, bench, seed: int, tracer):
        super().__init__(bench, seed, tracer)
        from osm_pbf_parquet_spark.sources.pbf import (
            decode_osm_blob,
            scan_osm_blobs,
            synthetic_osm_pbf,
        )

        paths = iter(range(GEN_REPEATS))
        self.path, _, self.gen_extra_s = median_seconds(
            lambda: synthetic_osm_pbf(
                bench.path(f"input-{next(paths)}.osm.pbf"),
                n_nodes=PBF_NODES, seed=seed,
            ),
            GEN_REPEATS,
        )
        self.nbytes = os.path.getsize(self.path)
        self.src = self.read_source()
        # expectations from the parser itself, outside Spark
        self.table = pa.concat_tables(
            decode_osm_blob(self.path, off, ln)
            for off, ln in scan_osm_blobs(self.path)
        )
        ids = self.table.column("id").to_numpy()
        *self.range_ids, self.range_count = self._range_of(ids)
        self.project_counts = self._value_counts(self.table.column("type"))
        picks = self.rng.choice(len(ids), LOOKUP_KEYS, replace=False)
        self._finish([int(ids[int(i)]) for i in picks])

    def read_source(self):
        from osm_pbf_parquet_spark.sources.pbf import read_osm_pbf

        with self.span("read_osm_pbf"):
            return read_osm_pbf(self.bench.spark, self.path)

    def range_predicate(self) -> tuple[str, int, int]:
        return ("id", *self.range_ids)

    def range(self, store: str) -> bool:
        lo, hi = self.range_ids
        dec = self._read(store, where=[("id", ">=", lo), ("id", "<", hi)])
        with self.span("decode_count"):
            return dec.count() == self.range_count

    def project(self, store: str) -> bool:
        dec = self._read(store, columns=["id", "type"])
        with self.span("decode_group"):
            got = dec.groupBy("type").count().collect()
        return {r["type"]: r["count"] for r in got} == self.project_counts
