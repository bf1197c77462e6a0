"""Config surface: memory-derived chunk target (reference
src/util.rs:97-101), the zstd-level knob (src/util.rs:35-37), and the
width rules — pinned without a JVM, plus a guard that config.py is the
only module that sizes work."""

from __future__ import annotations

import pathlib
import re
from types import SimpleNamespace

import pyarrow as pa
import pytest

from osm_pbf_parquet_spark.config import (
    MAX_CHUNK,
    MIN_CHUNK,
    derive_chunk_target,
    parse_mem,
)


def test_parse_mem():
    assert parse_mem("4g") == 4 << 30
    assert parse_mem("512m") == 512 << 20
    assert parse_mem("1024") == 1024
    assert parse_mem("2G") == 2 << 30
    with pytest.raises(ValueError):
        parse_mem("lots")


def test_derive_chunk_target_bounds(spark):
    t = derive_chunk_target(spark)
    assert MIN_CHUNK <= t <= MAX_CHUNK


def test_zstd_level_changes_payload_and_roundtrips():
    from osm_pbf_parquet_spark.functions.codecs import decode_array, encode_array

    arr = pa.array(
        [f"document {i % 7} with repetitive content " * 20 for i in range(2000)]
    )
    _, p1, pay1 = encode_array(arr, "str_zstd", zstd_level=1)
    _, p9, pay9 = encode_array(arr, "str_zstd", zstd_level=9)
    assert len(pay9) <= len(pay1)
    assert decode_array("str_zstd", p1, pay1).equals(arr)
    assert decode_array("str_zstd", p9, pay9).equals(arr)


def test_zstd_level_through_spark(spark, sf_dir):
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "props")
    sizes = {}
    for level in (1, 19):
        ch = encode_dataframe(
            src, key_col="event_id", num_partitions=2,
            codecs={"props": "str_zstd"}, zstd_level=level,
        )
        sizes[level] = ch.filter("column = 'props'").agg(F.sum("bytes_out")).first()[0]
        dec = decode_dataframe(ch, src.schema)
        assert dec.count() == src.count()
    assert sizes[19] <= sizes[1]


@pytest.mark.parametrize("value,expect", [("TRUE", True), ("True", True),
                                          ("false", False), ("FALSE", False)])
def test_aqe_enabled_reads_the_flag_case_insensitively(spark, value, expect):
    """Spark parses boolean confs case-insensitively; the engine's routing
    (encode's pid exchange, dedup's pair exchange) must read them alike."""
    from osm_pbf_parquet_spark.config import aqe_enabled

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        assert aqe_enabled(spark) is expect
    finally:
        spark.conf.set(key, before)


MB = 1 << 20


class _Session:
    """The session reads the width rules make — core count, SQL confs
    and the static bypass-merge threshold — without a JVM."""

    def __init__(self, cores, aqe="true", shuffle=None, bypass="200",
                 driver_memory=None):
        sql = {"spark.sql.adaptive.enabled": aqe}
        if shuffle is not None:
            sql["spark.sql.shuffle.partitions"] = shuffle
        if driver_memory is not None:
            sql["spark.driver.memory"] = driver_memory
        static = {"spark.shuffle.sort.bypassMergeThreshold": bypass}
        self.conf = SimpleNamespace(get=lambda k, d=None: sql.get(k, d))
        self.sparkContext = SimpleNamespace(
            defaultParallelism=cores,
            getConf=lambda: SimpleNamespace(get=lambda k, d=None: static.get(k, d)),
        )
        self.createDataFrame = lambda rows, schema: rows


# (session, est, pids, target) -> tasks; None is the AQE keyed exchange.
# Expected values follow the formulas encode_dataframe used before the
# rules moved here.
ENCODE_WIDTHS = [
    # light: min(pids, max(cores, ceil(est / target)))
    (_Session(4), 12 * MB - 1, 32, MB, 12),
    (_Session(4), 5 * MB, 32, 32 * MB, 4),
    (_Session(4), 0, 32, 32 * MB, 4),
    (_Session(8), 100 * MB, 16, 4 * MB, 16),
    (_Session(32), MB, 8, 32 * MB, 8),
    (_Session(4), None, 32, MB, 32),
    # the heavy/light boundary: exactly 16 MB per pid is heavy
    (_Session(4), 128 * MB - 1, 8, 8 * MB, 8),
    (_Session(4), 128 * MB, 8, 8 * MB, None),
    (_Session(4, aqe="True"), 128 * MB, 8, 8 * MB, None),
    # heavy without AQE: max(bypass + 1, 4 * pids + 1)
    (_Session(4, aqe="false"), 128 * MB, 8, 8 * MB, 201),
    (_Session(4, aqe="FALSE"), 1024 * MB, 64, 8 * MB, 257),
    (_Session(4, aqe="false", bypass="500"), 1024 * MB, 64, 8 * MB, 501),
]


@pytest.mark.parametrize("session,est,pids,target,expect", ENCODE_WIDTHS)
def test_encode_width(session, est, pids, target, expect):
    from osm_pbf_parquet_spark.config import encode_width

    assert encode_width(session, est, pids, target) == expect


@pytest.mark.parametrize("cores,est,expect", [
    (4, None, 8), (32, None, 64),           # no estimate: 2 x cores
    (4, 0, 1), (4, 1, 1), (4, 8 * MB, 1),   # floor of one task
    (4, 8 * MB + 1, 2), (4, 100 * MB, 13),  # ceil(est / 8 MB)
    (4, 1024 * MB, 16), (32, 1024 * MB, 128), (32, 4096 * MB, 128),
])
def test_decode_width(cores, est, expect):
    from osm_pbf_parquet_spark.config import decode_width

    assert decode_width(_Session(cores), est) == expect


@pytest.mark.parametrize("session,expect", [
    (_Session(4, shuffle="8"), 201),          # max(8, 2 x 4) is under bypass
    (_Session(4), 201),                       # unset: Spark's 200, still under
    (_Session(4, shuffle="300"), 300),
    (_Session(128, shuffle="8"), 256),        # 2 x cores already past it
    (_Session(4, shuffle="8", bypass="10"), 11),
])
def test_derive_shuffle_partitions(session, expect):
    from osm_pbf_parquet_spark.config import derive_shuffle_partitions

    assert derive_shuffle_partitions(session) == expect


@pytest.mark.parametrize("cores,est,min_task_bytes,expect", [
    (4, 500_000, MB, 1),        # sub-MB input: one task, no exchange
    (4, 5 * MB, MB, 5),
    (4, 100 * MB, MB, 8),       # the cap never widens past 2 x cores
    (4, None, MB, 8),           # no estimate: no cap
    (4, 5 * MB, None, 8),
    (32, 5 * MB, None, 64),
])
def test_kernel_width(cores, est, min_task_bytes, expect):
    from osm_pbf_parquet_spark.config import kernel_width

    assert kernel_width(_Session(cores), est, min_task_bytes) == expect


def test_session_widths():
    from osm_pbf_parquet_spark import config

    assert config.cores(_Session(0)) == 4
    assert config.derive_num_partitions(_Session(4)) == 32
    assert config.derive_num_partitions(_Session(8)) == 64
    assert config.aqe_initial_partitions(_Session(4)) == 1024
    assert config.aqe_initial_partitions(_Session(256)) == 2048
    assert config.compact_width(_Session(4, shuffle="8")) == 8
    assert config.compact_width(_Session(4)) == 32
    assert config.derive_chunk_target(_Session(4)) == 64 * MB
    assert config.derive_chunk_target(_Session(4, driver_memory="4g")) == 128 * MB
    assert config.derive_chunk_target(_Session(64)) == MIN_CHUNK


@pytest.mark.parametrize("cores,n_rows,groups", [(4, 20, 8), (4, 3, 3), (1, 5, 2)])
def test_striped_frame_interleaves_min_len_two_cores(cores, n_rows, groups):
    from osm_pbf_parquet_spark.config import striped_frame

    rows = list(range(n_rows))
    got = striped_frame(_Session(cores), rows, "i int")
    assert got == [r for g in range(groups) for r in rows[g::groups]]


SIZING = re.compile(
    r"defaultParallelism|spark\.sql\.shuffle\.partitions"
    r"|\.stats\(\)\s*\.sizeInBytes\("
)


def test_only_config_sizes_work():
    """Every task count, exchange width and size estimate comes from
    config.py: no other engine module reads the session's core count
    or shuffle width, or asks Catalyst for a size."""
    repo = pathlib.Path(__file__).resolve().parent.parent
    engine = repo / "osm_pbf_parquet_spark"
    offenders = []
    for py in sorted(engine.rglob("*.py")) + [repo / "__spark_entry__.py"]:
        if py == engine / "config.py":
            continue
        for n, line in enumerate(py.read_text().splitlines(), 1):
            if SIZING.search(line):
                offenders.append(f"{py.relative_to(repo)}:{n}: {line.strip()}")
    assert not offenders, (
        "size work through osm_pbf_parquet_spark/config.py instead:\n"
        + "\n".join(offenders)
    )
