"""plans/fsutil.py is the engine's one filesystem layer: the routing
rule (POSIX for plain and file: paths, pyarrow for the s3 family, the
JVM Hadoop FileSystem otherwise), the per-store S3 client cache, the
local sidecar primitives without a session, and a guard that no other
engine module resolves a filesystem client itself."""

from __future__ import annotations

import os
import pathlib
import sys

import pyarrow.fs as pafs
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from s3stub import s3_uri  # noqa: E402

from osm_pbf_parquet_spark.plans import fsutil  # noqa: E402

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "osm_pbf_parquet_spark"

#: no server listens here: constructing an S3FileSystem opens no
#: connection, so these URIs exercise only client construction
PORT = 1


@pytest.fixture(scope="module")
def small_pbf(tmp_path_factory):
    from osm_pbf_parquet_spark.sources.pbf import write_osm_pbf

    path = str(tmp_path_factory.mktemp("pbf") / "small.osm.pbf")
    nodes = [
        {"id": i, "lat_units": i * 1000, "lon_units": -i * 2000,
         "tags": {"k": f"v{i}"} if i % 3 == 0 else {},
         "ts_ms": 1_700_000_000_000 + i * 1000, "changeset": i, "uid": i % 4,
         "user": f"u{i % 4}", "version": 1, "visible": True}
        for i in range(1, 201)
    ]
    ways = [
        {"id": 10_000 + i, "tags": {"highway": "path"},
         "refs": [1, 2, 3 + i], "ts_ms": 1_700_000_000_000,
         "changeset": 1, "uid": 1, "user": "w", "version": 1,
         "visible": True}
        for i in range(10)
    ]
    write_osm_pbf(path, nodes, ways, nodes_per_block=32)
    return path


@pytest.mark.parametrize("form", ["file:{}", "file://{}"])
def test_file_uris_scan_and_read_like_plain_paths(spark, small_pbf, form):
    from osm_pbf_parquet_spark.sources.pbf import read_osm_pbf, scan_osm_blobs

    uri = form.format(small_pbf)
    assert fsutil.scheme_of(uri) == "file"
    assert fsutil.local_path(uri) == small_pbf
    idx = scan_osm_blobs(small_pbf, spark=spark)
    assert len(idx) > 3
    assert scan_osm_blobs(uri, spark=spark) == idx
    assert scan_osm_blobs(uri, distributed=False) == idx

    def rows(path):
        return sorted(
            tuple(r) for r in read_osm_pbf(spark, path)
            .select("type", "id", "lat", "lon").collect()
        )

    assert rows(uri) == rows(small_pbf)


def test_routing_rule():
    assert fsutil.is_local("/tmp/x") and fsutil.is_local("rel/x")
    assert fsutil.is_local("file:/tmp/x") and fsutil.is_local("file:///tmp/x")
    assert fsutil.local_path("file:///tmp/a%20b") == "/tmp/a b"
    for s in ("s3://b/k", "s3a://b/k", "s3n://b/k"):
        assert fsutil.uses_pyarrow(s) and not fsutil.is_local(s)
    assert not fsutil.uses_pyarrow("viewfs://m/x")
    assert not fsutil.is_local("viewfs://m/x")
    # a '?' in a local path is a file-name character, not a query
    assert fsutil.join_uri("/tmp/a?b", "c") == "/tmp/a?b/c"
    assert fsutil.join_uri("s3://b/d?x=1", "c") == "s3://b/d/c?x=1"


def test_pa_fs_one_client_per_store():
    a = fsutil.pa_fs(s3_uri(PORT, "bkt", "store/chunks/part-1.parquet"))
    b = fsutil.pa_fs(s3_uri(PORT, "bkt", "store/manifest/part-2.parquet"))
    assert a[0] is b[0]
    # s3a names the same store as s3
    s3a = "s3a" + s3_uri(PORT, "bkt", "store/x")[len("s3"):]
    assert fsutil.pa_fs(s3a)[0] is a[0]


def test_pa_fs_distinct_clients_for_distinct_config():
    base = fsutil.pa_fs(s3_uri(PORT, "bkt", "k"))[0]
    other_creds = s3_uri(PORT, "bkt", "k").replace("testsecret", "other")
    other_endpoint = s3_uri(PORT + 1, "bkt", "k")
    assert fsutil.pa_fs(other_creds)[0] is not base
    assert fsutil.pa_fs(other_endpoint)[0] is not base


@pytest.mark.parametrize("key", ["store/chunks/part-1.parquet", "a%20b/c",
                                 "dir/", "", None])
def test_pa_fs_inner_path_equals_from_uri(key):
    uri = s3_uri(PORT, "bkt", key or "")
    if key is None:  # bucket root with no slash before the query
        uri = uri.replace("bkt/?", "bkt?")
    expect = pafs.FileSystem.from_uri(uri)[1]
    assert fsutil.pa_fs(uri)[1] == expect
    assert fsutil.pa_fs("s3a" + uri[len("s3"):])[1] == expect


@pytest.mark.parametrize("form", ["{}", "file:{}", "file://{}"])
def test_local_sidecars_without_a_session(tmp_path, form):
    from osm_pbf_parquet_spark.plans.manifest import (
        read_store_meta,
        store_path,
        write_store_meta,
    )

    store = form.format(tmp_path / "store")
    part = store_path(store, "manifest", "part-a.parquet")
    fsutil.write_sidecar(None, part, b"abc")
    fsutil.write_sidecar(None, store_path(store, "manifest", "x.json"), b"{}")
    assert os.path.isfile(tmp_path / "store" / "manifest" / "part-a.parquet")
    assert fsutil.exists(None, part)
    assert fsutil.read_bytes(None, part) == b"abc"
    assert fsutil.stat_file(None, part)[1] == 3
    mdir = store_path(store, "manifest")
    assert fsutil.list_files(None, mdir, ".parquet") == [part]
    assert fsutil.read_all(None, [part, part]) == [b"abc", b"abc"]
    assert fsutil.delete_file(None, part)
    assert not fsutil.exists(None, part)
    with pytest.raises(FileNotFoundError):
        fsutil.delete_file(None, part)
    assert fsutil.list_files(None, store_path(store, "missing")) == []

    assert read_store_meta(store) is None
    write_store_meta(store, {"num_partitions": 4})
    write_store_meta(store, {"num_partitions": 8})  # first commit wins
    assert read_store_meta(store) == {"num_partitions": 4}
    # no temp file is left behind
    assert sorted(os.listdir(tmp_path / "store")) == ["manifest",
                                                      "store_meta.json"]


def test_only_fsutil_resolves_filesystem_clients():
    offenders = []
    for py in sorted(ENGINE.rglob("*.py")):
        if py == ENGINE / "plans" / "fsutil.py":
            continue
        for n, line in enumerate(py.read_text().splitlines(), 1):
            if "from_uri" in line or "getFileSystem" in line:
                offenders.append(f"{py.relative_to(ENGINE)}:{n}: {line.strip()}")
    assert not offenders, (
        "route paths through plans/fsutil.py instead:\n" + "\n".join(offenders)
    )
