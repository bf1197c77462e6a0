"""The engine's one filesystem layer: every module that touches a
path outside Spark's own readers and writers goes through here, and
only this module decides which client serves a path.

Routing rule (reference src/lib.rs:34-37 for the source and
src/sink.rs:108-122 for the sink make the same local-vs-remote
decision once per side, by parsing the URL):

  * no scheme, or ``file:`` in either the Hadoop ``file:/x`` or the
    URI ``file:///x`` form → POSIX (``open``/``os``; sidecar writes
    are temp + ``os.replace``);
  * ``s3``, ``s3a``, ``s3n`` → pyarrow's S3FileSystem (the AWS C++
    SDK). Stock PySpark ships no hadoop-aws jar, so the JVM cannot
    serve them; writes are single-key PUTs, which S3 makes atomic per
    key;
  * any other scheme (viewfs://, hdfs://, …) → the Hadoop FileSystem
    in the session's JVM (credentials and mount tables inherited from
    the SparkContext; sidecar writes are create + rename). With no
    session, or when the JVM has no client for the scheme, it falls
    back to pyarrow.

Building an S3FileSystem costs seconds (2.0-4.1 s against an
in-process endpoint), so ``pa_fs`` caches one client per store per
process: the key is the URI's authority (credentials included) and
its ?query config, never the object path.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
from urllib.parse import unquote, urlparse

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:(//|/)")

#: schemes the JVM cannot serve without hadoop-aws — routed via pyarrow
PYARROW_SCHEMES = ("s3", "s3a", "s3n")


def scheme_of(path: str) -> str | None:
    """URI scheme (lowercase) or None for a plain local path."""
    m = _SCHEME_RE.match(path)
    return path.split(":", 1)[0].lower() if m else None


def is_local(path: str) -> bool:
    """True when the path routes to POSIX (no scheme, or file:)."""
    return scheme_of(path) in (None, "file")


def uses_pyarrow(path: str) -> bool:
    """True when the path must route through pyarrow.fs (s3 family)."""
    return scheme_of(path) in PYARROW_SCHEMES


def local_path(path: str) -> str:
    """The POSIX path of a local path or file: URI."""
    if scheme_of(path) == "file":
        return unquote(urlparse(path).path)
    return path


def split_query(path: str) -> tuple[str, str]:
    """(head, query) — query keeps its '?' ('' if none). Store URIs may
    carry credentials/endpoint config in the query (the
    S3FileSystem.from_uri contract), which child-path joins must
    preserve. A local path has no query: a '?' in it is a file name
    character."""
    if scheme_of(path) is None:
        return path, ""
    head, sep, query = path.partition("?")
    return head, (sep + query if sep else "")


def join_uri(base: str, *parts: str) -> str:
    """Child path under a local path or URI, preserving any ?query
    config."""
    head, query = split_query(base)
    return "/".join([head.rstrip("/"), *parts]) + query


_PA_FS_CACHE: dict[tuple[str, str], object] = {}
_PA_FS_LOCK = threading.Lock()


def pa_fs(path: str):
    """(pyarrow FileSystem, inner path) for a URI, the inner path
    equal to ``FileSystem.from_uri(uri)[1]`` (no query). s3a/s3n
    normalize to s3, pyarrow's one S3 scheme. S3 clients are cached
    per (authority, query) for the life of the process; other schemes
    resolve per call."""
    import pyarrow.fs as pafs

    scheme = scheme_of(path)
    if scheme in ("s3a", "s3n"):
        path, scheme = "s3" + path[len(scheme):], "s3"
    head, query = split_query(path)
    if scheme != "s3" or not head.startswith("s3://"):
        return pafs.FileSystem.from_uri(path)
    authority, _, key = head[len("s3://"):].partition("/")
    with _PA_FS_LOCK:
        fs = _PA_FS_CACHE.get((authority, query))
        if fs is None:
            fs = pafs.FileSystem.from_uri(path)[0]
            _PA_FS_CACHE[(authority, query)] = fs
    bucket = authority.rpartition("@")[2]
    return fs, unquote(f"{bucket}/{key}").rstrip("/")


def _jvm_fs(spark, path: str):
    """(Hadoop FileSystem, Path, jvm) for a path, or None when there
    is no session or the JVM has no client for its scheme (stock
    PySpark raises 'No FileSystem for scheme' for s3://)."""
    if spark is None:
        return None
    from py4j.protocol import Py4JError

    jvm = spark._jvm
    try:
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm
    except Py4JError:  # no client for the scheme: caller falls back
        return None


def _route(spark, path: str):
    """('posix', local path) | ('jvm', (fs, Path, jvm)) |
    ('pa', (fs, inner path)) — the routing rule of the module
    docstring, applied once per call."""
    scheme = scheme_of(path)
    if scheme in (None, "file"):
        return "posix", local_path(path)
    if scheme not in PYARROW_SCHEMES:
        j = _jvm_fs(spark, path)
        if j is not None:
            return "jvm", j
    return "pa", pa_fs(path)


def resolve_worker_path(spark, path: str) -> str:
    """Resolve client-side-indirection URIs (viewfs:// mount tables)
    to their concrete target so executor PYTHON workers — which have
    pyarrow.fs but no Hadoop client — can open the file directly.
    Local and s3-family paths, and schemes the JVM has no client
    for, resolve to themselves."""
    j = None if is_local(path) or uses_pyarrow(path) else _jvm_fs(spark, path)
    if j is None:
        return path
    from py4j.protocol import Py4JError

    try:
        return j[0].resolvePath(j[1]).toString()
    except Py4JError:  # unresolvable: workers try the path as given
        return path


def write_sidecar(spark, path: str, data: bytes) -> None:
    """THE atomic small-file write for driver-side sidecars (store
    meta, manifest parts, vacuum records, centroids). POSIX: a temp
    beside the target (its name carries the pid, so concurrent writers
    never collide) then os.replace. JVM: a temp then rename (object
    stores implement rename as copy+delete — fine at sidecar sizes).
    pyarrow (s3): one PUT, atomic per key. Temps are dot-prefixed so a
    crashed writer's leftover stays hidden from Spark's directory
    listings (manifest/vacuum parts live in dirs read wholesale)."""
    kind, h = _route(spark, path)
    if kind == "posix":
        d, base = os.path.split(h)
        if d:
            os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{base}.tmp-{os.getpid()}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, h)
    elif kind == "pa":
        fs, inner = h
        with fs.open_output_stream(inner) as out:
            out.write(data)
    else:
        fs, p, jvm = h
        head, _, tail = path.rpartition("/")
        tmp = jvm.org.apache.hadoop.fs.Path(f"{head}/.{tail}.tmp-write")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        if fs.exists(p):
            fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise OSError(f"hadoop rename failed for {path}")


def read_bytes(spark, path: str) -> bytes:
    kind, h = _route(spark, path)
    if kind == "posix":
        with open(h, "rb") as f:
            return f.read()
    if kind == "pa":
        fs, inner = h
        with fs.open_input_stream(inner) as f:
            return f.read()
    fs, p, jvm = h
    stream = fs.open(p)
    try:
        # commons-io ships on Spark's classpath
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_all(spark, paths: list[str]) -> list[bytes]:
    """read_bytes over many SMALL files (manifest/vacuum parts), in
    order. Object-store GETs overlap in a 16-way thread pool (IO-bound
    and GIL-free inside Arrow; a long-lived store has one part per
    commit, so sequential GETs would make resolution O(#commits)
    round trips); other routes read serially (py4j calls stay on the
    driver thread)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(paths) > 1 and all(uses_pyarrow(p) for p in paths):
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(lambda p: read_bytes(spark, p), paths))
    return [read_bytes(spark, p) for p in paths]


def exists(spark, path: str) -> bool:
    kind, h = _route(spark, path)
    if kind == "posix":
        return os.path.exists(h)
    if kind == "pa":
        import pyarrow.fs as pafs

        fs, inner = h
        return fs.get_file_info(inner).type != pafs.FileType.NotFound
    fs, p, _jvm = h
    return bool(fs.exists(p))


def stat_file(spark, path: str) -> tuple[float, int]:
    """(mtime_seconds, size) — the one metadata round-trip an
    object-store HEAD costs. Raises when the file is missing."""
    kind, h = _route(spark, path)
    if kind == "posix":
        st = os.stat(h)
        return st.st_mtime, st.st_size
    if kind == "pa":
        import time

        import pyarrow.fs as pafs

        fs, inner = h
        info = fs.get_file_info(inner)
        if info.type == pafs.FileType.NotFound:
            raise FileNotFoundError(path)
        # unknown mtime must read as YOUNG (now), never 0: vacuum's
        # orphan horizon treats 0.0 as ancient and would delete an
        # in-flight writer's not-yet-committed file
        mtime = (
            info.mtime.timestamp() if info.mtime is not None else time.time()
        )
        return mtime, int(info.size or 0)
    fs, p, _jvm = h
    st = fs.getFileStatus(p)
    return st.getModificationTime() / 1000.0, int(st.getLen())


def delete_file(spark, path: str) -> bool:
    """Delete one file. A missing file raises FileNotFoundError on the
    POSIX and pyarrow routes and returns False on the JVM route."""
    kind, h = _route(spark, path)
    if kind == "posix":
        os.remove(h)
        return True
    if kind == "pa":
        fs, inner = h
        fs.delete_file(inner)
        return True
    fs, p, _jvm = h
    return bool(fs.delete(p, False))


def list_files(spark, dir_path: str, suffix: str = "") -> list[str]:
    """Full child-file paths under a directory (non-recursive, sorted,
    dot-files skipped), query config preserved so each result routes
    like the parent. Missing dir → []."""
    kind, h = _route(spark, dir_path)
    if kind == "posix":
        try:
            names = [e.name for e in os.scandir(h) if e.is_file()]
        except (FileNotFoundError, NotADirectoryError):
            return []
    elif kind == "pa":
        import pyarrow.fs as pafs

        fs, inner = h
        try:
            infos = fs.get_file_info(
                pafs.FileSelector(
                    inner.rstrip("/"), recursive=False, allow_not_found=True
                )
            )
        except (FileNotFoundError, OSError):
            return []
        names = [
            i.path.rsplit("/", 1)[-1]
            for i in infos
            if i.type == pafs.FileType.File
        ]
    else:
        fs, p, _jvm = h
        if not fs.exists(p):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(p)
                 if st.isFile()]
    return [
        join_uri(dir_path, n)
        for n in sorted(names)
        if n.endswith(suffix) and not n.startswith(".")
    ]


@contextlib.contextmanager
def open_ranged(spark, path: str):
    """One open file for many ranged reads: yields (size, read_at),
    where ``read_at(offset, n)`` returns fewer than n bytes only at end
    of file, like a POSIX read. On the JVM route an EOF reads as a
    short read and any other IO failure raises OSError, so a caller
    that checks lengths tells truncation from a transient IO error."""
    kind, h = _route(spark, path)
    if kind == "posix":
        with open(h, "rb") as f:

            def read_at(off: int, n: int) -> bytes:
                f.seek(off)
                return f.read(n)

            yield os.fstat(f.fileno()).st_size, read_at
    elif kind == "pa":
        fs, inner = h
        with fs.open_input_file(inner) as f:
            yield f.size(), lambda off, n: f.read_at(n, off)
    else:
        fs, p, jvm = h
        size = int(fs.getFileStatus(p).getLen())
        stream = fs.open(p)
        ioutils = jvm.org.apache.commons.io.IOUtils

        def read_at(off: int, n: int) -> bytes:
            stream.seek(off)
            try:
                return bytes(ioutils.toByteArray(stream, n))
            except Exception as e:
                jexc = getattr(e, "java_exception", None)
                name = jexc.getClass().getName() if jexc is not None else ""
                if name.endswith("EOFException"):
                    return b""
                raise OSError(
                    f"read failed at offset {off} of {path}: {e}"
                ) from e

        try:
            yield size, read_at
        finally:
            stream.close()


#: worker-process-wide cache of open remote ranged readers (input
#: files are immutable; one handle per file avoids a HEAD per read on
#: object stores). Keyed by URI; Spark python workers are
#: single-threaded. Local files open per read: a rewritten local file
#: must never be served from a stale handle.
_RANGED_CACHE: dict[str, object] = {}


def read_range(path: str, offset: int, length: int) -> bytes:
    """One ranged read with no session — the worker-side primitive (a
    seek+read maps 1:1 onto an object store's ranged GET; reference
    src/pbf.rs:22-31 streams the PBF off S3 the same way). Schemes
    only a Hadoop client can serve (viewfs://) must be resolved to
    their target by the driver first (resolve_worker_path)."""
    if is_local(path):
        with open(local_path(path), "rb") as f:
            f.seek(offset)
            return f.read(length)
    f = _RANGED_CACHE.get(path)
    if f is None:
        try:
            fs, inner = pa_fs(path)
        except Exception as e:
            raise ValueError(
                f"no python-side filesystem for {path!r} ({e}); "
                "client-side-indirection schemes like viewfs:// must be "
                "resolved driver-side — use read_osm_pbf(spark, path), "
                "which resolves through the JVM mount table"
            ) from e
        f = _RANGED_CACHE[path] = fs.open_input_file(inner)
    return f.read_at(length, offset)
