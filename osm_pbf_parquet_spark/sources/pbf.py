"""Real OSM PBF ingestion — varint/protobuf-lite blob parsing.

The reference's native input is the public OSM PBF format (reference
src/pbf.rs:45-91 `process_blobs` walks the framed BlobHeader/Blob
stream; :175-191 demuxes Node/DenseNode/Way/Relation): a sequence of
[4-byte big-endian length][BlobHeader proto][Blob proto] file blocks,
each Blob holding a zlib-compressed protobuf `PrimitiveBlock` with a
string table and delta-encoded packed-varint element arrays. Round 3
only reproduced the framing SHAPE over Arrow IPC payloads
(sources/framed.py); this module completes S4/S5 parity by decoding
the actual protobuf wire format, from scratch, with no protobuf
library:

* `scan_osm_blobs` — header-only frame index (offset, size, type) per
  blob, no payload reads: the same O(#blocks) index pass as
  framed.scan_frames; validates the OSMHeader's required_features and
  fails loudly on unsupported ones (X6 fail-fast parity).
* `read_osm_pbf` — task-per-blob fan-out via mapInArrow (the
  reference's unit of parallelism, src/pbf.rs:64-89); inside each
  task the packed hot arrays (ids, lats, lons, timestamps, refs,
  memids) decode VECTORIZED in numpy — one pass finds varint
  boundaries, reduceat folds the 7-bit groups, cumsum materializes
  the delta chains — so Python-level iteration is O(#messages)
  (framing only), never O(#values).
* `write_osm_pbf` — fixture/egress-duty writer emitting genuine PBF
  (DenseNodes + DenseInfo with zigzag deltas, string table with the
  sid-0 sentinel, ways/relations with delta refs/memids), so the
  reader is tested against independently-constructed wire bytes and a
  user can also EXPORT a table as .osm.pbf.

Output schema = the unified 12-column element schema + `type`
(reference src/osm_arrow.rs:44-95; same shape sources/osm_elements.py
generates), feeding the normalize_* P1–P7 projections and the chunk
encoder directly. Lat/lon apply granularity/offset exactly as the
spec defines (1e-9 * (offset + granularity * value)); timestamps are
date_granularity-scaled epoch milliseconds.

Empty tag sets surface as EMPTY maps (the wire cannot distinguish
"no tags" from "empty tags"); `element_at`/`[]` lookups behave
identically to NULL maps.
"""

from __future__ import annotations

import os
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from ..config import striped_frame
from ..plans.fsutil import (
    is_local,
    open_ranged,
    read_range,
    resolve_worker_path,
    stat_file,
)

FRAME_HEADER = struct.Struct(">I")
MAX_BLOB_BYTES = 64 << 20  # spec: blobs SHOULD be <16 MB, MUST be <32 MB
SUPPORTED_FEATURES = {"OsmSchema-V0.6", "DenseNodes"}
_MEMBER_TYPES = ("node", "way", "relation")
_U64_MASK = (1 << 64) - 1


def unified_osm_schema() -> pa.Schema:
    """The reference's 12-column schema + type (src/osm_arrow.rs:44-95)."""
    return pa.schema(
        [
            ("id", pa.int64()),
            ("type", pa.string()),
            ("tags", pa.map_(pa.string(), pa.string())),
            ("lat", pa.float64()),
            ("lon", pa.float64()),
            ("nds", pa.list_(pa.struct([("ref", pa.int64())]))),
            (
                "members",
                pa.list_(
                    pa.struct(
                        [
                            ("type", pa.string()),
                            ("ref", pa.int64()),
                            ("role", pa.string()),
                        ]
                    )
                ),
            ),
            ("changeset", pa.int64()),
            ("timestamp", pa.timestamp("ms")),
            ("uid", pa.int32()),
            ("user", pa.string()),
            ("version", pa.int32()),
            ("visible", pa.bool_()),
        ]
    )


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """One base-128 varint (message-framing duty only; packed value
    arrays go through the vectorized numpy path)."""
    val = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            # Python ints never wrap: mask to the uint64 lane the wire
            # format defines (scalar twin of the numpy kernels)
            return val & _U64_MASK, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes — corrupt PBF")


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, int | bytes]]:
    """Walk a protobuf message's (field_no, wire_type, value) triples.
    wire_type 0 yields the varint value; 2 yields the raw bytes."""
    pos, end = 0, len(buf)
    while pos < end:
        tag, pos = _uvarint(buf, pos)
        fno, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _uvarint(buf, pos)
            yield fno, 0, v
        elif wt == 2:
            ln, pos = _uvarint(buf, pos)
            if pos + ln > end:
                raise ValueError(f"field {fno} overruns message — corrupt PBF")
            yield fno, 2, buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            yield fno, 5, buf[pos : pos + 4]
            pos += 4
        elif wt == 1:
            yield fno, 1, buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt} — corrupt PBF")


def _varint_values(b: np.ndarray, starts: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
    """Combine varint limbs by LENGTH CLASS: for each byte-length L
    present, one strided gather per limb position (≤10 rounds, usually
    2–4) — no arange/repeat/reduceat temporaries. 1.7× the reduceat
    fold on typical delta streams, parity on the 10-byte worst case.
    Values wrap mod 2^64 exactly like the wire format."""
    maxlen = int(lens.max()) if lens.size else 0
    if maxlen > 10:
        raise ValueError("varint longer than 10 bytes — corrupt PBF")
    b7 = (b & 0x7F).astype(np.uint64)
    if maxlen <= 1:
        return b7[starts]
    vals = np.zeros(starts.size, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for ln in range(1, maxlen + 1):
            sel = lens == ln
            if not sel.any():
                continue
            s = starts[sel]
            v = b7[s].copy()
            for j in range(1, ln):
                v |= b7[s + j] << np.uint64(7 * j)
            vals[sel] = v
    return vals


def _unpack_uvarints(buf: bytes) -> np.ndarray:
    """Vectorized packed-varint decode → uint64 array: continuation
    bits mark varint boundaries in one pass, then a length-class limb
    combine (no per-value Python)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (b & 0x80) != 0
    if cont[-1]:
        raise ValueError("packed field ends mid-varint — corrupt PBF")
    ends = np.nonzero(~cont)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    return _varint_values(b, starts, ends - starts + 1)


def _zigzag_decode(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).view(
        np.int64
    )


def _packed_sint_delta(buf: bytes) -> np.ndarray:
    """packed sint64 with per-element delta coding → absolute int64
    (the DenseNodes/way-refs S6 hot path: unpack → zigzag → cumsum)."""
    return np.cumsum(_zigzag_decode(_unpack_uvarints(buf)))


def _unpack_segments(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Batched packed-varint decode for MANY small buffers (one per
    way/relation message): numpy's per-call overhead (~70 µs) dwarfs an
    8-ref buffer, so per-message decode was 10× slower than the parse
    itself. One concat + ONE vectorized pass instead; per-segment value
    counts recovered from varint-end positions vs byte boundaries.
    Returns (counts per buffer, all values uint64 in order)."""
    if not bufs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    return _unpack_concat(np.frombuffer(b"".join(bufs), dtype=np.uint8), lens)


def _unpack_concat(b: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Core of :func:`_unpack_segments` over an already-concatenated
    uint8 buffer + per-segment byte lengths (the vectorized group walk
    hands its gathered slot buffers straight here — no bytes objects)."""
    if b.size == 0:
        return np.zeros(len(lens), dtype=np.int64), np.empty(0, np.uint64)
    cont = (b & 0x80) != 0
    if cont[-1]:
        raise ValueError("packed field ends mid-varint — corrupt PBF")
    ends = np.nonzero(~cont)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = _varint_values(b, starts, ends - starts + 1)
    bounds = np.cumsum(lens)
    # a varint must END inside its own buffer: ends < bound
    cum_counts = np.searchsorted(ends, bounds, side="left")
    counts = np.diff(np.concatenate(([0], cum_counts)))
    # …and START inside it too: a varint whose continuation bytes leak
    # across a message boundary is assigned (by its end) to the NEXT
    # buffer, so compare each varint's start to its buffer's start.
    if (np.repeat(bounds - lens, counts) > starts[: int(cum_counts[-1])]).any():
        raise ValueError("varint spans a message boundary — corrupt PBF")
    return counts, vals


def _batch_infos_flat(
    flat: np.ndarray, byte_counts: np.ndarray, st: pa.Array, dgran: int
) -> dict[str, pa.Array]:
    """Vectorized Info parsing for a whole way/relation group, fed the
    group walk's gathered (flat bytes, per-message byte counts) form —
    no bytes objects on the fast path. Every KNOWN Info field is
    wire-type-0, so an Info message's varint stream is normally a
    strict [tag, value, tag, value…] alternation — ONE batched varint
    decode + fancy indexing replaces a Python walk per message. A
    spec-legal file may still carry an unknown length-delimited Info
    extension (protobuf requires unknown fields to be SKIPPED, not
    rejected); when the strict alternating-varint assumption breaks,
    the group falls back to the per-message _parse_info walk, which
    skips unknown wire types. Genuinely corrupt bytes still fail
    loudly there (X6). Missing info (empty buf) → all-null row;
    visible defaults true when the message exists (protobuf
    default)."""
    try:
        counts, vals = _unpack_concat(flat, byte_counts)
        return _batch_infos_core(counts, vals, byte_counts > 0, st, dgran)
    except ValueError:
        bounds = np.cumsum(byte_counts)
        raw = flat.tobytes()
        bufs = [
            raw[e - c: e]
            for e, c in zip(bounds.tolist(), byte_counts.tolist())
        ]
        return _batch_infos_slow(bufs, st, dgran)


def _batch_infos_core(
    counts: np.ndarray, vals: np.ndarray, has_info: np.ndarray,
    st: pa.Array, dgran: int,
) -> dict[str, pa.Array]:
    n = len(has_info)
    total = int(counts.sum())
    if total % 2:
        raise ValueError("Info message with dangling field tag — corrupt PBF")
    msg_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
    starts = np.cumsum(counts) - counts
    within = (
        np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    )
    is_val = (within & 1) == 1
    tags = vals[~is_val]
    if tags.size and int((tags & np.uint64(7)).max()) != 0:
        raise ValueError("Info field with non-varint wire type — corrupt PBF")
    fno = (tags >> np.uint64(3)).astype(np.int64)
    values = vals[is_val]
    vmsg = msg_idx[is_val]

    def field(f: int):
        sel = fno == f
        return vmsg[sel], values[sel].copy().view(np.int64)

    def int_col(f: int, scale: int = 1) -> pa.Array:
        idx, v = field(f)
        out = np.zeros(n, dtype=np.int64)
        present = np.zeros(n, dtype=bool)
        out[idx] = v * scale
        present[idx] = True
        return pa.array(out, mask=~present)

    uidx, uv = field(5)
    sids = np.zeros(n, dtype=np.int64)
    upresent = np.zeros(n, dtype=bool)
    sids[uidx] = uv
    upresent[uidx] = True
    users = st.take(pa.array(sids, mask=~upresent))

    vidx, vv = field(6)
    vis = np.ones(n, dtype=bool)  # protobuf default: visible=true
    vis[vidx] = vv != 0
    return {
        "version": int_col(1),
        "ts_ms": int_col(2, dgran),
        "changeset": int_col(3),
        "uid": int_col(4),
        "user": users,
        "visible": pa.array(vis, mask=~has_info),
    }


def _batch_infos_slow(
    info_bufs: list[bytes], st: pa.Array, dgran: int
) -> dict[str, pa.Array]:
    """Per-message Info walk (spec-complete: skips unknown wire types)
    — the fallback when _batch_infos_fast's alternating-varint
    assumption is violated by an unknown length-delimited extension.
    Output semantics match the fast path exactly."""
    users = st.to_pylist()
    version, ts_ms, changeset, uid, user, visible = [], [], [], [], [], []
    for b in info_bufs:
        if not b:
            for sink in (version, ts_ms, changeset, uid, user, visible):
                sink.append(None)
            continue
        i = _parse_info(b)
        version.append(i["version"])
        ts_ms.append(
            i["timestamp"] * dgran if i["timestamp"] is not None else None
        )
        changeset.append(i["changeset"])
        uid.append(i["uid"])
        user.append(
            users[i["user_sid"]] if i["user_sid"] is not None else None
        )
        visible.append(i["visible"] if i["visible"] is not None else True)
    return {
        "version": pa.array(version, type=pa.int64()),
        "ts_ms": pa.array(ts_ms, type=pa.int64()),
        "changeset": pa.array(changeset, type=pa.int64()),
        "uid": pa.array(uid, type=pa.int64()),
        "user": pa.array(user, type=pa.string()),
        "visible": pa.array(visible, type=pa.bool_()),
    }


def _segmented_delta_decode(raw: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """zigzag + per-SEGMENT delta chains (each way's refs restart at 0):
    one global cumsum, then subtract each segment's incoming base."""
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    d = _zigzag_decode(raw)
    cum = np.cumsum(d)
    nz = counts > 0
    seg_starts = (np.cumsum(counts) - counts)[nz]
    base = (cum[seg_starts] - d[seg_starts])
    return cum - np.repeat(base, counts[nz])


def _pack_uvarints(vals: np.ndarray) -> bytes:
    """Vectorized packed-varint ENCODE (the decoder's twin): per-value
    byte counts from magnitude thresholds, then one scatter of shifted
    7-bit limbs with continuation bits. O(total bytes) numpy, no
    per-value Python — keeps fixture synthesis at bench scale."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    if v.size == 0:
        return b""
    nb = np.ones(v.size, dtype=np.int64)
    for k in range(1, 10):
        nb += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    total = int(nb.sum())
    starts = np.cumsum(nb) - nb
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, nb)
    rep_v = np.repeat(v, nb)
    limbs = (rep_v >> (7 * pos).astype(np.uint64)) & np.uint64(0x7F)
    cont = pos < np.repeat(nb, nb) - 1
    return (limbs.astype(np.uint8) | (cont.astype(np.uint8) << 7)).tobytes()


def _zigzag_encode(v: np.ndarray) -> np.ndarray:
    s = np.ascontiguousarray(v, dtype=np.int64)
    return ((s << 1) ^ (s >> 63)).view(np.uint64)


def _enc_uvarint(v: int) -> bytes:
    v &= _U64_MASK
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_zigzag(v: int) -> bytes:
    return _enc_uvarint(((v << 1) ^ (v >> 63)) & _U64_MASK)


def _field_key(fno: int, wt: int) -> bytes:
    return _enc_uvarint((fno << 3) | wt)


def _len_field(fno: int, payload: bytes) -> bytes:
    return _field_key(fno, 2) + _enc_uvarint(len(payload)) + payload


def _varint_field(fno: int, v: int) -> bytes:
    return _field_key(fno, 0) + _enc_uvarint(v)


_SMALL_PACK = 64  # numpy per-call overhead beats scalar below this


def _packed_field(fno: int, vals, zigzag: bool = False) -> bytes:
    if not isinstance(vals, np.ndarray):
        vals = list(vals)
        if len(vals) < _SMALL_PACK:  # way/relation tag lists: scalar wins
            enc = _enc_zigzag if zigzag else _enc_uvarint
            return _len_field(fno, b"".join(enc(int(v)) for v in vals))
        vals = np.asarray(vals, dtype=np.int64)
    u = _zigzag_encode(vals) if zigzag else vals.astype(np.int64).view(np.uint64)
    return _len_field(fno, _pack_uvarints(u))


def _packed_delta_field(fno: int, vals) -> bytes:
    if not isinstance(vals, np.ndarray):
        vals = list(vals)
        if len(vals) < _SMALL_PACK:  # per-way refs: scalar wins
            out, prev = [], 0
            for v in vals:
                # wrap the delta to int64 exactly like the numpy branch's
                # np.diff overflow (memory: mask scalar twins of np kernels)
                d = (int(v) - prev + (1 << 63)) % (1 << 64) - (1 << 63)
                out.append(_enc_zigzag(d))
                prev = int(v)
            return _len_field(fno, b"".join(out))
        vals = np.asarray(vals, dtype=np.int64)
    with np.errstate(over="ignore"):
        d = np.diff(vals.astype(np.int64), prepend=np.int64(0))
    return _len_field(fno, _pack_uvarints(_zigzag_encode(d)))


# ---------------------------------------------------------------------------
# PrimitiveBlock parsing (read path)
# ---------------------------------------------------------------------------

def _parse_stringtable(buf: bytes) -> pa.Array:
    """Stringtable → Arrow StringArray with NO per-string Python
    objects (r6: the per-entry slice+decode+list loop was ~19% of the
    whole blob decode). The fast path walks only (start, len) ints —
    every real-world entry is tag 0x0A (field 1, wiretype 2) — then
    materializes all strings with ONE numpy gather into a contiguous
    buffer and builds the array from raw offsets+data; the binary→
    string CAST validates UTF-8 vectorized in C++. Any non-0x0A tag
    or invalid UTF-8 falls back to the general scanner (which keeps
    the decode(errors='replace') semantics)."""
    end = len(buf)
    starts: list[int] = []
    lens: list[int] = []
    pos = 0
    simple = True
    while pos < end:
        if buf[pos] != 0x0A:
            simple = False
            break
        if pos + 1 >= end:
            # truncated entry (tag with no length byte): same typed
            # corruption error as every other X6 fail-fast path, not
            # an IndexError callers would miss
            raise ValueError("stringtable entry truncated — corrupt PBF")
        ln = buf[pos + 1]
        pos += 2
        if ln >= 0x80:
            ln, pos = _uvarint(buf, pos - 1)
        if pos + ln > end:
            raise ValueError("stringtable entry overruns — corrupt PBF")
        starts.append(pos)
        lens.append(ln)
        pos += ln
    if simple:
        k = len(lens)
        if k == 0:
            return pa.array([], type=pa.string())
        st = np.fromiter(starts, np.int64, k)
        ls = np.fromiter(lens, np.int64, k)
        offsets = np.zeros(k + 1, dtype=np.int32)
        np.cumsum(ls, out=offsets[1:])
        total = int(offsets[-1])
        data = np.frombuffer(buf, np.uint8)
        idx = np.repeat(st - offsets[:-1], ls) + np.arange(total)
        flat = np.ascontiguousarray(data[idx])
        binarr = pa.Array.from_buffers(
            pa.binary(), k,
            [None, pa.py_buffer(offsets), pa.py_buffer(flat)],
        )
        try:
            return binarr.cast(pa.string())  # vectorized UTF-8 check
        except pa.lib.ArrowInvalid:
            pass  # rare: fall through to replace-semantics scanner
    strings = []
    pos = 0
    while pos < end:
        tag = buf[pos]
        pos += 1
        if tag >= 0x80:
            tag, pos = _uvarint(buf, pos - 1)
        wt = tag & 7
        if wt == 2:
            ln = buf[pos]
            pos += 1
            if ln >= 0x80:
                ln, pos = _uvarint(buf, pos - 1)
            if pos + ln > end:
                raise ValueError("stringtable entry overruns — corrupt PBF")
            if (tag >> 3) == 1:
                strings.append(
                    buf[pos:pos + ln].decode("utf-8", errors="replace")
                )
            pos += ln
        elif wt == 0:
            vstart = pos
            while buf[pos] >= 0x80:
                pos += 1
                if pos - vstart > 9:
                    raise ValueError(
                        "varint longer than 10 bytes — corrupt PBF"
                    )
            pos += 1
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt} — corrupt PBF")
    return pa.array(strings, type=pa.string())


def _parse_info(buf: bytes) -> dict:
    out = {"version": None, "timestamp": None, "changeset": None,
           "uid": None, "user_sid": None, "visible": None}
    for f, w, v in _iter_fields(buf):
        if w != 0:
            continue
        if f == 1:
            out["version"] = np.int64(v).astype(np.int32).item()
        elif f == 2:
            out["timestamp"] = np.uint64(v).view(np.int64).item()
        elif f == 3:
            out["changeset"] = np.uint64(v).view(np.int64).item()
        elif f == 4:
            out["uid"] = np.int64(v).astype(np.int32).item()
        elif f == 5:
            out["user_sid"] = int(v)
        elif f == 6:
            out["visible"] = bool(v)
    return out


class _Columns:
    """Per-blob unified-schema column accumulators (the Spark twin of
    the reference's OSMArrowBuilder, src/osm_arrow.rs:98-265 — but
    fed whole vectors, not rows)."""

    def __init__(self) -> None:
        self.ids: list[np.ndarray] = []
        self.types: list[str] = []          # one per SEGMENT
        self.seg_lens: list[int] = []
        self.tag_offsets: list[np.ndarray] = []
        self.tag_keys: list[pa.Array] = []
        self.tag_vals: list[pa.Array] = []
        self.lat: list[np.ndarray | None] = []
        self.lon: list[np.ndarray | None] = []
        self.nds_offsets: list[np.ndarray | None] = []
        self.nds_refs: list[np.ndarray] = []
        self.mem_offsets: list[np.ndarray | None] = []
        self.mem_types: list[np.ndarray] = []
        self.mem_refs: list[np.ndarray] = []
        self.mem_roles: list[pa.Array] = []
        self.changeset: list = []
        self.ts_ms: list = []
        self.uid: list = []
        self.user: list = []
        self.version: list = []
        self.visible: list = []


def _concat_offsets(segments: list[np.ndarray], lens: list[int]) -> np.ndarray:
    """Stitch per-segment list offsets into one running offset array."""
    total = sum(lens)
    out = np.zeros(total + 1, dtype=np.int64)
    pos, base = 1, 0
    for seg in segments:
        out[pos : pos + len(seg) - 1] = seg[1:] + base
        base += seg[-1]
        pos += len(seg) - 1
    return out


def _parse_dense(buf: bytes, st: pa.Array, gran: int, lat_off: int,
                 lon_off: int, dgran: int, cols: _Columns) -> None:
    # accumulate raw bytes per field first: protobuf allows a packed
    # field to be split across several occurrences (and an embedded
    # message like DenseInfo to be merged by concatenation) — decoding
    # the concatenation is exactly the spec's merge, and the zigzag-
    # delta chains continue across the split because each field is one
    # logical array
    acc = {1: b"", 5: b"", 8: b"", 9: b"", 10: b""}
    for f, w, v in _iter_fields(buf):
        if f in acc and w == 2:
            acc[f] = acc[f] + v if acc[f] else v
    ids = _packed_sint_delta(acc[1]) if acc[1] else None
    info_buf = acc[5] or None
    lats = _packed_sint_delta(acc[8]) if acc[8] else None
    lons = _packed_sint_delta(acc[9]) if acc[9] else None
    kv = _unpack_uvarints(acc[10]).astype(np.int64) if acc[10] else None
    if ids is None or len(ids) == 0:
        return
    n = len(ids)
    cols.ids.append(ids)
    cols.types.append("node")
    cols.seg_lens.append(n)
    cols.lat.append(1e-9 * (lat_off + gran * lats.astype(np.float64)))
    cols.lon.append(1e-9 * (lon_off + gran * lons.astype(np.float64)))
    # keys_vals: (k, v)* pairs per node, 0-terminated; sid 0 is the
    # empty-string sentinel so nonzero values ARE the flattened pairs
    if kv is None or kv.size == 0:
        cols.tag_offsets.append(np.zeros(n + 1, dtype=np.int64))
        cols.tag_keys.append(pa.array([], type=pa.string()))
        cols.tag_vals.append(pa.array([], type=pa.string()))
    else:
        zpos = np.nonzero(kv == 0)[0]
        if len(zpos) != n:
            raise ValueError(
                f"keys_vals has {len(zpos)} delimiters for {n} nodes — "
                "corrupt PBF"
            )
        starts = np.empty_like(zpos)
        starts[0] = 0
        starts[1:] = zpos[:-1] + 1
        counts = (zpos - starts) // 2
        flat = kv[kv != 0]
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        cols.tag_offsets.append(offsets)
        cols.tag_keys.append(st.take(pa.array(flat[0::2])))
        cols.tag_vals.append(st.take(pa.array(flat[1::2])))
    cols.nds_offsets.append(None)
    cols.mem_offsets.append(None)
    if info_buf is not None:
        iacc = {1: b"", 2: b"", 3: b"", 4: b"", 5: b"", 6: b""}
        for f, w, v in _iter_fields(info_buf):
            if f in iacc and w == 2:  # split packed fields: concatenate
                iacc[f] = iacc[f] + v if iacc[f] else v
        versions = (
            _unpack_uvarints(iacc[1]).view(np.int64).astype(np.int32)
            if iacc[1] else None
        )
        timestamps = _packed_sint_delta(iacc[2]) if iacc[2] else None
        changesets = _packed_sint_delta(iacc[3]) if iacc[3] else None
        uids = _packed_sint_delta(iacc[4]).astype(np.int32) if iacc[4] else None
        user_sids = _packed_sint_delta(iacc[5]) if iacc[5] else None
        visibles = (_unpack_uvarints(iacc[6]) != 0) if iacc[6] else None
        cols.changeset.append(changesets)
        cols.ts_ms.append(
            timestamps * dgran if timestamps is not None else None
        )
        cols.uid.append(uids)
        cols.user.append(
            st.take(pa.array(user_sids)) if user_sids is not None else None
        )
        cols.version.append(versions)
        cols.visible.append(
            visibles if visibles is not None else np.ones(n, dtype=bool)
        )
    else:
        for sink in (cols.changeset, cols.ts_ms, cols.uid, cols.user,
                     cols.version, cols.visible):
            sink.append(None)


def _vread_varints(bufp: np.ndarray, p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varint decode at MANY positions of one zero-padded
    buffer (the 10-byte pad guarantees every lane's window is in
    bounds; pad bytes are 0x00 = stop bytes, and a varint that "ends"
    in the pad is caught by the caller's overrun check). Returns
    (values uint64 — wrapping mod 2^64 exactly like the wire format —
    and byte counts int64)."""
    win = bufp[p[:, None] + np.arange(10)]
    stop = np.argmax((win & 0x80) == 0, axis=1)
    if p.size and ((win[np.arange(p.size), stop] & 0x80) != 0).any():
        raise ValueError("varint longer than 10 bytes — corrupt PBF")
    shifts = np.uint64(7) * np.arange(10, dtype=np.uint64)
    with np.errstate(over="ignore"):
        limbs = (win & 0x7F).astype(np.uint64) << shifts
        vals = np.where(
            np.arange(10) <= stop[:, None], limbs, np.uint64(0)
        ).sum(axis=1, dtype=np.uint64)
    return vals, (stop + 1).astype(np.int64)


def _walk_one_scalar(
    g: bytes, start: int, end: int, slot: dict[int, int], nslots: int,
) -> tuple[int, list[list[tuple[int, int]]]]:
    """Per-message scalar walk (the vectorized walk's fallback for
    spec-legal oddballs: multi-byte tags i.e. fno > 15). Returns the
    id and per-slot (abs_start, len) spans in occurrence order."""
    spans: list[list[tuple[int, int]]] = [[] for _ in range(nslots)]
    el_id = 0
    pos = start
    while pos < end:
        tag, pos = _uvarint(g, pos)
        fno = tag >> 3
        wt = tag & 7
        if wt == 0:
            v, pos = _uvarint(g, pos)
            if fno == 1:
                # wrap uint64 wire value to int64 (scalar twin of the
                # numpy .view(int64))
                el_id = v - (1 << 64) if v >= (1 << 63) else v
        elif wt == 2:
            ln, pos = _uvarint(g, pos)
            if pos + ln > end:
                raise ValueError(
                    f"field {fno} overruns message — corrupt PBF"
                )
            s = slot.get(fno)
            if s is not None:
                spans[s].append((pos, ln))
            pos += ln
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt} — corrupt PBF")
    return el_id, spans


def _walk_way_like(
    g: bytes, gbuf: np.ndarray, starts: np.ndarray, ends: np.ndarray,
    slot_fnos: tuple[int, ...],
) -> tuple[np.ndarray, list[tuple[np.ndarray, np.ndarray, np.ndarray]]]:
    """Round-based VECTORIZED protobuf walk over every way/relation
    message of one group at once: round k processes each alive
    message's k-th field lane-wise (tag gather, one batched varint
    decode per wire-type class, cursor advance), so the Python cost is
    O(max fields per message) numpy calls instead of O(total fields)
    bytecode — the per-message scanner this replaces was the largest
    single cost of mixed blob decode (~33%). Way/relation messages
    have ~6 fields, so ~6 rounds cover a whole group.

    Returns (ids int64[n], per-slot span triples (msg, start, len)
    stable-sorted by msg — occurrence order preserved within a
    message, so protobuf's split-packed-field concatenation rule
    holds). Messages with multi-byte tags (fno > 15, spec-legal,
    unseen in the wild) fall back to the scalar walk."""
    n = starts.size
    nslots = len(slot_fnos)
    slot_lut = np.full(16, -1, dtype=np.int64)
    for s, f in enumerate(slot_fnos):
        slot_lut[f] = s
    bufp = np.concatenate([gbuf, np.zeros(10, dtype=np.uint8)])
    ids = np.zeros(n, dtype=np.int64)
    acc: list[list[tuple[np.ndarray, np.ndarray, np.ndarray]]] = [
        [] for _ in range(nslots)
    ]
    is_fb = np.zeros(n, dtype=bool)
    cur = starts.astype(np.int64).copy()
    end = ends.astype(np.int64)
    alive = np.nonzero(cur < end)[0]
    while alive.size:
        c = cur[alive]
        tag = bufp[c].astype(np.int64)
        mb = tag >= 0x80
        if mb.any():
            is_fb[alive[mb]] = True
            alive, c, tag = alive[~mb], c[~mb], tag[~mb]
            if alive.size == 0:
                break
        fno = tag >> 3
        wt = tag & 7
        newc = np.empty(alive.size, dtype=np.int64)
        w0 = wt == 0
        if w0.any():
            v, nb = _vread_varints(bufp, c[w0] + 1)
            newc[w0] = c[w0] + 1 + nb
            is_id = fno[w0] == 1
            if is_id.any():
                ids[alive[w0][is_id]] = v[is_id].view(np.int64)
        w2 = wt == 2
        if w2.any():
            ln_u, nb = _vread_varints(bufp, c[w2] + 1)
            if (ln_u >> np.uint64(31)).any():
                f_bad = int(fno[w2][(ln_u >> np.uint64(31)) != 0][0])
                raise ValueError(
                    f"field {f_bad} overruns message — corrupt PBF"
                )
            ln = ln_u.view(np.int64)
            fstart = c[w2] + 1 + nb
            newc[w2] = fstart + ln
            slots = slot_lut[fno[w2]]  # fno ≤ 15 here (single-byte tag)
            for s in range(nslots):
                sel = slots == s
                if sel.any():
                    acc[s].append(
                        (alive[w2][sel], fstart[sel], ln[sel])
                    )
        w5 = wt == 5
        if w5.any():
            newc[w5] = c[w5] + 5
        w1 = wt == 1
        if w1.any():
            newc[w1] = c[w1] + 9
        other = ~(w0 | w2 | w5 | w1)
        if other.any():
            raise ValueError(
                f"unsupported wire type {int(wt[other][0])} — corrupt PBF"
            )
        over = newc > end[alive]
        if over.any():
            bad = over & (w0 | w2)
            if bad.any():
                raise ValueError(
                    f"field {int(fno[bad][0])} overruns message — "
                    "corrupt PBF"
                )
            # wire types 5/1 may skip past the end (the scalar walk
            # tolerates this); clamp so the message just terminates
            newc = np.minimum(newc, end[alive])
        cur[alive] = newc
        alive = alive[newc < end[alive]]
    fb = is_fb.any()
    if fb:
        # a fallback message may have had early fields recorded by the
        # vector rounds before the oddball tag was hit — drop those and
        # let the scalar walk (which restarts at the message start)
        # own the whole message
        for s in range(nslots):
            acc[s] = [
                (a[0][~is_fb[a[0]]], a[1][~is_fb[a[0]]],
                 a[2][~is_fb[a[0]]])
                for a in acc[s]
            ]
        slot = {f: s for s, f in enumerate(slot_fnos)}
        for i in np.nonzero(is_fb)[0].tolist():
            el_id, spans = _walk_one_scalar(
                g, int(starts[i]), int(ends[i]), slot, nslots
            )
            ids[i] = el_id
            for s in range(nslots):
                if spans[s]:
                    a = np.array(spans[s], dtype=np.int64)
                    acc[s].append(
                        (np.full(len(a), np.int64(i)), a[:, 0], a[:, 1])
                    )
    out: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    empty = np.empty(0, dtype=np.int64)
    for s in range(nslots):
        if not acc[s]:
            out.append((empty, empty, empty))
            continue
        m = np.concatenate([a[0] for a in acc[s]])
        st_ = np.concatenate([a[1] for a in acc[s]])
        ln = np.concatenate([a[2] for a in acc[s]])
        o = np.argsort(m, kind="stable")
        out.append((m[o], st_[o], ln[o]))
    return ids, out


def _gather_slot(
    gbuf: np.ndarray, span: tuple[np.ndarray, np.ndarray, np.ndarray],
    n: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Spans → (flat concatenated bytes, per-message byte counts): one
    fancy-index gather builds the same concatenation the old
    per-message bytes-join produced, without any bytes objects."""
    m, st_, ln = span
    if m.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(n, dtype=np.int64)
    counts = np.bincount(m, weights=ln, minlength=n).astype(np.int64)
    total = int(ln.sum())
    ofs = np.cumsum(ln) - ln
    idx = np.repeat(st_ - ofs, ln) + np.arange(total, dtype=np.int64)
    return gbuf[idx], counts


def _parse_way_like(g: bytes, gbuf: np.ndarray, starts: np.ndarray,
                    ends: np.ndarray, kind: str, st: pa.Array,
                    dgran: int, cols: _Columns) -> None:
    """Ways and relations share everything except the ref/member
    fields; the vectorized walk collects every packed field's spans,
    then ONE gather + ONE batched varint decode per field covers the
    whole group. Split packed fields concatenate in occurrence order
    (the walk's stable sort), matching protobuf's merge rule — delta
    chains continue across the split because each field is one
    logical array."""
    n = starts.size
    if kind == "way":
        slot_fnos = (2, 3, 4, 8)  # keys vals info refs
    else:
        slot_fnos = (2, 3, 4, 9, 8, 10)  # + memids(9)→refs, roles, types
    ids, spans = _walk_way_like(g, gbuf, starts, ends, slot_fnos)
    # phase 2 — ONE vectorized decode per field across the whole group
    keys_b, keys_c = _gather_slot(gbuf, spans[0], n)
    vals_b, vals_c = _gather_slot(gbuf, spans[1], n)
    info_b, info_c = _gather_slot(gbuf, spans[2], n)
    refs_b, refs_c = _gather_slot(gbuf, spans[3], n)
    tag_counts, flat_keys = _unpack_concat(keys_b, keys_c)
    _, flat_vals = _unpack_concat(vals_b, vals_c)
    ref_counts, raw_refs = _unpack_concat(refs_b, refs_c)
    flat_refs = _segmented_delta_decode(raw_refs, ref_counts)
    cols.ids.append(ids)
    cols.types.append(kind)
    cols.seg_lens.append(n)
    tag_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tag_counts, out=tag_offsets[1:])
    cols.tag_offsets.append(tag_offsets)
    cols.tag_keys.append(st.take(pa.array(flat_keys.astype(np.int64))))
    cols.tag_vals.append(st.take(pa.array(flat_vals.astype(np.int64))))
    cols.lat.append(None)
    cols.lon.append(None)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(ref_counts, out=offsets[1:])
    if kind == "way":
        cols.nds_offsets.append(offsets)
        cols.nds_refs.append(flat_refs)
        cols.mem_offsets.append(None)
    else:
        roles_b, roles_c = _gather_slot(gbuf, spans[4], n)
        types_b, types_c = _gather_slot(gbuf, spans[5], n)
        _, flat_roles = _unpack_concat(roles_b, roles_c)
        _, flat_types = _unpack_concat(types_b, types_c)
        cols.nds_offsets.append(None)
        cols.mem_offsets.append(offsets)
        cols.mem_refs.append(flat_refs)
        cols.mem_types.append(flat_types.astype(np.int64))
        cols.mem_roles.append(
            st.take(pa.array(flat_roles.astype(np.int64)))
        )
    # info scalars: one batched varint pass for the whole group
    info = _batch_infos_flat(info_b, info_c, st, dgran)
    cols.changeset.append(info["changeset"])
    cols.ts_ms.append(info["ts_ms"])
    cols.uid.append(info["uid"])
    cols.user.append(info["user"])
    cols.version.append(info["version"])
    cols.visible.append(info["visible"])


def _parse_plain_nodes(msgs: list[bytes], st: pa.Array, gran: int,
                       lat_off: int, lon_off: int, dgran: int,
                       cols: _Columns) -> None:
    """Non-dense Node groups (rare in the wild; spec-complete)."""
    n = len(msgs)
    ids = np.empty(n, dtype=np.int64)
    lats = np.empty(n, dtype=np.int64)
    lons = np.empty(n, dtype=np.int64)
    tag_counts = np.empty(n, dtype=np.int64)
    keys_parts, vals_parts, infos = [], [], []
    for i, msg in enumerate(msgs):
        key_b = val_b = info_b = b""  # split packed fields: concatenate
        for f, w, v in _iter_fields(msg):
            if f == 1:
                ids[i] = _zigzag_decode(np.array([v], dtype=np.uint64))[0]
            elif f == 2:
                key_b = key_b + v if key_b else v
            elif f == 3:
                val_b = val_b + v if val_b else v
            elif f == 4:
                info_b = info_b + v if info_b else v
            elif f == 8:
                lats[i] = _zigzag_decode(np.array([v], dtype=np.uint64))[0]
            elif f == 9:
                lons[i] = _zigzag_decode(np.array([v], dtype=np.uint64))[0]
        keys = _unpack_uvarints(key_b) if key_b else None
        vals = _unpack_uvarints(val_b) if val_b else None
        info = _parse_info(info_b) if info_b else None
        nk = 0 if keys is None else len(keys)
        tag_counts[i] = nk
        if nk:
            keys_parts.append(keys)
            vals_parts.append(vals)
        infos.append(info)
    cols.ids.append(ids)
    cols.types.append("node")
    cols.seg_lens.append(n)
    cols.lat.append(1e-9 * (lat_off + gran * lats.astype(np.float64)))
    cols.lon.append(1e-9 * (lon_off + gran * lons.astype(np.float64)))
    tag_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tag_counts, out=tag_offsets[1:])
    cols.tag_offsets.append(tag_offsets)
    flat_k = (np.concatenate(keys_parts) if keys_parts
              else np.empty(0, dtype=np.uint64))
    flat_v = (np.concatenate(vals_parts) if vals_parts
              else np.empty(0, dtype=np.uint64))
    cols.tag_keys.append(st.take(pa.array(flat_k.astype(np.int64))))
    cols.tag_vals.append(st.take(pa.array(flat_v.astype(np.int64))))
    cols.nds_offsets.append(None)
    cols.mem_offsets.append(None)
    users = st.to_pylist()
    cols.changeset.append([i["changeset"] if i else None for i in infos])
    cols.ts_ms.append(
        [i["timestamp"] * dgran if i and i["timestamp"] is not None else None
         for i in infos]
    )
    cols.uid.append([i["uid"] if i else None for i in infos])
    cols.user.append(
        [users[i["user_sid"]] if i and i["user_sid"] is not None else None
         for i in infos]
    )
    cols.version.append([i["version"] if i else None for i in infos])
    cols.visible.append(
        [(i["visible"] if i["visible"] is not None else True) if i else None
         for i in infos]
    )


def _seg_array(seg, n: int, typ: pa.DataType) -> pa.Array:
    if seg is None:
        return pa.nulls(n, typ)
    if isinstance(seg, pa.Array):
        return seg.cast(typ) if seg.type != typ else seg
    return pa.array(seg, type=typ)


def _const_str_array(s: str, n: int) -> pa.Array:
    """n copies of one string as a StringArray built straight from
    offset/data buffers — the numpy-unicode → Arrow conversion that
    pa.array(np.repeat(...)) does per element was ~8% of whole-blob
    decode for the type column."""
    bt = s.encode()
    offsets = np.arange(n + 1, dtype=np.int32) * np.int32(len(bt))
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(bt * n)
    )


def _finish_table(cols: _Columns) -> pa.Table:
    schema = unified_osm_schema()
    lens = cols.seg_lens
    n = sum(lens)
    if not lens:  # spec-legal empty PrimitiveBlock (or all-empty groups)
        return schema.empty_table()
    type_arr = pa.concat_arrays(
        [_const_str_array(t, ln) for t, ln in zip(cols.types, lens)]
    )
    tags = pa.MapArray.from_arrays(
        pa.array(_concat_offsets(cols.tag_offsets, lens), type=pa.int32()),
        pa.concat_arrays([a.cast(pa.string()) for a in cols.tag_keys]),
        pa.concat_arrays([a.cast(pa.string()) for a in cols.tag_vals]),
    )
    lat_parts = [
        _seg_array(s, ln, pa.float64()) for s, ln in zip(cols.lat, lens)
    ]
    lon_parts = [
        _seg_array(s, ln, pa.float64()) for s, ln in zip(cols.lon, lens)
    ]
    nds_type = schema.field("nds").type
    mem_type = schema.field("members").type
    nds_parts, mem_parts = [], []
    way_i = rel_i = 0
    for seg_i, ln in enumerate(lens):
        noff = cols.nds_offsets[seg_i]
        if noff is None:
            nds_parts.append(pa.nulls(ln, nds_type))
        else:
            refs = pa.array(cols.nds_refs[way_i], type=pa.int64())
            nds_parts.append(
                pa.ListArray.from_arrays(
                    pa.array(noff, type=pa.int32()),
                    pa.StructArray.from_arrays([refs], ["ref"]),
                ).cast(nds_type)
            )
            way_i += 1
        moff = cols.mem_offsets[seg_i]
        if moff is None:
            mem_parts.append(pa.nulls(ln, mem_type))
        else:
            mt = pa.array(_MEMBER_TYPES, type=pa.string()).take(
                pa.array(cols.mem_types[rel_i])
            )
            mem_parts.append(
                pa.ListArray.from_arrays(
                    pa.array(moff, type=pa.int32()),
                    pa.StructArray.from_arrays(
                        [
                            mt,
                            pa.array(cols.mem_refs[rel_i], type=pa.int64()),
                            cols.mem_roles[rel_i].cast(pa.string()),
                        ],
                        ["type", "ref", "role"],
                    ),
                ).cast(mem_type)
            )
            rel_i += 1
    arrays = [
        pa.concat_arrays([
            _seg_array(s, ln, pa.int64()) for s, ln in zip(cols.ids, lens)
        ]),
        type_arr,
        tags,
        pa.concat_arrays(lat_parts),
        pa.concat_arrays(lon_parts),
        pa.concat_arrays(nds_parts),
        pa.concat_arrays(mem_parts),
        pa.concat_arrays([
            _seg_array(s, ln, pa.int64())
            for s, ln in zip(cols.changeset, lens)
        ]),
        pa.concat_arrays([
            _seg_array(s, ln, pa.timestamp("ms"))
            for s, ln in zip(cols.ts_ms, lens)
        ]),
        pa.concat_arrays([
            _seg_array(s, ln, pa.int32()) for s, ln in zip(cols.uid, lens)
        ]),
        pa.concat_arrays([
            _seg_array(s, ln, pa.string()) for s, ln in zip(cols.user, lens)
        ]),
        pa.concat_arrays([
            _seg_array(s, ln, pa.int32()) for s, ln in zip(cols.version, lens)
        ]),
        pa.concat_arrays([
            _seg_array(s, ln, pa.bool_()) for s, ln in zip(cols.visible, lens)
        ]),
    ]
    assert all(len(a) == n for a in arrays)
    return pa.table(dict(zip(schema.names, arrays)), schema=schema)


def parse_primitive_block(raw: bytes) -> pa.Table:
    """One decompressed PrimitiveBlock → unified-schema Arrow table."""
    st_buf = None
    groups: list[bytes] = []
    gran, dgran, lat_off, lon_off = 100, 1000, 0, 0
    for f, w, v in _iter_fields(raw):
        if f == 1:
            # a split StringTable merges by byte concatenation (its
            # repeated string entries simply continue)
            st_buf = st_buf + v if st_buf else v
        elif f == 2:
            groups.append(v)
        elif f == 17:
            gran = int(v)
        elif f == 18:
            dgran = int(v)
        elif f == 19:
            lat_off = np.uint64(v).view(np.int64).item()
        elif f == 20:
            lon_off = np.uint64(v).view(np.int64).item()
    st = (
        _parse_stringtable(st_buf) if st_buf is not None
        else pa.array([], type=pa.string())
    )
    cols = _Columns()
    for g in groups:
        # inline group scan (one iteration per MESSAGE): record way/
        # relation message positions without slicing — the vectorized
        # walk reads them straight out of the group buffer. Generator
        # + slice overhead here was ~14% of mixed blob decode.
        plain_nodes: list[bytes] = []
        dense = None
        way_pos: list[int] = []
        rel_pos: list[int] = []
        pos, gend = 0, len(g)
        while pos < gend:
            tag = g[pos]
            pos += 1
            if tag >= 0x80:  # multi-byte tag (fno > 15) — spec-legal
                tag, pos = _uvarint(g, pos - 1)
            fno = tag >> 3
            wt = tag & 7
            if wt == 2:
                ln = g[pos]
                pos += 1
                if ln >= 0x80:
                    ln, pos = _uvarint(g, pos - 1)
                if pos + ln > gend:
                    raise ValueError(
                        f"field {fno} overruns message — corrupt PBF"
                    )
                if fno == 3:
                    way_pos.append(pos)
                    way_pos.append(pos + ln)
                elif fno == 4:
                    rel_pos.append(pos)
                    rel_pos.append(pos + ln)
                elif fno == 1:
                    plain_nodes.append(g[pos:pos + ln])
                elif fno == 2:
                    dense = g[pos:pos + ln]
                pos += ln
            elif wt == 0:
                vstart = pos
                while g[pos] >= 0x80:
                    pos += 1
                    if pos - vstart > 9:
                        raise ValueError(
                            "varint longer than 10 bytes — corrupt PBF"
                        )
                pos += 1
            elif wt == 5:
                pos += 4
            elif wt == 1:
                pos += 8
            else:
                raise ValueError(
                    f"unsupported wire type {wt} — corrupt PBF"
                )
        if plain_nodes:
            _parse_plain_nodes(plain_nodes, st, gran, lat_off, lon_off,
                               dgran, cols)
        if dense is not None:
            _parse_dense(dense, st, gran, lat_off, lon_off, dgran, cols)
        gbuf = np.frombuffer(g, dtype=np.uint8) if way_pos or rel_pos \
            else None
        if way_pos:
            p = np.array(way_pos, dtype=np.int64).reshape(-1, 2)
            _parse_way_like(g, gbuf, p[:, 0], p[:, 1], "way", st, dgran,
                            cols)
        if rel_pos:
            p = np.array(rel_pos, dtype=np.int64).reshape(-1, 2)
            _parse_way_like(g, gbuf, p[:, 0], p[:, 1], "relation", st,
                            dgran, cols)
    return _finish_table(cols)


# ---------------------------------------------------------------------------
# file level: scan + block-parallel read
# ---------------------------------------------------------------------------

def _parse_blob_header(buf: bytes) -> tuple[str, int]:
    btype, datasize = "", -1
    for f, w, v in _iter_fields(buf):
        if f == 1 and w == 2:
            btype = v.decode("utf-8")
        elif f == 3 and w == 0:
            datasize = int(v)
    if not btype or datasize < 0:
        raise ValueError("BlobHeader missing type/datasize — corrupt PBF")
    return btype, datasize


def _blob_payload(blob: bytes) -> bytes:
    raw = zdata = None
    raw_size = None
    for f, w, v in _iter_fields(blob):
        if f == 1 and w == 2:
            raw = v
        elif f == 2 and w == 0:
            raw_size = int(v)
        elif f == 3 and w == 2:
            zdata = v
    if zdata is not None:
        out = zlib.decompress(zdata)
        if raw_size is not None and len(out) != raw_size:
            raise ValueError(
                f"blob inflated to {len(out)} bytes, header said {raw_size}"
                " — corrupt PBF"
            )
        return out
    if raw is not None:
        return raw
    raise ValueError("blob has neither raw nor zlib_data — unsupported codec")


def _check_header_block(raw: bytes) -> None:
    for f, w, v in _iter_fields(raw):
        if f == 4 and w == 2:
            feat = v.decode("utf-8")
            if feat not in SUPPORTED_FEATURES:
                raise ValueError(
                    f"PBF requires unsupported feature {feat!r} "
                    f"(supported: {sorted(SUPPORTED_FEATURES)})"
                )


def _scan_loop(size: int, read_at) -> list[tuple[int, int]]:
    """The backend-independent BlobHeader walk: reads ONLY the tiny
    headers (4-byte length + BlobHeader proto), seeks past payloads."""
    idx: list[tuple[int, int]] = []
    off = 0
    while off < size:
        hdr = read_at(off, 4)
        if len(hdr) < 4:
            raise ValueError(f"truncated blob header length at {off}")
        (hlen,) = FRAME_HEADER.unpack(hdr)
        if hlen > 64 << 10:
            raise ValueError(f"BlobHeader of {hlen} bytes at {off} — corrupt")
        bh = read_at(off + 4, hlen)
        if len(bh) < hlen:
            raise ValueError(f"truncated BlobHeader at {off}")
        btype, datasize = _parse_blob_header(bh)
        data_off = off + 4 + hlen
        if datasize > MAX_BLOB_BYTES or data_off + datasize > size:
            raise ValueError(f"blob at {off}: datasize {datasize} exceeds file")
        if btype == "OSMHeader":
            _check_header_block(_blob_payload(read_at(data_off, datasize)))
        elif btype == "OSMData":
            idx.append((data_off, datasize))
        # unknown blob types: skip per spec (never read their payload)
        off = data_off + datasize
    return idx


def scan_osm_blobs(path: str, spark=None,
                   distributed: bool | None = None,
                   range_bytes: int = 64 << 20,
                   probe_bytes: int = 4 << 20) -> list[tuple[int, int]]:
    """Index of OSMData blobs [(payload_offset, payload_len)] — reads
    only the tiny BlobHeaders (seek past payloads), validates the
    OSMHeader's required_features. Raises on truncation/corruption
    (reference panics on corrupt blobs — X6).

    `distributed=None` auto-routes big REMOTE files (≥ 256 MB on a
    non-local scheme) through the executor-parallel resync scan when
    a session is available — its tiling proof guarantees the result
    is identical to the sequential walk, falling back here when it
    can't prove it. Local files stay sequential regardless of size
    (seeks are latency-free, so the chained walk beats a Spark job:
    measured 0.31 s sequential vs 0.46 s distributed on a 200 MB
    local file — the round-trip-bound regime the distributed scan
    targets only exists over object stores). True forces it
    anywhere, False forbids it.

    Remote paths (reference src/pbf.rs:22-31 create_s3_buf_reader +
    dispatch src/lib.rs:34-37) are served by whichever client
    plans/fsutil.py routes the path to: POSIX for local and file:
    paths, pyarrow for the s3 family, the session's Hadoop FileSystem
    for any other scheme (viewfs://, hdfs://, …)."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if distributed and spark is None:
        raise ValueError("distributed=True requires an active SparkSession")
    if spark is not None and distributed is not False:
        try:
            sz = stat_file(spark, path)[1]
        except Exception:  # noqa: BLE001 - the walk below reports it
            sz = None
        if distributed or (not is_local(path) and sz is not None
                           and sz >= _DISTRIBUTED_SCAN_MIN):
            try:
                return scan_osm_blobs_distributed(
                    spark, path, range_bytes, probe_bytes, size=sz
                )
            except _ResyncFailed:
                pass  # provably-safe: re-walk sequentially below
            except Exception:
                if distributed:
                    raise  # forced mode surfaces environment failures
                # auto mode treats the distributed path as a pure
                # optimization: any environment failure (no python-side
                # filesystem for the scheme, executors missing the
                # package, …) falls back to the sequential walk, which
                # re-detects genuine corruption with proper errors
                pass
    # a short read means truncation (ValueError from the walk); any
    # other IO failure surfaces from the reader as OSError
    with open_ranged(spark, path) as (size, read_at):
        return _scan_loop(size, read_at)


#: BlobHeader signatures for resync: field 1 (`type`, tag 0x0A) is a
#: length-prefixed string, so a spec-typical header starts
#: `\x0a\x07OSMData` / `\x0a\x09OSMHeader` exactly 4 bytes after the
#: frame's big-endian length prefix. Files that order BlobHeader
#: fields differently are spec-legal but unseen in the wild; they
#: fail the tiling proof below and fall back to the sequential scan.
_BLOB_SIGS = (b"\x0a\x07OSMData", b"\x0a\x09OSMHeader")

#: below this size the sequential driver walk is cheap; above it the
#: distributed resync scan wins (a planet file is ~70 GB / ~200k
#: chained header round-trips — an hour of latency over an object
#: store, seconds across executors)
_DISTRIBUTED_SCAN_MIN = 256 << 20


class _ResyncFailed(ValueError):
    """Distributed resync scan could not PROVE equivalence to the
    sequential walk (tiling check failed) — caller must fall back."""


def _frame_at(read_at, off: int, size: int):
    """Parse ONE blob frame at `off`; returns (data_off, datasize,
    btype) or None if anything is implausible — including garbage
    header bytes that end mid-varint (IndexError from the wire walk):
    a rejected candidate must never crash the scan. Identical bounds
    to _scan_loop so a chain that tiles the file IS the sequential
    walk."""
    if off + 4 > size:
        return None
    hdr = read_at(off, 4)
    if len(hdr) < 4:
        return None
    (hlen,) = FRAME_HEADER.unpack(hdr)
    if hlen > 64 << 10 or off + 4 + hlen > size:
        return None
    try:
        btype, datasize = _parse_blob_header(read_at(off + 4, hlen))
    except (ValueError, IndexError):
        return None
    data_off = off + 4 + hlen
    if datasize > MAX_BLOB_BYTES or data_off + datasize > size:
        return None
    return data_off, datasize, btype


def _scan_range_resync(
    path: str, start: int, end: int, size: int, probe_bytes: int,
) -> list[tuple[int, int, int, str]]:
    """Worker side of the distributed scan: find the first blob frame
    whose 4-byte length prefix starts in [start, end) by signature
    search, then chain frames header-only (seek past payloads) while
    they start inside the range. Emits (header_off, data_off,
    datasize, btype) — every frame belongs to exactly one range by
    header_off, so ranges are disjoint by construction. A false-
    positive signature (possible inside a stored/uncompressed payload)
    either fails candidate validation here or breaks the driver's
    tiling proof, which falls back to the sequential walk."""
    probe_bytes = max(probe_bytes, 1 << 16)
    with open_ranged(None, path) as (_size, read_at):
        hoff = None
        if start == 0:
            hoff = 0  # file start is a known frame boundary
        else:
            # a frame starting at end-1 has its signature ending within
            # end+3+len(sig): search text must extend past the range end
            limit = min(size, end + 3 + max(len(s) for s in _BLOB_SIGS))
            spos = start
            while hoff is None and spos < limit:
                win = read_at(spos, min(probe_bytes, size - spos))
                cands = []
                for sig in _BLOB_SIGS:
                    p = win.find(sig)
                    while p != -1:
                        c = spos + p - 4  # sig is 4 bytes after frame start
                        if start <= c < end:
                            cands.append(c)
                        p = win.find(sig, p + 1)
                for c in sorted(cands):
                    f = _frame_at(read_at, c, size)
                    if f is None:
                        continue
                    # require the NEXT frame to parse too (or exact
                    # EOF): one extra header read kills nearly all
                    # false positives
                    nxt = f[0] + f[1]
                    if nxt == size or _frame_at(read_at, nxt,
                                                size) is not None:
                        hoff = c
                        break
                if hoff is None:
                    if spos + len(win) >= limit:
                        break
                    # overlap windows so a signature straddling two
                    # probe windows is still found
                    spos += len(win) - (max(len(s) for s in _BLOB_SIGS)
                                        + 3)
        if hoff is None:
            return []  # no frame starts in this range (range < blob)
        out: list[tuple[int, int, int, str]] = []
        off = hoff
        while off < end and off < size:
            f = _frame_at(read_at, off, size)
            if f is None:
                break  # mid-chain corruption/false start → tiling fails
            data_off, datasize, btype = f
            out.append((off, data_off, datasize, btype))
            off = data_off + datasize
        return out


def scan_osm_blobs_distributed(
    spark, path: str, range_bytes: int = 64 << 20,
    probe_bytes: int = 4 << 20, size: int | None = None,
) -> list[tuple[int, int]]:
    """Distributed blob index: executors resync-scan disjoint byte
    ranges in parallel, the driver then PROVES the union equals the
    sequential walk — frames must start at 0, tile the file
    contiguously, and end exactly at EOF (induction: a contiguous
    valid chain from offset 0 is precisely what _scan_loop follows).
    Any gap/overlap/unparseable frame raises _ResyncFailed and the
    caller falls back to the sequential scan, so this path can only
    ever be faster, never different.

    The reference scans sequentially on one node (src/pbf.rs:45-91);
    at 100 TB the sequential header chain is latency-bound (~200k
    dependent round-trips for a planet file over an object store) —
    this spreads it across the cluster: ~seconds instead of ~an hour,
    transferring one probe window + ~40 bytes per blob per range."""
    wpath = resolve_worker_path(spark, path)
    if size is None:
        size = stat_file(spark, wpath)[1]
    nr = max(1, (size + range_bytes - 1) // range_bytes)
    ranges = [
        (i * range_bytes, min(size, (i + 1) * range_bytes))
        for i in range(nr)
    ]
    sc = spark.sparkContext
    frames = (
        sc.parallelize(ranges, len(ranges))
        .flatMap(
            lambda r: _scan_range_resync(wpath, r[0], r[1], size,
                                         probe_bytes)
        )
        .collect()
    )
    frames.sort()
    # tiling proof
    prev_end = 0
    idx: list[tuple[int, int]] = []
    header_blobs: list[tuple[int, int]] = []
    for hoff, data_off, datasize, btype in frames:
        if hoff != prev_end:
            raise _ResyncFailed(
                f"resync scan does not tile the file at offset {hoff} "
                f"(expected {prev_end})"
            )
        prev_end = data_off + datasize
        if btype == "OSMData":
            idx.append((data_off, datasize))
        elif btype == "OSMHeader":
            header_blobs.append((data_off, datasize))
    if prev_end != size:
        raise _ResyncFailed(
            f"resync scan covers {prev_end} of {size} bytes"
        )
    for data_off, datasize in header_blobs:
        _check_header_block(_blob_payload(read_range(wpath, data_off,
                                                     datasize)))
    return idx


def decode_osm_blob(path: str, offset: int, length: int) -> pa.Table:
    """Read + inflate + parse ONE blob (the per-task unit — reference
    src/pbf.rs:64-89). `path` may be local, file:, or any
    pyarrow.fs-servable URI (s3/s3a/gs/…) — each blob is ONE ranged
    read, so remote ingestion never downloads the file."""
    blob = read_range(path, offset, length)
    if len(blob) != length:
        raise ValueError(f"short read at offset {offset}")
    return parse_primitive_block(_blob_payload(blob))


def read_osm_pbf(spark, path: str, columns: list[str] | None = None):
    """.osm.pbf → unified-schema DataFrame, block-parallel (zero
    shuffle; each task seeks/inflates/parses only its own blobs).

    `path` may be local or ANY Hadoop URI (reference src/pbf.rs:22-31
    streams planet PBFs off S3): the driver indexes the BlobHeaders
    through the client plans/fsutil.py routes the path to and resolves
    client-side indirection (viewfs://) to the concrete target through
    the JVM mount table; each task then issues ONE ranged read per
    blob — at planet scale no node ever holds more than its own
    blobs.

    `columns` pushes projection INSIDE the decode worker: a
    mapInArrow source is opaque to Catalyst, so a downstream
    .select() cannot prune what crosses the Python→JVM Arrow bridge —
    this parameter can. The wire decode is shared per blob either
    way; what projection saves is bridge transfer + JVM ingestion of
    the heavy nested columns (tags/nds/members) — measured on the
    3.3M-element bench fixture at local[32], best-of-3: full 13
    columns 1.76M el/s → id/lat/lon 2.37M el/s (+35%)."""
    from pyspark.sql import types as T

    idx = scan_osm_blobs(path, spark=spark)
    if not idx:
        raise ValueError(f"no OSMData blobs in {path}")
    path = resolve_worker_path(spark, path)
    # one row per blob, striped so every task mixes element types
    index_df = striped_frame(
        spark, [(path, o, ln) for o, ln in idx],
        "path string, offset long, length long",
    )
    spark_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("type", T.StringType()),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField(
                "nds",
                T.ArrayType(T.StructType([T.StructField("ref", T.LongType())])),
            ),
            T.StructField(
                "members",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("type", T.StringType()),
                            T.StructField("ref", T.LongType()),
                            T.StructField("role", T.StringType()),
                        ]
                    )
                ),
            ),
            T.StructField("changeset", T.LongType()),
            T.StructField("timestamp", T.TimestampNTZType()),
            T.StructField("uid", T.IntegerType()),
            T.StructField("user", T.StringType()),
            T.StructField("version", T.IntegerType()),
            T.StructField("visible", T.BooleanType()),
        ]
    )

    if columns is not None:
        known = {f.name for f in spark_schema.fields}
        bad = [c for c in columns if c not in known]
        if bad:
            raise ValueError(f"read_osm_pbf columns {bad} not in {sorted(known)}")
        spark_schema = T.StructType(
            [f for f in spark_schema.fields if f.name in columns]
        )
    keep = [f.name for f in spark_schema.fields]

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            paths = batch.column("path")
            offs = batch.column("offset")
            lens = batch.column("length")
            for i in range(batch.num_rows):
                tbl = decode_osm_blob(
                    paths[i].as_py(), offs[i].as_py(), lens[i].as_py()
                )
                tbl = tbl.select(keep)
                if "timestamp" in keep:
                    # Spark's Arrow bridge carries TimestampNTZ as µs
                    tbl = tbl.set_column(
                        tbl.schema.get_field_index("timestamp"),
                        "timestamp",
                        tbl.column("timestamp").cast(pa.timestamp("us")),
                    )
                yield from tbl.to_batches()

    return index_df.mapInArrow(decode_fn, spark_schema)


# ---------------------------------------------------------------------------
# writer (fixture/egress duty)
# ---------------------------------------------------------------------------

GRANULARITY = 100       # nano-degrees per unit → 1e-7 deg resolution
DATE_GRANULARITY = 1000  # ms per unit → second resolution


class _StringTable:
    """sid 0 is reserved for "" (the DenseNodes keys_vals sentinel)."""

    def __init__(self) -> None:
        self._sids: dict[str, int] = {"": 0}

    def sid(self, s: str) -> int:
        return self._sids.setdefault(s, len(self._sids))

    def message(self) -> bytes:
        return b"".join(
            _len_field(1, s.encode("utf-8")) for s in self._sids
        )


def _ts_units(ts_ms: int) -> int:
    """Enforce the documented alignment contract uniformly (node dense
    path included — silently flooring would lose sub-second precision
    on export while the way/relation path raised)."""
    if ts_ms % DATE_GRANULARITY:
        raise ValueError(
            f"ts_ms {ts_ms} not a multiple of {DATE_GRANULARITY}"
        )
    return ts_ms // DATE_GRANULARITY


def _info_msg(st: _StringTable, el: dict) -> bytes:
    out = [_varint_field(1, el.get("version", 1))]
    ts = el.get("ts_ms")
    if ts is not None:
        out.append(_varint_field(2, _ts_units(ts)))
    if el.get("changeset") is not None:
        out.append(_varint_field(3, el["changeset"]))
    if el.get("uid") is not None:
        out.append(_varint_field(4, el["uid"]))
    if el.get("user") is not None:
        out.append(_varint_field(5, st.sid(el["user"])))
    out.append(_varint_field(6, 1 if el.get("visible", True) else 0))
    return b"".join(out)


def _dense_group(st: _StringTable, nodes: list[dict]) -> bytes:
    ids = [n["id"] for n in nodes]
    lats = [n["lat_units"] for n in nodes]
    lons = [n["lon_units"] for n in nodes]
    kv: list[int] = []
    for nd in nodes:
        for k, v in (nd.get("tags") or {}).items():
            kv.append(st.sid(k))
            kv.append(st.sid(v))
        kv.append(0)
    dense = [
        _packed_delta_field(1, ids),
        _len_field(5, b"".join([
            _packed_field(1, [n.get("version", 1) for n in nodes]),
            _packed_delta_field(2, [_ts_units(n["ts_ms"]) for n in nodes]),
            _packed_delta_field(3, [n.get("changeset", 0) for n in nodes]),
            _packed_delta_field(4, [n.get("uid", 0) for n in nodes]),
            _packed_delta_field(5, [
                st.sid(n.get("user", "")) for n in nodes
            ]),
            _packed_field(6, [
                1 if n.get("visible", True) else 0 for n in nodes
            ]),
        ])),
        _packed_delta_field(8, lats),
        _packed_delta_field(9, lons),
        _packed_field(10, kv),
    ]
    # PrimitiveGroup content: field 2 = DenseNodes
    return _len_field(2, b"".join(dense))


def _ways_group(st: _StringTable, ways: list[dict]) -> bytes:
    # PrimitiveGroup content: repeated field 3 = Way
    return b"".join(_len_field(3, _way_msg(st, w)) for w in ways)


def _rels_group(st: _StringTable, rels: list[dict]) -> bytes:
    # PrimitiveGroup content: repeated field 4 = Relation
    return b"".join(_len_field(4, _rel_msg(st, r)) for r in rels)


def _way_msg(st: _StringTable, w: dict) -> bytes:
    tags = w.get("tags") or {}
    return b"".join([
        _varint_field(1, w["id"]),
        _packed_field(2, [st.sid(k) for k in tags]),
        _packed_field(3, [st.sid(v) for v in tags.values()]),
        _len_field(4, _info_msg(st, w)),
        _packed_delta_field(8, w["refs"]),
    ])


def _rel_msg(st: _StringTable, r: dict) -> bytes:
    tags = r.get("tags") or {}
    members = r.get("members") or []
    return b"".join([
        _varint_field(1, r["id"]),
        _packed_field(2, [st.sid(k) for k in tags]),
        _packed_field(3, [st.sid(v) for v in tags.values()]),
        _len_field(4, _info_msg(st, r)),
        _packed_field(8, [st.sid(role or "") for _t, _ref, role in members]),
        _packed_delta_field(9, [ref for _t, ref, _role in members]),
        _packed_field(10, [t for t, _ref, _role in members]),
    ])


def _write_block(f, groups_fn, zlevel: int) -> None:
    """One PrimitiveBlock file block: stringtable built WHILE encoding
    groups (groups_fn takes the table and returns each PrimitiveGroup's
    CONTENT bytes, wrapped here as block field 2)."""
    st = _StringTable()
    group_bytes = groups_fn(st)
    block = b"".join([
        _len_field(1, st.message()),
        *[_len_field(2, g) for g in group_bytes],
        _varint_field(17, GRANULARITY),
        _varint_field(18, DATE_GRANULARITY),
    ])
    z = zlib.compress(block, zlevel)
    blob = (
        _varint_field(2, len(block)) + _len_field(3, z)
    )
    header = (
        _len_field(1, b"OSMData") + _varint_field(3, len(blob))
    )
    f.write(FRAME_HEADER.pack(len(header)))
    f.write(header)
    f.write(blob)


def write_osm_pbf(
    path: str,
    nodes: list[dict],
    ways: list[dict] | None = None,
    relations: list[dict] | None = None,
    nodes_per_block: int = 8000,
    zlevel: int = 6,
) -> int:
    """Emit a genuine .osm.pbf (OSMHeader + DenseNodes/Way/Relation
    OSMData blobs). Node dicts carry lat_units/lon_units in 1e-7-degree
    integer units (GRANULARITY=100 nano-deg); ts_ms must be
    second-aligned (DATE_GRANULARITY). Returns #blobs. Temp+rename so
    readers never see a half-written file."""
    ways = ways or []
    relations = relations or []
    tmp = f"{path}.tmp-{os.getpid()}"
    n_blobs = 0
    with open(tmp, "wb") as f:
        header_block = b"".join([
            _len_field(4, b"OsmSchema-V0.6"),
            _len_field(4, b"DenseNodes"),
            _len_field(16, b"osm_pbf_parquet_spark"),  # writingprogram
        ])
        z = zlib.compress(header_block, zlevel)
        blob = _varint_field(2, len(header_block)) + _len_field(3, z)
        header = _len_field(1, b"OSMHeader") + _varint_field(3, len(blob))
        f.write(FRAME_HEADER.pack(len(header)))
        f.write(header)
        f.write(blob)
        for off in range(0, len(nodes), nodes_per_block):
            chunk = nodes[off : off + nodes_per_block]
            _write_block(f, lambda st, c=chunk: [_dense_group(st, c)], zlevel)
            n_blobs += 1
        for off in range(0, len(ways), nodes_per_block):
            chunk = ways[off : off + nodes_per_block]
            _write_block(f, lambda st, c=chunk: [_ways_group(st, c)], zlevel)
            n_blobs += 1
        for off in range(0, len(relations), nodes_per_block):
            chunk = relations[off : off + nodes_per_block]
            _write_block(f, lambda st, c=chunk: [_rels_group(st, c)], zlevel)
            n_blobs += 1
    os.replace(tmp, path)
    return n_blobs


def osm_pbf_fixture(sf_dir: str, nodes_per_block: int = 2000) -> str:
    """Deterministic .osm.pbf derived from the documents table (the
    rt_osm_pbf contract fixture — the DuckDB oracle restates the same
    derivation in SQL over `documents`), cached in /tmp."""
    import pyarrow.parquet as pq

    key = f"{sf_dir.strip('/').replace('/', '_')}_{nodes_per_block}"
    path = f"/tmp/osm_{key}.osm.pbf"
    if os.path.exists(path):
        return path
    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang"]
    ).sort_by("doc_id")
    doc_ids = docs.column("doc_id").to_pylist()
    langs = docs.column("lang").to_pylist()
    nodes, ways, rels = [], [], []
    for did, lang in zip(doc_ids, langs):
        nodes.append({
            "id": did,
            "lat_units": (did * 1234567) % 1_800_000_000 - 900_000_000,
            "lon_units": (did * 7654321) % 3_600_000_000 - 1_800_000_000,
            "tags": {"lang": lang} if lang is not None else {},
            "ts_ms": 1_700_000_000_000 + did * 1000,
            "changeset": did * 3 + 1,
            "uid": did % 97,
            "user": f"u{did % 97}",
            "version": 1 + did % 7,
            "visible": did % 13 != 0,
        })
        if did % 5 == 0:
            ways.append({
                "id": 10_000_000 + did,
                "tags": {"lang": lang} if lang is not None else {},
                "refs": [did, did + 7, did + 13],
                "ts_ms": 1_700_000_000_000 + did * 1000,
                "changeset": did * 3 + 1,
                "uid": did % 97,
                "user": f"u{did % 97}",
                "version": 1 + did % 7,
                "visible": True,
            })
        if did % 10 == 0:
            rels.append({
                "id": 20_000_000 + did,
                "tags": {"lang": lang} if lang is not None else {},
                "members": [(0, did, "outer"), (1, 10_000_000 + did, "inner")],
                "ts_ms": 1_700_000_000_000 + did * 1000,
                "changeset": did * 3 + 1,
                "uid": did % 97,
                "user": f"u{did % 97}",
                "version": 1 + did % 7,
                "visible": True,
            })
    tmp_marker = f"{path}.build-{os.getpid()}"
    write_osm_pbf(tmp_marker, nodes, ways, rels,
                  nodes_per_block=nodes_per_block)
    os.replace(tmp_marker, path)
    return path


def synthetic_osm_pbf(
    path: str, n_nodes: int = 300_000, nodes_per_block: int = 8000,
    seed: int = 7,
) -> str:
    """Deterministic synthetic .osm.pbf at bench scale (cached), with
    REALISTIC wire density: random-walk lat/lon (GPS-noise-scale delta
    entropy), irregular id gaps, jittered timestamps, ~500 users and
    high-cardinality tag values — a regular arithmetic fixture zlib-
    collapses to ~1.4 B/element, while real planet extracts run
    ~8-10 B/element, which this reproduces. Used by bench.py's
    pbf_ingest metric (the reference's headline op is exactly this
    decode, src/pbf.rs:45-91)."""
    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    id_gaps = rng.integers(1, 40, n_nodes)
    ids = np.cumsum(id_gaps) + 10
    lat = np.clip(
        np.cumsum(rng.integers(-30000, 30000, n_nodes)), -8.9e8, 8.9e8
    ).astype(np.int64)
    lon = np.clip(
        np.cumsum(rng.integers(-30000, 30000, n_nodes)), -1.79e9, 1.79e9
    ).astype(np.int64)
    ts = (1_500_000_000 + np.cumsum(rng.integers(0, 500, n_nodes))) * 1000
    cs = np.cumsum(rng.integers(0, 4, n_nodes)) + 1
    uid = rng.integers(1, 500, n_nodes)
    ver = rng.integers(1, 12, n_nodes)
    tagged = rng.random(n_nodes) < 0.15
    nodes = [
        {
            "id": int(ids[i]),
            "lat_units": int(lat[i]),
            "lon_units": int(lon[i]),
            "tags": (
                {"highway": "residential", "name": f"n{int(ids[i]) % 99991}"}
                if tagged[i] else {}
            ),
            "ts_ms": int(ts[i]),
            "changeset": int(cs[i]),
            "uid": int(uid[i]),
            "user": f"mapper{int(uid[i])}",
            "version": int(ver[i]),
            "visible": True,
        }
        for i in range(n_nodes)
    ]
    n_ways = n_nodes // 10
    ref_pick = rng.integers(0, n_nodes, (n_ways, 8))
    ways = [
        {
            "id": 5_000_000 + i * 3,
            "tags": {"highway": "primary"},
            "refs": sorted(int(ids[j]) for j in ref_pick[i]),
            "ts_ms": int(ts[i * 10]),
            "changeset": int(cs[i * 10]),
            "uid": int(uid[i * 10]),
            "user": f"mapper{int(uid[i * 10])}",
            "version": 1,
            "visible": True,
        }
        for i in range(n_ways)
    ]
    tmp = f"{path}.build-{os.getpid()}"
    write_osm_pbf(tmp, nodes, ways, nodes_per_block=nodes_per_block)
    os.replace(tmp, path)
    return path
