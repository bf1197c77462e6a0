"""Integer codec kernels: frame-of-reference bit-pack, delta, RLE, dict.

Each kernel maps an int64 numpy array → (params dict, payload bytes) and
back, bit-exactly. `delta` is the encode twin of the reference's dense-
node delta decode (reference src/pbf.rs:181-183 via the osmpbf crate —
DenseNodes store ids/timestamps delta-encoded); `bitpack` is plain
frame-of-reference.

Floats and booleans route through these kernels via their bit views
(see envelope.py) so NaN payloads and signed zeros survive exactly.
"""

from __future__ import annotations

import numpy as np

from .primitives import (
    add_wrap,
    bits_needed,
    pack_sections,
    pack_uints,
    sub_wrap,
    unpack_sections,
    unpack_uints,
    zigzag_decode,
    zigzag_encode,
)

_I64 = np.int64
_U64 = np.uint64


def _minmax(v: np.ndarray) -> tuple[int, int]:
    return int(v.min()), int(v.max())


# -- bitpack: frame-of-reference + bit-pack ---------------------------------

def bitpack_encode(v: np.ndarray) -> tuple[dict, bytes]:
    n = len(v)
    if n == 0:
        return {"n": 0, "min": 0, "w": 0}, b""
    lo, hi = _minmax(v)
    width = bits_needed((hi - lo) & 0xFFFFFFFFFFFFFFFF)
    payload = pack_uints(sub_wrap(v, lo), width)
    return {"n": n, "min": lo, "w": width}, payload


def bitpack_decode(params: dict, payload: bytes) -> np.ndarray:
    u = unpack_uints(payload, params["w"], params["n"])
    return add_wrap(u, params["min"])


# -- delta: first value + zigzag deltas, bit-packed -------------------------

def delta_encode(v: np.ndarray) -> tuple[dict, bytes]:
    n = len(v)
    if n == 0:
        return {"n": 0, "first": 0, "w": 0}, b""
    v = v.astype(_I64, copy=False)
    with np.errstate(over="ignore"):
        d = np.diff(v)
    z = zigzag_encode(d)
    width = bits_needed(int(z.max())) if len(z) else 0
    payload = pack_uints(z, width)
    return {"n": n, "first": int(v[0]), "w": width}, payload


def delta_decode(params: dict, payload: bytes) -> np.ndarray:
    n = params["n"]
    if n == 0:
        return np.empty(0, dtype=_I64)
    z = unpack_uints(payload, params["w"], n - 1)
    d = zigzag_decode(z)
    out = np.empty(n, dtype=_I64)
    out[0] = params["first"]
    if n > 1:
        with np.errstate(over="ignore"):
            np.cumsum(d, out=out[1:])
            out[1:] += _I64(params["first"])
    return out


# -- RLE: run values (bit-packed FoR) + run lengths (bit-packed) ------------

def rle_encode(v: np.ndarray) -> tuple[dict, bytes]:
    n = len(v)
    if n == 0:
        return {"n": 0}, pack_sections([b"", b""])
    v = v.astype(_I64, copy=False)
    bounds = np.flatnonzero(v[1:] != v[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    lengths = np.diff(np.concatenate((starts, [n])))
    values = v[starts]
    vp, vb = bitpack_encode(values)
    lp, lb = bitpack_encode(lengths.astype(_I64))
    params = {"n": n, "v": vp, "l": lp}
    return params, pack_sections([vb, lb])


def rle_decode(params: dict, payload: bytes) -> np.ndarray:
    if params["n"] == 0:
        return np.empty(0, dtype=_I64)
    vb, lb = unpack_sections(payload)
    values = bitpack_decode(params["v"], vb)
    lengths = bitpack_decode(params["l"], lb)
    return np.repeat(values, lengths)


# -- dict: first-occurrence dictionary + bit-packed codes -------------------

def dict_int_encode(v: np.ndarray) -> tuple[dict, bytes]:
    n = len(v)
    if n == 0:
        return {"n": 0}, pack_sections([b"", b""])
    v = v.astype(_I64, copy=False)
    uniq, inverse = np.unique(v, return_inverse=True)
    up, ub = bitpack_encode(uniq)
    cw = bits_needed(len(uniq) - 1)
    cb = pack_uints(inverse.astype(_U64), cw)
    params = {"n": n, "card": len(uniq), "cw": cw, "u": up}
    return params, pack_sections([ub, cb])


def dict_int_decode(params: dict, payload: bytes) -> np.ndarray:
    if params["n"] == 0:
        return np.empty(0, dtype=_I64)
    ub, cb = unpack_sections(payload)
    uniq = bitpack_decode(params["u"], ub)
    codes = unpack_uints(cb, params["cw"], params["n"])
    return uniq[codes.astype(np.int64)]
