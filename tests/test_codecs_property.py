"""Property-based codec round-trips (Hypothesis): any generated column
must survive encode∘decode bit-exactly under every applicable codec and
under auto-selection. Complements the fixed adversarial arrays in
test_codecs.py with search over the input space.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from osm_pbf_parquet_spark.functions.codecs import decode_array, encode_array

SETTINGS = settings(max_examples=60, deadline=None)

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
opt_i64 = st.one_of(st.none(), i64)
floats = st.floats(allow_nan=True, allow_infinity=True, width=64)
opt_float = st.one_of(st.none(), floats)
texts = st.one_of(st.none(), st.text(max_size=200))
blobs = st.one_of(st.none(), st.binary(max_size=200))


def bit_equal(a: pa.Array, b: pa.Array) -> bool:
    if a.type != b.type or len(a) != len(b):
        return False
    if pa.types.is_floating(a.type):
        na = a.is_null().to_numpy(zero_copy_only=False)
        nb = b.is_null().to_numpy(zero_copy_only=False)
        if not np.array_equal(na, nb):
            return False
        va = a.fill_null(0.0).to_numpy(zero_copy_only=False)
        vb = b.fill_null(0.0).to_numpy(zero_copy_only=False)
        return np.array_equal(va.view(np.uint8), vb.view(np.uint8))
    return a.equals(b)


def check(arr: pa.Array, codecs: tuple) -> None:
    for codec in (None, *codecs):
        name, params, payload = encode_array(arr, codec)
        out = decode_array(name, params, payload)
        assert bit_equal(out, arr), (codec, name, arr[:5], out[:5])


@SETTINGS
@given(st.lists(opt_i64, max_size=300))
def test_int64_roundtrip_any(values):
    check(pa.array(values, type=pa.int64()),
          ("bitpack", "delta", "rle", "dictint", "plain", "zstd"))


@SETTINGS
@given(st.lists(opt_float, max_size=300))
def test_float_roundtrip_any(values):
    check(pa.array(values, type=pa.float64()),
          ("alp", "rle", "dictint", "plain", "zstd"))


@SETTINGS
@given(st.lists(texts, max_size=200))
def test_string_roundtrip_any(values):
    check(pa.array(values, type=pa.string()),
          ("str_plain", "str_zstd", "str_dict", "str_fsst", "plain", "zstd"))


@SETTINGS
@given(st.lists(blobs, max_size=200))
def test_binary_roundtrip_any(values):
    check(pa.array(values, type=pa.binary()),
          ("str_plain", "str_zstd", "str_dict", "str_fsst"))


@SETTINGS
@given(st.lists(i64, max_size=300), st.integers(min_value=0, max_value=2))
def test_timestamp_units_roundtrip(values, unit_idx):
    unit = ["ms", "us", "ns"][unit_idx]
    # clamp to the unit's representable range
    vals = [v % (2**62) - 2**61 for v in values]
    arr = pa.array(vals, type=pa.timestamp(unit))
    check(arr, ("bitpack", "delta", "rle", "plain", "zstd"))


@SETTINGS
@given(st.lists(st.one_of(st.none(), st.booleans()), max_size=300))
def test_bool_roundtrip_any(values):
    check(pa.array(values, type=pa.bool_()), ("bitpack", "rle", "plain"))


# --- FSST symbol table: the vectorized build equals the reference loop ---

def _symbol_table_oracle(sample: bytes, max_symbols: int = 255) -> list[bytes]:
    """The plain-Python greedy build build_symbol_table must reproduce
    exactly: count every k-gram, score count × (k-1), keep the 3 most
    productive lengths among the top 512, then the top single bytes."""
    from collections import Counter

    from osm_pbf_parquet_spark.functions.codecs.fsst import MAX_SYM_LEN, SAMPLE_CAP

    sample = sample[:SAMPLE_CAP]
    n = len(sample)
    if n == 0:
        return []
    counts: Counter = Counter()
    mv = memoryview(sample)
    for k in range(2, MAX_SYM_LEN + 1):
        if n < k:
            break
        step = 1 if n <= 8192 else 2
        for i in range(0, n - k + 1, step):
            counts[bytes(mv[i : i + k])] += 1
    scored = [(cnt * (len(s) - 1), s) for s, cnt in counts.items() if cnt > 1]
    scored.sort(key=lambda t: (-t[0], t[1]))
    by_len_gain: dict[int, int] = {}
    for gain, s in scored[:512]:
        by_len_gain[len(s)] = by_len_gain.get(len(s), 0) + gain
    kept_lengths = set(sorted(by_len_gain, key=by_len_gain.get, reverse=True)[:3])
    scored = [(g, s) for g, s in scored if len(s) in kept_lengths]
    table = [s for _, s in scored[: max_symbols - 64]]
    for b, _ in Counter(sample).most_common(min(64, max_symbols - len(table))):
        table.append(bytes([b]))
    return table[:max_symbols]


def _assert_table_matches(sample: bytes, max_symbols: int = 255) -> None:
    from osm_pbf_parquet_spark.functions.codecs.fsst import build_symbol_table

    got = build_symbol_table(sample, max_symbols)
    assert got == _symbol_table_oracle(sample, max_symbols), (len(sample), max_symbols)


# small alphabets make repeated grams, gain ties and equal prefixes common
skewed_bytes = st.binary(max_size=600) | st.lists(
    st.sampled_from(b"ab\x00\xff "), max_size=600
).map(bytes)


@SETTINGS
@given(skewed_bytes, st.integers(min_value=0, max_value=300))
def test_symbol_table_matches_oracle(sample, max_symbols):
    _assert_table_matches(sample, max_symbols)


@pytest.mark.parametrize("max_symbols", [255, 63, 10, 0])
def test_symbol_table_matches_oracle_adversarial(max_symbols):
    from osm_pbf_parquet_spark.functions.codecs.fsst import SAMPLE_CAP

    rng = np.random.default_rng(7)
    words = [bytes(rng.integers(97, 123, rng.integers(2, 9)).astype(np.uint8))
             for _ in range(40)]
    text = b" ".join(words[i] for i in rng.integers(0, 40, 20000))
    cases = [
        b"", b"a", b"ab", b"abcdefg",          # n < k for some or all k
        text[:8192], text[:8193],              # the stride-1/stride-2 edge
        text[: SAMPLE_CAP + 5000],             # longer than the sample cap
        b"z" * 9000,                           # one repeated byte
        # equal gain, and one gram is the other plus a zero byte
        # ("a\x00" ×4 and "a\x00\x00" ×2): bytes order puts the shorter first
        b"a\x00\x00.a\x00\x00,a\x00b;a\x00b:",
        bytes(rng.integers(0, 256, 3000).astype(np.uint8)),
    ]
    for sample in cases:
        _assert_table_matches(sample, max_symbols)
