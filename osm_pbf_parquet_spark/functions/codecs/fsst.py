"""FSST-style symbol-table string compression, fully vectorized.

Implements the scheme from "FSST: Fast Random Access String Compression"
(Boncz, Neumann, Leis — VLDB 2020; see PAPERS.md): a table of ≤255
symbols of 1–8 bytes each; output is a byte stream where each byte is
either a symbol code (0–254) or the escape byte 255 followed by one
literal byte.

Everything is numpy-vectorized:

* encode — greedy tokenization is CELL-BLOCKED: matches may not cross
  32-byte cell boundaries, so all cells tokenize independently and the
  greedy walk runs in LOCKSTEP across every cell at once. Matching is
  fused INTO the walk: symbols are probed (single-probe open-addressed
  hash table per length, cache-resident) only at actual token start
  positions — ~0.25n probes instead of n — with windows gathered per
  active position. Forbidding boundary-crossing matches costs a few %
  of ratio; any valid tokenization decodes identically, so correctness
  is untouched (the real FSST encoder makes the same block-local trade
  for speed).
* decode — escape positions are recovered with a run-parity argument
  (every maximal run of 0xFF bytes starts with an escape and alternates
  escape/literal), then symbol bytes are scattered with ragged-arange
  gathers from a fixed 8-byte-stride symbol buffer.

* symbol table — built greedily from a bounded sample (SAMPLE_CAP
  bytes) scoring count×(len-1): every k-gram is counted by np.unique
  over big-endian uint64 keys and ranked by np.lexsort; Python touches
  only the ≤ 512 top grams and the ≤ 255 symbols it returns.

This is the string-side analogue of the reference's zstd block
compression (reference src/sink.rs:130-135), but per-column and
random-access-friendly.
"""

from __future__ import annotations

import numpy as np

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYM_LEN = 8
SAMPLE_CAP = 1 << 15  # 32 KiB symbol-learning sample


def build_symbol_table(sample: bytes, max_symbols: int = MAX_SYMBOLS) -> list[bytes]:
    """Greedy frequency × (len-1) symbol selection over a bounded sample.

    Counts every k-gram (k = 2..8) at stride 1 (stride 2 past 8 KiB),
    scores count × (k-1) for grams seen more than once, keeps the 3
    lengths with the most gain among the 512 best grams, and fills the
    table best-first, then with the most frequent single bytes.

    Vectorized: each k-gram is packed big-endian into a uint64, so
    integer order within one length IS the bytes order, and
    ``np.unique`` counts all of them. Only the best ``max(512,
    max_symbols)`` grams per length are ranked across lengths by
    ``(-gain, bytes)``: the global top 512, and the head of any
    length-filtered list, are always inside those per-length heads.
    Single-byte ties go to the byte seen first (the order
    ``collections.Counter.most_common`` gives).
    """
    arr = np.frombuffer(sample, dtype=np.uint8)[:SAMPLE_CAP]
    n = len(arr)
    if n == 0:
        return []
    step = 1 if n <= 8192 else 2  # stride sampling keeps the count bounded
    head = max(512, max_symbols)
    # 8-byte big-endian window at every position (zero-padded tail);
    # the k-gram at i is its top k bytes
    padded = np.zeros(n + MAX_SYM_LEN - 1, dtype=np.uint64)
    padded[:n] = arr
    win = np.zeros(n, dtype=np.uint64)
    for j in range(MAX_SYM_LEN):
        win |= padded[j : j + n] << np.uint64(8 * (MAX_SYM_LEN - 1 - j))
    gains = [np.zeros(0, dtype=np.int64)]
    keys = [np.zeros(0, dtype=np.uint64)]
    lens = [np.zeros(0, dtype=np.int64)]
    n_scored: dict[int, int] = {}  # grams with count > 1, per length
    for k in range(2, min(n, MAX_SYM_LEN) + 1):
        shift = np.uint64(8 * (MAX_SYM_LEN - k))
        uniq, cnt = np.unique(win[: n - k + 1 : step] >> shift, return_counts=True)
        rep = cnt > 1
        # gain of a multi-byte symbol ≈ (k-1) bytes saved per occurrence
        uniq, gain = uniq[rep], cnt[rep].astype(np.int64) * (k - 1)
        n_scored[k] = len(uniq)
        top = np.lexsort((uniq, -gain))[:head]  # by (-gain, gram)
        gains.append(gain[top])
        keys.append(uniq[top] << shift)  # left-aligned: orders like bytes
        lens.append(np.full(len(top), k, dtype=np.int64))
    gain, key, glen = np.concatenate(gains), np.concatenate(keys), np.concatenate(lens)
    # (-gain, bytes) order. A left-aligned key ties only with a longer
    # gram that extends it by zero bytes, which bytes order puts after
    # it; lexsort is stable and the heads are concatenated by length.
    order = np.lexsort((key, -gain))
    # cap distinct multi-byte lengths to the 3 most productive: encode
    # matching costs one vector pass per distinct length, and the tail
    # lengths contribute little coverage
    by_len_gain: dict[int, int] = {}
    for k, g in zip(glen[order[:512]].tolist(), gain[order[:512]].tolist()):
        by_len_gain[k] = by_len_gain.get(k, 0) + g
    kept_lengths = sorted(by_len_gain, key=by_len_gain.get, reverse=True)[:3]
    # the multi-byte part is the first `max_symbols - 64` of ALL kept
    # grams (a negative bound slices from the end, so it needs the
    # full count, not just the candidates)
    n_multi = len(range(sum(n_scored[k] for k in kept_lengths))[: max_symbols - 64])
    kept = order[np.isin(glen[order], kept_lengths)][: min(n_multi, max_symbols)]
    table = [
        int(v).to_bytes(8, "big")[:k]
        for v, k in zip(key[kept].tolist(), glen[kept].tolist())
    ]
    # single-byte symbols for the most frequent bytes: turns would-be
    # 2-byte escapes into 1-byte codes
    n_bytes = min(64, max_symbols - n_multi)
    if n_bytes > 0:
        seen, first = np.unique(arr, return_index=True)
        counts = np.bincount(arr)[seen]
        by_count = seen[np.lexsort((first, -counts))]
        table.extend(bytes([b]) for b in by_count[:n_bytes].tolist())
    return table[:max_symbols]


def _sym_key(sym: bytes) -> int:
    return int.from_bytes(sym, "little")


_CELL = 32  # greedy tokenization cell (power of two)
_HBITS = 12
_HSIZE = 1 << _HBITS
_MIX = np.uint64(0x9E3779B97F4A7C15)
_SHIFT = np.uint64(64 - _HBITS)


def _build_lookup(table: list[bytes]):
    """(direct-1-byte table, [(k, mask, keys, codes, full)] per multi-
    byte length). Single-probe open addressing: an insertion collision
    drops the rarer symbol — lossy for compression, never correctness."""
    by_len: dict[int, list[tuple[int, int]]] = {}
    for code, sym in enumerate(table):
        by_len.setdefault(len(sym), []).append((_sym_key(sym), code))
    # ESCAPE (255) can never be a symbol code (codes stop at 254), so
    # it doubles as the "no 1-byte symbol" sentinel
    direct = np.full(256, ESCAPE, dtype=np.uint8)
    for key, code in by_len.get(1, []):
        direct[key] = code
    tabs = []
    for k in sorted(kk for kk in by_len if kk > 1):
        mask = np.uint64((1 << (8 * k)) - 1) if k < 8 else np.uint64(0xFFFFFFFFFFFFFFFF)
        tbl_key = np.zeros(_HSIZE, dtype=np.uint64)
        tbl_code = np.zeros(_HSIZE, dtype=np.uint8)
        tbl_full = np.zeros(_HSIZE, dtype=bool)
        for key, code in sorted(by_len[k]):
            h = ((key * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF) >> (64 - _HBITS)
            if not tbl_full[h]:
                tbl_key[h], tbl_code[h], tbl_full[h] = key, code, True
        tabs.append((k, mask, tbl_key, tbl_code, tbl_full))
    return direct, tabs


def fsst_compress(data: bytes, table: list[bytes]) -> bytes:
    """Encode data against the symbol table. Exact inverse: fsst_decompress.

    Fused match+walk: every cell's greedy chain advances in lockstep;
    each generation gathers the byte windows ONLY at the current token
    start positions (~0.25·n probes total instead of n), probes the
    per-length hash tables ascending (longer hits overwrite), gates
    hits on the cell's remaining room (`room >= k`, which also guards
    the end of the buffer since the last cell ends at n), and scatters
    the chosen (len, code) to the start position. Arrays shrink as
    cells finish, so total work tracks the token count.
    """
    n = len(data)
    if n == 0:
        return b""
    arr = np.frombuffer(data, dtype=np.uint8)
    if not table:
        # no symbols: every byte escaped
        out = np.empty(2 * n, dtype=np.uint8)
        out[0::2] = ESCAPE
        out[1::2] = arr
        return out.tobytes()

    direct, tabs = _build_lookup(table)
    max_k = max((k for k, *_ in tabs), default=1)
    padded = np.zeros(n + max_k, dtype=np.uint8)
    padded[:n] = arr

    cur = np.arange(0, n, _CELL, dtype=np.int64)
    ends = np.minimum(cur + _CELL, n)
    starts_mask = np.zeros(n, dtype=bool)
    g_len = np.zeros(n, dtype=np.int8)
    g_code = np.zeros(n, dtype=np.uint8)
    with np.errstate(over="ignore"):
        while cur.size:
            m = cur.size
            b0 = padded[cur]
            w = b0.astype(np.uint64)
            for j in range(1, max_k):
                w |= padded[cur + j].astype(np.uint64) << np.uint64(8 * j)
            room = ends - cur
            cl = np.zeros(m, dtype=np.int8)
            cc = np.zeros(m, dtype=np.uint8)
            for k, mask, tbl_key, tbl_code, tbl_full in tabs:
                wk = w & mask
                slots = ((wk * _MIX) >> _SHIFT).astype(np.int64)
                hit = tbl_full[slots] & (tbl_key[slots] == wk) & (room >= k)
                cl[hit] = k
                cc[hit] = tbl_code[slots[hit]]
            c1 = direct[b0]
            h1 = (cl == 0) & (c1 != ESCAPE)
            cl[h1] = 1
            cc[h1] = c1[h1]
            starts_mask[cur] = True
            g_len[cur] = cl
            g_code[cur] = cc
            cur = cur + np.where(cl > 0, cl.astype(np.int64), 1)
            alive = cur < ends
            cur = cur[alive]
            ends = ends[alive]

    starts = np.flatnonzero(starts_mask)
    is_sym = g_len[starts] > 0
    sizes = np.where(is_sym, 1, 2)
    offs = np.concatenate(([0], np.cumsum(sizes)))
    out = np.empty(offs[-1], dtype=np.uint8)
    out[offs[:-1][is_sym]] = g_code[starts[is_sym]]
    esc_off = offs[:-1][~is_sym]
    out[esc_off] = ESCAPE
    out[esc_off + 1] = arr[starts[~is_sym]]
    return out.tobytes()


def fsst_decompress(encoded: bytes, table: list[bytes]) -> bytes:
    n = len(encoded)
    if n == 0:
        return b""
    e = np.frombuffer(encoded, dtype=np.uint8)
    is_ff = e == ESCAPE
    ff_pos = np.flatnonzero(is_ff)
    is_literal = np.zeros(n, dtype=bool)
    if len(ff_pos):
        # each maximal run of 0xFF starts with an escape and alternates
        new_run = np.concatenate(([True], np.diff(ff_pos) > 1))
        run_head_idx = np.maximum.accumulate(
            np.where(new_run, np.arange(len(ff_pos)), 0)
        )
        offset_in_run = ff_pos - ff_pos[run_head_idx]
        escapes = ff_pos[offset_in_run % 2 == 0]
        is_literal[np.minimum(escapes + 1, n - 1)] = True

    starts = np.flatnonzero(~is_literal)
    tok = e[starts]
    esc_mask = tok == ESCAPE

    sym_len = np.ones(256, dtype=np.int64)
    sym_flat = np.zeros(256 * MAX_SYM_LEN, dtype=np.uint8)
    for code, sym in enumerate(table):
        sym_len[code] = len(sym)
        sym_flat[code * MAX_SYM_LEN : code * MAX_SYM_LEN + len(sym)] = np.frombuffer(
            sym, dtype=np.uint8
        )

    out_lens = np.where(esc_mask, 1, sym_len[tok])
    offs = np.concatenate(([0], np.cumsum(out_lens)))
    out = np.empty(offs[-1], dtype=np.uint8)

    if esc_mask.any():
        out[offs[:-1][esc_mask]] = e[starts[esc_mask] + 1]

    sidx = np.flatnonzero(~esc_mask)
    if len(sidx):
        codes = tok[sidx].astype(np.int64)
        lens = sym_len[codes]
        total = int(lens.sum())
        within = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
        dst = np.repeat(offs[:-1][sidx], lens) + within
        src = np.repeat(codes * MAX_SYM_LEN, lens) + within
        out[dst] = sym_flat[src]
    return out.tobytes()
