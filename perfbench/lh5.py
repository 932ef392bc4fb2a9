"""Minimal -lh5- archive writer for the synthetic corpus.

Writes single-member level-0 LHA archives whose payload is real -lh5-
(8 KiB-window LZSS + per-block Huffman tables), so the engine's reader
decodes both literals and back-references, as it does on the official
daily archives. Match finding is greedy on the nearest earlier 4-byte
repeat; bit packing is vectorised with numpy. The header CRC field is
written as 0: the reader does not check it.
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

WINDOW = 1 << 13          # -lh5- dictionary size
THRESHOLD = 3             # shortest match
MAXMATCH = 256
NC = 255 + MAXMATCH + 2 - THRESHOLD   # 510 literal/length symbols
NT = 19                   # code-length-code symbols
NP = 14                   # distance symbols
TBIT, CBIT, PBIT = 5, 9, 4
BLOCK_SYMBOLS = 0xFFFF
MAX_CODE_LEN = 16


def _match_lengths(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per position: length and distance of the match with the nearest
    earlier occurrence of the same 4 bytes (0 where there is none)."""
    n = len(buf)
    lens = np.zeros(n, dtype=np.int64)
    dist = np.zeros(n, dtype=np.int64)
    if n < 4:
        return lens, dist
    b = buf.astype(np.uint32)
    key = (b[:-3] << 24) | (b[1:-2] << 16) | (b[2:-1] << 8) | b[3:]
    order = np.argsort(key, kind="stable")
    same = key[order[1:]] == key[order[:-1]]
    cur, prev = order[1:][same], order[:-1][same]
    d = cur - prev
    ok = d <= WINDOW
    cur, prev, d = cur[ok], prev[ok], d[ok]
    length = np.full(len(cur), 4, dtype=np.int64)
    # extend 8 bytes at a time over an overlapping uint64 view, then finish
    # byte by byte
    pad = np.concatenate([buf, np.zeros(8, dtype=np.uint8)])
    words = np.ndarray((n + 1,), dtype=np.uint64, buffer=pad, strides=(1,))
    active = np.arange(len(cur))
    while active.size:
        i = cur[active] + length[active]
        live = (i + 8 <= n) & (length[active] + 8 <= MAXMATCH)
        live[live] = words[i[live]] == words[prev[active][live] + length[active][live]]
        active = active[live]
        length[active] += 8
    active = np.arange(len(cur))
    while active.size:
        i = cur[active] + length[active]
        j = prev[active] + length[active]
        live = (i < n) & (length[active] < MAXMATCH)
        live[live] = buf[i[live]] == buf[j[live]]
        active = active[live]
        length[active] += 1
    lens[cur] = length
    dist[cur] = d
    return lens, dist


def _huffman_lengths(freq: np.ndarray) -> np.ndarray:
    """Code lengths (<= MAX_CODE_LEN) for the nonzero entries of freq."""
    freq = freq.astype(np.int64)
    while True:
        heap = [(int(f), i, None) for i, f in enumerate(freq) if f]
        lengths = np.zeros(len(freq), dtype=np.int64)
        if len(heap) < 2:
            return lengths
        heapq.heapify(heap)
        tick = len(freq)
        children = {}
        while len(heap) > 1:
            f1, a, _ = heapq.heappop(heap)
            f2, b, _ = heapq.heappop(heap)
            children[tick] = (a, b)
            heapq.heappush(heap, (f1 + f2, tick, None))
            tick += 1
        stack = [(heap[0][1], 0)]
        while stack:
            node, depth = stack.pop()
            if node in children:
                a, b = children[node]
                stack.append((a, depth + 1))
                stack.append((b, depth + 1))
            else:
                lengths[node] = depth
        if lengths.max() <= MAX_CODE_LEN:
            return lengths
        freq = np.where(freq > 0, (freq + 1) // 2, 0)


def _canonical_codes(lengths: np.ndarray) -> np.ndarray:
    """Canonical codes in the order the reader assigns them."""
    codes = np.zeros(len(lengths), dtype=np.int64)
    code = 0
    for l in range(1, MAX_CODE_LEN + 1):
        for sym in np.flatnonzero(lengths == l):
            codes[sym] = code
            code += 1
        code <<= 1
    return codes


class _Pieces:
    """Ordered (value, nbits) bit fields, packed MSB-first at the end."""

    def __init__(self) -> None:
        self.values: list[np.ndarray] = []
        self.nbits: list[np.ndarray] = []

    def put(self, value: int, nbits: int) -> None:
        self.values.append(np.array([value], dtype=np.int64))
        self.nbits.append(np.array([nbits], dtype=np.int64))

    def put_many(self, values: np.ndarray, nbits: np.ndarray) -> None:
        self.values.append(values.astype(np.int64))
        self.nbits.append(nbits.astype(np.int64))

    def pack(self) -> bytes:
        if not self.values:
            return b""
        values = np.concatenate(self.values)
        nbits = np.concatenate(self.nbits)
        keep = nbits > 0
        values, nbits = values[keep], nbits[keep]
        width = int(nbits.max()) if len(nbits) else 1
        shift = nbits[:, None] - 1 - np.arange(width)[None, :]
        bits = (values[:, None] >> np.maximum(shift, 0)) & 1
        return np.packbits(bits[shift >= 0].astype(np.uint8)).tobytes()


def _put_pt(out: _Pieces, lengths: np.ndarray, nbit: int, special: int) -> None:
    """A code-length table in the reader's _read_pt layout."""
    nz = np.flatnonzero(lengths)
    if len(nz) == 0:
        out.put(0, nbit)
        out.put(0, nbit)
        return
    n = int(nz[-1]) + 1
    out.put(n, nbit)
    i = 0
    while i < n:
        l = int(lengths[i])
        if l < 7:
            out.put(l, 3)
        else:
            out.put((1 << (l - 3)) - 2, l - 3)  # 111, (l-7) ones, a zero
        i += 1
        if i == special:
            zeros = 0
            while zeros < 3 and i + zeros < n and lengths[i + zeros] == 0:
                zeros += 1
            out.put(zeros, 2)
            i += zeros


def _c_length_symbols(c_len: np.ndarray) -> list[tuple[int, int, int]]:
    """c-table lengths as (pt symbol, extra value, extra bits) runs."""
    n = int(np.flatnonzero(c_len)[-1]) + 1
    out = []
    i = 0
    while i < n:
        l = int(c_len[i])
        if l:
            out.append((l + 2, 0, 0))
            i += 1
            continue
        run = 1
        while i + run < n and c_len[i + run] == 0:
            run += 1
        i += run
        if run <= 2:
            out.extend([(0, 0, 0)] * run)
        elif run <= 18:
            out.append((1, run - 3, 4))
        elif run == 19:
            out.append((0, 0, 0))
            out.append((1, 15, 4))
        else:
            out.append((2, run - 20, 9))
    return out


def _single_or_lengths(freq: np.ndarray) -> tuple[int | None, np.ndarray]:
    nz = np.flatnonzero(freq)
    if len(nz) == 1:
        return int(nz[0]), np.zeros(len(freq), dtype=np.int64)
    return None, _huffman_lengths(freq)


def _put_block(out: _Pieces, c: np.ndarray, p: np.ndarray, extra: np.ndarray,
               extra_bits: np.ndarray) -> None:
    out.put(len(c), 16)
    c_single, c_len = _single_or_lengths(np.bincount(c, minlength=NC))
    if c_single is not None:
        out.put(0, TBIT)
        out.put(0, TBIT)
        out.put(0, CBIT)
        out.put(c_single, CBIT)
        c_code = np.zeros(NC, dtype=np.int64)
    else:
        runs = _c_length_symbols(c_len)
        pt_freq = np.bincount([s for s, _, _ in runs], minlength=NT)
        pt_single, pt_len = _single_or_lengths(pt_freq)
        if pt_single is not None:
            out.put(0, TBIT)
            out.put(pt_single, TBIT)
        else:
            _put_pt(out, pt_len, TBIT, 3)
        pt_code = _canonical_codes(pt_len)
        out.put(int(np.flatnonzero(c_len)[-1]) + 1, CBIT)
        for sym, val, nb in runs:
            out.put(int(pt_code[sym]), int(pt_len[sym]))
            if nb:
                out.put(val, nb)
        c_code = _canonical_codes(c_len)
    is_match = p >= 0
    p_syms = p[is_match]
    p_single, p_len = _single_or_lengths(
        np.bincount(p_syms, minlength=NP) if len(p_syms) else np.eye(NP, dtype=np.int64)[0]
    )
    if p_single is not None:
        out.put(0, PBIT)
        out.put(p_single, PBIT)
    else:
        _put_pt(out, p_len, PBIT, -1)
    p_code = _canonical_codes(p_len)
    # per token: c code, then (matches only) p code and extra bits
    k = len(c)
    values = np.zeros((k, 3), dtype=np.int64)
    nbits = np.zeros((k, 3), dtype=np.int64)
    values[:, 0] = c_code[c]
    nbits[:, 0] = c_len[c]
    ps = np.where(is_match, p, 0)
    values[:, 1] = np.where(is_match, p_code[ps], 0)
    nbits[:, 1] = np.where(is_match, p_len[ps], 0)
    values[:, 2] = extra
    nbits[:, 2] = extra_bits
    out.put_many(values.ravel(), nbits.ravel())


def compress(data: bytes) -> bytes:
    """-lh5- payload for ``data``."""
    buf = np.frombuffer(data, dtype=np.uint8)
    n = len(buf)
    lens, dist = _match_lengths(buf)
    step = np.where(lens >= THRESHOLD, lens, 1).tolist()
    starts = []
    i = 0
    while i < n:
        starts.append(i)
        i += step[i]
    pos = np.array(starts, dtype=np.int64)
    ml = np.minimum(lens[pos], n - pos)
    is_match = ml >= THRESHOLD
    c = np.where(is_match, 256 + ml - THRESHOLD, buf[pos].astype(np.int64))
    pv = dist[pos] - 1                      # the reader's distance value
    nb = np.zeros(len(pos), dtype=np.int64)
    nz = is_match & (pv > 0)
    nb[nz] = np.floor(np.log2(pv[nz])).astype(np.int64) + 1
    p = np.where(is_match, nb, -1)          # distance symbol = bit length
    extra_bits = np.where(nz, nb - 1, 0)
    extra = np.where(nz, pv - (1 << np.maximum(nb - 1, 0)), 0)
    out = _Pieces()
    for s in range(0, len(c), BLOCK_SYMBOLS):
        e = s + BLOCK_SYMBOLS
        _put_block(out, c[s:e], p[s:e], extra[s:e], extra_bits[s:e])
    return out.pack()


def archive(name: str, data: bytes) -> bytes:
    """One-member level-0 LHA archive holding ``data`` as ``name``."""
    payload = compress(data)
    fname = name.encode("cp932")
    body = (
        b"-lh5-"
        + struct.pack("<IIIBB", len(payload), len(data), 0, 0x20, 0)
        + bytes([len(fname)]) + fname
        + b"\x00\x00"                       # CRC-16 (not checked by the reader)
    )
    checksum = sum(body) & 0xFF
    return bytes([len(body), checksum]) + body + payload + b"\x00"
