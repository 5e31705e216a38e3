"""FSST string compression (Boncz, Neumann & Freitag, VLDB 2020) —
pure-numpy, vectorized implementation.

FSST replaces frequent substrings (symbols, 1-8 bytes) with 1-byte codes;
code 255 is an escape prefix for bytes not covered by the table. Unlike
block compressors (zstd), each string stays independently decodable —
the property that makes it the standard lightweight codec for short string
columns (doc_id, source) in columnar formats.

Not present in the reference at all (zbra only zstd's string data,
/root/reference/zbra-core/src/binary.rs:302-313); required by the graft's
north rule as part of the codec family.

Vectorization strategy: strings are encoded in *rounds*. Every string keeps
a cursor; each round, for all still-active strings at once, the longest
matching symbol at the cursor is found via 8-byte little-endian windows and
mask-compares against the (first-byte-grouped) symbol table, one code is
emitted, cursors advance. Rounds needed = max tokens per string, so FSST is
intended for short-string columns; the selector never picks it for long
text (zstd wins there anyway).
"""

from __future__ import annotations

import struct
from collections import Counter

import numpy as np

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYM_LEN = 8
BUILD_SAMPLE_BYTES = 1 << 14  # 16 KiB sample for table construction
GENERATIONS = 4


class SymbolTable:
    """Immutable symbol table + precomputed numpy lookup structures."""

    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= MAX_SYMBOLS
        # Sort by (first byte, length desc) so greedy longest-match scans
        # each first-byte group in order and stops at the first hit.
        self.symbols = sorted(
            symbols, key=lambda s: (s[0], -len(s), s)
        )
        n = len(self.symbols)
        self.sym_len = np.zeros(n, dtype=np.int64)
        self.sym_val = np.zeros(n, dtype=np.uint64)   # LE uint64 of bytes
        self.sym_mask = np.zeros(n, dtype=np.uint64)  # (1 << 8*len) - 1
        self.sym_code = np.arange(n, dtype=np.uint8)  # code = sorted index
        for i, s in enumerate(self.symbols):
            L = len(s)
            self.sym_len[i] = L
            v = int.from_bytes(s + b"\x00" * (8 - L), "little")
            self.sym_val[i] = v
            self.sym_mask[i] = (1 << (8 * L)) - 1
        # first-byte group index: gstart[b], gcount[b]
        self.gstart = np.zeros(256, dtype=np.int64)
        self.gcount = np.zeros(256, dtype=np.int64)
        firsts = np.array([s[0] for s in self.symbols], dtype=np.int64) \
            if n else np.zeros(0, dtype=np.int64)
        for b in range(256):
            idx = np.flatnonzero(firsts == b)
            if idx.size:
                self.gstart[b] = idx[0]
                self.gcount[b] = idx.size
        self.gmax = int(self.gcount.max()) if n else 0
        # decode side: code -> up to 8 output bytes + length
        self.dec_bytes = np.zeros((n, MAX_SYM_LEN), dtype=np.uint8)
        for i, s in enumerate(self.symbols):
            self.dec_bytes[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)

    def serialize(self) -> bytes:
        out = bytearray([len(self.symbols)])
        for s in self.symbols:
            out.append(len(s))
            out += s
        return bytes(out)

    @classmethod
    def deserialize(cls, buf: memoryview, offset: int = 0) -> tuple["SymbolTable", int]:
        n = buf[offset]
        pos = offset + 1
        syms = []
        for _ in range(n):
            L = buf[pos]
            syms.append(bytes(buf[pos + 1 : pos + 1 + L]))
            pos += 1 + L
        return cls(syms), pos


def _greedy_encode_py(data: bytes, table: dict[bytes, int],
                      max_len: int = MAX_SYM_LEN) -> list[bytes]:
    """Scalar greedy longest-match over a small sample (table build only).
    Returns the symbol sequence (escapes as 1-byte symbols). Match lengths
    start at ``max_len``, the table's longest symbol: a longer candidate
    cannot be in the table, so the result is the uncapped one."""
    out = []
    i, n = 0, len(data)
    while i < n:
        for L in range(min(max_len, n - i), 0, -1):
            cand = data[i : i + L]
            if cand in table:
                out.append(cand)
                i += L
                break
        else:
            out.append(data[i : i + 1])
            i += 1
    return out


def build_table(strings: list[bytes]) -> SymbolTable:
    """Iterative bottom-up table construction (paper §3, simplified):
    start from frequent single bytes, then for GENERATIONS rounds encode the
    sample with the current table and count gains of symbols and of merged
    adjacent symbol pairs; keep the MAX_SYMBOLS best by gain = freq * len.

    Symbols never cross string boundaries (matches the paper's
    per-string semantics; crossing boundaries learns junk symbols for
    short-string columns, which is exactly FSST's target workload).
    """
    sample: list[bytes] = []
    budget = BUILD_SAMPLE_BYTES
    for s in strings:
        if budget <= 0:
            break
        if s:
            sample.append(s[:budget])
            budget -= len(s)
    if not sample:
        return SymbolTable([])
    counts: Counter[bytes] = Counter()
    for s in sample:
        counts.update(s[i : i + 1] for i in range(len(s)))
    # Seen single bytes are always symbols (an escape costs 2 bytes, a
    # single-byte code costs 1 — dropping a seen single can only lose).
    singles = [s for s, _ in counts.most_common(MAX_SYMBOLS)]
    table = set(singles)
    for _ in range(GENERATIONS):
        gains: Counter[bytes] = Counter()
        lookup = dict.fromkeys(table, 1)
        longest = max(map(len, table))
        for s in sample:
            seq = _greedy_encode_py(s, lookup, longest)
            for sym in seq:
                gains[sym] += len(sym)
            for a, b in zip(seq, seq[1:]):
                if len(a) + len(b) <= MAX_SYM_LEN:
                    merged = a + b
                    gains[merged] += len(merged)
        multi = [s for s, _ in gains.most_common() if len(s) > 1]
        table = set(singles) | set(multi[: MAX_SYMBOLS - len(singles)])
    return SymbolTable(sorted(table))


# ---------------------------------------------------------------------------
# Vectorized encode / decode over a binary column (offsets + data)
# ---------------------------------------------------------------------------

def encode_column(data: np.ndarray, offsets: np.ndarray,
                  table: SymbolTable) -> tuple[np.ndarray, np.ndarray]:
    """Encode concatenated strings (uint8 ``data``, int64 ``offsets`` of
    size n+1) -> (encoded uint8 array, encoded int64 lengths per string)."""
    n = offsets.size - 1
    if n == 0 or data.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(n, dtype=np.int64)
    pad = np.concatenate([data.astype(np.uint8), np.zeros(8, np.uint8)])
    # 8-byte LE windows for every byte position, built once: 8 shifted adds.
    win = np.zeros(data.size, dtype=np.uint64)
    for k in range(8):
        win |= pad[k : k + data.size].astype(np.uint64) << np.uint64(8 * k)

    cur = offsets[:-1].astype(np.int64).copy()
    ends = offsets[1:].astype(np.int64)
    active = np.flatnonzero(cur < ends)

    # Per-round emissions; reassembled at the end.
    round_idx: list[np.ndarray] = []   # string ids
    round_code: list[np.ndarray] = []  # emitted code
    round_lit: list[np.ndarray] = []   # literal byte (escape only)
    round_esc: list[np.ndarray] = []   # bool: is escape

    has_syms = len(table.symbols) > 0
    while active.size:
        p = cur[active]
        rem = ends[active] - p
        best_code = np.full(active.size, ESCAPE, dtype=np.int64)
        best_len = np.ones(active.size, dtype=np.int64)
        if has_syms:
            w = win[p]
            fb = data[p]
            g0 = table.gstart[fb]
            gc = table.gcount[fb]
            unmatched = np.ones(active.size, dtype=bool)
            for k in range(table.gmax):
                si = g0 + k
                valid = (k < gc) & unmatched
                if not valid.any():
                    continue
                siv = np.where(valid, si, 0)
                L = table.sym_len[siv]
                hit = (
                    valid
                    & (L <= rem)
                    & ((w & table.sym_mask[siv]) == table.sym_val[siv])
                )
                best_code = np.where(hit, table.sym_code[siv], best_code)
                best_len = np.where(hit, L, best_len)
                unmatched &= ~hit
        esc = best_code == ESCAPE
        round_idx.append(active.copy())
        round_code.append(best_code.astype(np.uint8))
        round_lit.append(data[p].astype(np.uint8))
        round_esc.append(esc)
        cur[active] = p + best_len
        active = active[cur[active] < ends[active]]

    if not round_idx:
        return np.zeros(0, dtype=np.uint8), np.zeros(n, dtype=np.int64)
    idx = np.concatenate(round_idx)
    code = np.concatenate(round_code)
    lit = np.concatenate(round_lit)
    esc = np.concatenate(round_esc)
    rnd = np.concatenate([
        np.full(a.size, r, dtype=np.int64) for r, a in enumerate(round_idx)
    ])
    # Output order: by (string, round).
    order = np.lexsort((rnd, idx))
    idx, code, lit, esc = idx[order], code[order], lit[order], esc[order]
    tok_bytes = np.where(esc, 2, 1).astype(np.int64)
    enc_lengths = np.zeros(n, dtype=np.int64)
    np.add.at(enc_lengths, idx, tok_bytes)
    total = int(tok_bytes.sum())
    out = np.empty(total, dtype=np.uint8)
    pos = np.cumsum(tok_bytes) - tok_bytes  # start of each token
    out[pos] = code
    out[pos[esc] + 1] = lit[esc]
    return out, enc_lengths


def decode_column(enc: np.ndarray, enc_offsets: np.ndarray,
                  table: SymbolTable) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_column -> (decoded uint8 data, int64 lengths)."""
    n = enc_offsets.size - 1
    total = int(enc.size)
    if total == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(n, dtype=np.int64)
    enc = np.ascontiguousarray(enc, dtype=np.uint8)
    # Token starts: a byte is a token start unless it is the literal
    # following an escape. Escapes can't chain ambiguously: scan via
    # "is this byte preceded by an odd run of escapes" — but literals can
    # themselves be 255. Compute token starts sequentially per position
    # with a vectorized trick: positions alternate only after escapes.
    is_start = np.ones(total, dtype=bool)
    # A byte is a literal iff previous byte is an ESCAPE *token start*.
    # Resolve with a forward scan over escape positions only.
    esc_pos = np.flatnonzero(enc == ESCAPE)
    if esc_pos.size:
        # Sequential dependency exists only within runs of consecutive 255s;
        # walk runs (few) instead of bytes (many).
        runs_start = esc_pos[
            np.concatenate([[True], np.diff(esc_pos) > 1])
        ]
        for rs in runs_start:
            p = rs
            while p < total and is_start[p] and enc[p] == ESCAPE:
                if p + 1 < total:
                    is_start[p + 1] = False
                p += 2
        # String boundaries reset token starts.
        starts_of_strings = enc_offsets[:-1]
        is_start[starts_of_strings[starts_of_strings < total]] = True
    tok_pos = np.flatnonzero(is_start)
    codes = enc[tok_pos]
    is_esc = codes == ESCAPE
    # Output length per token.
    out_len = np.ones(tok_pos.size, dtype=np.int64)
    ns = len(table.symbols)
    sym_tok = ~is_esc
    if ns:
        if sym_tok.any() and int(codes[sym_tok].max()) >= ns:
            raise ValueError("fsst: code out of table range")
        out_len[sym_tok] = table.sym_len[codes[sym_tok]]
    elif sym_tok.any():
        raise ValueError("fsst: non-escape code with empty table")
    out_total = int(out_len.sum())
    out = np.empty(out_total, dtype=np.uint8)
    out_pos = np.cumsum(out_len) - out_len
    # escapes: copy literal byte
    lit_from = tok_pos[is_esc] + 1
    if lit_from.size and int(lit_from.max()) >= total:
        raise ValueError("fsst: escape at end of payload")
    out[out_pos[is_esc]] = enc[lit_from]
    # symbols: scatter up to 8 byte lanes
    if ns and sym_tok.any():
        sp = out_pos[sym_tok]
        sc = codes[sym_tok]
        sl = out_len[sym_tok]
        for k in range(MAX_SYM_LEN):
            m = sl > k
            if not m.any():
                break
            out[sp[m] + k] = table.dec_bytes[sc[m], k]
    # decoded lengths per string: sum of out_len of tokens in each string.
    str_of_tok = np.searchsorted(enc_offsets, tok_pos, side="right") - 1
    lengths = np.zeros(n, dtype=np.int64)
    np.add.at(lengths, str_of_tok, out_len)
    return out, lengths


def compress(data: np.ndarray, offsets: np.ndarray) -> bytes:
    """Self-contained FSST blob: table + encoded lengths + encoded bytes."""
    from . import intcodecs as IC

    n = offsets.size - 1
    # Strided sample across the whole column — a head-only sample learns
    # symbols specific to the first rows (e.g. the low ids of an id
    # column) and escapes everything later.
    avg_len = max(1.0, data.size / max(1, n))
    want = max(64, int(BUILD_SAMPLE_BYTES / avg_len))
    step = max(1, n // want)
    sample_strs = [
        data[offsets[i] : offsets[i + 1]].tobytes()
        for i in range(0, n, step)
    ]
    table = build_table(sample_strs)
    enc, enc_lengths = encode_column(data, offsets, table)
    tbl = table.serialize()
    lens_seg = IC.encode_ints(enc_lengths)
    return (
        tbl
        + lens_seg
        + struct.pack("<Q", enc.size)
        + enc.tobytes()
    )


def decompress(buf: memoryview, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of compress -> (data uint8, lengths int64)."""
    from . import intcodecs as IC

    table, pos = SymbolTable.deserialize(buf, 0)
    enc_lengths, pos = IC.decode_ints(buf, pos, n)
    (enc_size,) = struct.unpack_from("<Q", buf, pos)
    pos += 8
    enc = np.frombuffer(buf[pos : pos + enc_size], dtype=np.uint8)
    if enc.size != enc_size:
        raise ValueError("fsst: truncated encoded bytes")
    if pos + enc_size != len(buf):
        # strict consume (codec-layer contract): trailing junk in the
        # segment payload must refuse like every other bin codec
        raise ValueError("fsst: trailing payload bytes")
    enc_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(enc_lengths, out=enc_offsets[1:])
    data, lengths = decode_column(enc, enc_offsets, table)
    return data, lengths
