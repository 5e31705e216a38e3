"""Integer column codecs over a self-describing recursive segment format.

Every encoded integer array is a *segment*:

    tag: u8 | payload_len: u32 LE | payload

The element count is NOT stored in the segment — it is always known from
context (the column chunk header, or a parent codec's own fields), which
keeps per-column framing smaller than the reference format's even though
zseq stores strictly more metadata elsewhere (type widths, crc, schema).

Segments nest (DICT's dictionary and indices are themselves segments),
which lets codecs compose — the per-column-codec design zbra documents as
FUTURE work (/root/reference/docs/design.md:222-302) built for real.

Codec family (all int64-domain, like zbra's pipeline; narrower physical
types are handled at the column layer):

  CONST   one value repeated                        (RLE degenerate case)
  RAW     8-byte LE each                            (incompressible fallback)
  ZBRA    the reference's exact FOR->ZZ->BP64 pipeline, byte-for-byte
          (/root/reference/zbra-core/src/compression.rs:271-292)
  PACK    whole-array min-frame-of-reference + bit-pack — like ZBRA but
          min-referenced (no zig-zag needed), no length duplication, and
          no >=32-bit efficiency cliff
  FORBP   mini-block min-FOR + bit-pack: per-1024-value blocks, per-block
          min and bit width — fixes the reference's known sharp edge where
          one outlier poisons a whole column's bit width
          (compression.rs:130-131; SURVEY.md §4.3). Sized from the minis'
          min and max, then built once into one buffer, 64 minis of
          deltas at a time (``_forbp_seg``)
  DELTA   first value + zig-zag'd successive deltas, sub-encoded
          (wins on sorted/monotonic data)
  DICT    sorted unique values + packed indices (low cardinality)
  RLE     run values + run lengths, each sub-encoded (repetitive data)
  WRAP    zstd over a finished segment (cascade; catches periodic
          structure no single codec models); carries the inner segment's
          derived zone map so pruning survives the wrap. LZ matches are
          byte-granular, and a bit-packed layout hides two kinds of
          repeats: at a non-byte width 7 of 8 start at another bit
          phase, and against one global minimum a run repeated up to an
          additive constant is other bytes. So a bit-packed chunk's
          wrap is decided before it is built: zstd of a sample of whole
          minis (the chunk itself up to 64 minis) predicts the wrap of
          each layout that could show zstd those repeats. An auto PACK
          (``_pack_or_wrap``) tries its byte-width re-pack and FORBP
          (per-mini minimum, each mini on a byte), each built and
          zstd'd whole, in predicted order, and itself only where its
          prediction passes the 0.9 rule; the PACK body is built only
          when it is tried or kept. An auto FORBP (``_forbp_or_wrap``)
          tries its byte-width re-pack first only where the sample
          predicts that it wins; else FORBP, like every other segment,
          takes the 64 KiB prefix trial (``_maybe_wrap``)
  WSYM    width symbols + raw mantissas: per value, the symbol
          k = bit_length(v - lo) as one uint8 of a zstd-compressed symbol
          stream, and the k-1 bits below its leading 1 in one LSB-first
          bitstream, in stream order (zstd's "code + extra bits" split,
          RFC 8878). Entropy-codes skewed ids (Zipf tokens: 1.24 against
          zstd_wrap's 1.53 B/value) where LZ finds no repeats. Decode is
          one windowed gather per value, no permutation. Top-level only,
          chosen from the sample like the rest (``select``), and then
          the only segment built: never wrapped or nested

Zone maps are *derived*, not stored: CONST/PACK/FORBP/ZBRA/DICT/WSYM
headers already bound their values, so block pruning costs zero extra bytes
(``segment_zone``).

Decode is strict: truncated or trailing payload bytes raise, per the
rebuild contract (reference silently zero-fills, compression.rs:198-205).
"""

from __future__ import annotations

import mmap
import struct

import numpy as np

from . import primitives as P

HEADER = struct.Struct("<BI")  # tag, payload_len
LEN_LIMIT = 0xFFFFFFFF  # the largest value a u32 length field holds

T_CONST = 0x01
T_RAW = 0x02
T_ZBRA = 0x03
T_FORBP = 0x04
T_DELTA = 0x05
T_DICT = 0x06
T_RLE = 0x07
T_WRAP = 0x08
T_PACK = 0x09
T_WSYM = 0x0A

MINI = 1024  # FORBP mini-block size
_BYTE_WIDTHS = (8, 16, 32, 64)  # PACK widths whose lanes are whole bytes

INT_CODEC_NAMES = {
    T_CONST: "const",
    T_RAW: "raw",
    T_ZBRA: "zbra_pipe",
    T_FORBP: "forbp",
    T_DELTA: "delta",
    T_DICT: "dict",
    T_RLE: "rle",
    T_WRAP: "zstd_wrap",
    T_PACK: "pack",
    T_WSYM: "width_sym",
}

_wrap = np.errstate(over="ignore")


def u32_len(n: int, what: str) -> int:
    """``n`` for a u32 length field of the format; past ``LEN_LIMIT`` a
    ValueError naming the field, where struct would raise its own
    error."""
    if n > LEN_LIMIT:
        raise ValueError(
            f"{what} {n:,} is past the format's u32 limit of "
            f"{LEN_LIMIT:,}")
    return n


def _seg(tag: int, payload: bytes) -> bytes:
    return HEADER.pack(tag, u32_len(len(payload), "segment payload length")) \
        + payload


def _as_i64(values) -> np.ndarray:
    arr = np.asarray(values)
    if arr.dtype != np.int64:
        arr = arr.astype(np.int64)
    return np.ascontiguousarray(arr)


def _as_int(values) -> np.ndarray:
    """Keep int32 arrays narrow (the hot encode path: Arrow int32 token
    columns); widen everything else to int64. All codec byte layouts are
    int64-domain — the int32 fast paths below produce IDENTICAL bytes
    with half the memory traffic, verified by dtype-equivalence tests."""
    arr = np.asarray(values)
    if arr.dtype in (np.dtype(np.int32), np.dtype(np.int64)):
        return np.ascontiguousarray(arr)
    return _as_i64(arr)


# ---------------------------------------------------------------------------
# Individual codec payload encoders  (int64 ndarray -> payload bytes)
# ---------------------------------------------------------------------------

def _enc_const(arr: np.ndarray) -> bytes:
    return int(arr[0]).to_bytes(8, "little", signed=True)


def _enc_raw(arr: np.ndarray) -> bytes:
    return arr.astype("<i8").tobytes()


def _enc_zbra(arr: np.ndarray) -> bytes:
    return P.zbra_compress_int_array(arr)


def _pack_head(lo: int, width: int, count: int) -> bytes:
    """Segment header, min i64 LE and width u8 of the PACK segment of
    ``count`` values in the frame (``lo``, ``width``): all a zone map or
    a size check needs, sized from min and max alone."""
    nbody = (count * width + 7) // 8
    return (HEADER.pack(T_PACK, u32_len(9 + nbody, "segment payload length"))
            + lo.to_bytes(8, "little", signed=True) + bytes([width]))


def _pack_seg(arr: np.ndarray, lo: int, width: int) -> bytearray:
    """The PACK segment of ``arr`` in the frame (``lo``, ``width``): every
    value lies in [lo, lo + 2**width). width==0: no body. width==64: raw
    8-byte deltas.

    Built once into one buffer of its exact size: the deltas exist for
    one ``P.PACK_PIECE`` of values at a time, each piece packed straight
    into its bytes, so no temporary grows with the block. int32 input
    stays in the 32-bit domain: (arr - lo) wraps mod 2^32, and the true
    deltas are < 2^32 by construction (int32 span), so the uint32 view
    is exact — same bytes, half the traffic."""
    head = _pack_head(lo, width, arr.size)
    h, count = len(head), arr.size
    buf = bytearray(h + (count * width + 7) // 8)
    buf[:h] = head
    out = np.frombuffer(buf, dtype=np.uint8)[h:]
    udt = np.uint32 if arr.dtype == np.int32 else np.uint64
    base = arr.dtype.type(lo)
    for i in range(0, count if width else 0, P.PACK_PIECE):
        j = min(i + P.PACK_PIECE, count)
        with _wrap:
            d = (arr[i:j] - base).view(udt)
        # a piece starts on a whole byte: PACK_PIECE is 8k values
        dst = out[i * width // 8:(j * width + 7) // 8]
        if width == 64:
            dst[:] = d.view(np.uint8)
        else:
            P.pack_width(d, width, out=dst)
    return buf


def _pack_frame(arr: np.ndarray) -> tuple[int, int]:
    """(lo, width) of the PACK segment of ``arr``."""
    lo = int(arr.min())
    return lo, (int(arr.max()) - lo).bit_length()


def _enc_pack(arr: np.ndarray) -> memoryview:
    """min i64 LE | width u8 | packed deltas (byte-aligned): the PACK
    segment past its header. width==0: all equal min. width==64: raw
    8-byte deltas."""
    return memoryview(_pack_seg(arr, *_pack_frame(arr)))[HEADER.size:]


def _dec_pack(payload: memoryview, count: int,
              narrow: bool = False) -> np.ndarray:
    lo = int.from_bytes(payload[0:8], "little", signed=True)
    width = payload[8]
    if width == 0:
        if len(payload) != 9:
            raise ValueError("pack: trailing payload bytes")
        if narrow:
            return np.full(count, int(np.int64(lo).astype(np.int32)),
                           dtype=np.int32)
        return np.full(count, lo, dtype=np.int64)
    if len(payload) != 9 + (count * width + 7) // 8:
        raise ValueError("pack: payload size mismatch")
    # narrow: mod-2^32 arithmetic == int64 decode + astype(int32)
    udt = np.uint32 if narrow else np.uint64
    lo_u = np.int64(lo).astype(udt)
    with _wrap:
        if width in _BYTE_WIDTHS:  # byte-width lanes: read in place
            # dtype= fixes the sum's width: u1/u2 lanes plus a small
            # scalar would otherwise stay u1/u2 under numpy 1.x
            # value-based casting
            out = np.add(np.frombuffer(payload[9:],
                                       dtype=f"<u{width // 8}"),
                         lo_u, dtype=udt)
        else:  # unpack straight into the result, add lo in place
            out = P.unpack_width(payload[9:], count, width,
                                 out=np.empty(count, dtype=udt))
            out += lo_u
    return out.view(np.int32 if narrow else np.int64)


def _forbp_layout(arr: np.ndarray) -> tuple:
    """(mins, widths, offs) of the FORBP segment of ``arr``: each mini's
    min and width from the min and max of the reshaped block, and
    ``offs``, where each mini's packed body starts in the segment, whose
    last entry is the segment's exact length. Nothing is packed."""
    mini = MINI
    n = arr.size
    nminis = (n + mini - 1) // mini
    nfull = n // mini
    udt = np.uint32 if arr.dtype == np.int32 else np.uint64
    full = arr[: nfull * mini].reshape(nfull, mini)
    mins = np.empty(nminis, dtype=arr.dtype)
    spans = np.empty(nminis, dtype=arr.dtype)
    full.min(axis=1, out=mins[:nfull])
    full.max(axis=1, out=spans[:nfull])
    if nminis > nfull:  # trailing partial mini
        tail = arr[nfull * mini:]
        mins[-1], spans[-1] = tail.min(), tail.max()
    with _wrap:
        spans -= mins
    widths = _bit_lengths(spans.view(udt), 8 * udt().itemsize)
    counts = np.full(nminis, mini, dtype=np.int64)
    counts[nfull:] = n - nfull * mini
    head = HEADER.size + 2 + 9 * nminis
    offs = np.empty(nminis + 1, dtype=np.int64)
    offs[0] = head
    np.cumsum((counts * widths + 7) // 8, out=offs[1:])
    offs[1:] += head
    return mins, widths, offs


def _forbp_head(layout: tuple) -> bytearray:
    """The FORBP segment's bytes before its packed minis, from its
    ``layout``: segment header | mini u16 | nminis x (min i64 LE, width
    u8). Enough for ``segment_zone``."""
    mins, widths, offs = layout
    nminis = widths.size
    buf = bytearray(int(offs[0]))
    HEADER.pack_into(buf, 0, T_FORBP, u32_len(int(offs[-1]) - HEADER.size,
                                              "segment payload length"))
    struct.pack_into("<H", buf, HEADER.size, MINI)
    heads = np.frombuffer(buf, np.uint8)[HEADER.size + 2:].reshape(nminis, 9)
    heads[:, :8] = mins.astype("<i8").view(np.uint8).reshape(nminis, 8)
    heads[:, 8] = widths
    return buf


def _forbp_seg(arr: np.ndarray, layout: tuple) -> bytearray:
    """The whole FORBP segment, built once into one exact-size buffer:
    segment header | mini u16 | nminis x (min i64 LE, width u8) | packed
    minis (byte-aligned; nminis = ceil(count / mini), derived on decode).
    width==0: all equal min. width==64: raw 8-byte deltas.

    ``layout`` (``_forbp_layout(arr)``) sizes the segment before anything
    is allocated. The deltas are then computed for at most one pack piece
    of minis at a time (``P.PACK_PIECE`` values: 64 minis of 1024), and
    each run of equal-width minis in it is packed straight into its bytes
    of the buffer (one mini at a time where a mini does not fill whole
    bytes): no temporary grows with the block.

    int32 input runs entirely in the 32-bit domain ((v - min) wraps mod
    2^32; true deltas < 2^32 by int32-span construction, so the uint32
    view is exact) — identical bytes, half the memory traffic on the hot
    token-column path."""
    mins, widths, offs = layout
    mini, nminis, nfull = MINI, widths.size, arr.size // MINI
    udt = np.uint32 if arr.dtype == np.int32 else np.uint64
    full = arr[: nfull * mini].reshape(nfull, mini)
    head = _forbp_head(layout)
    buf = bytearray(int(offs[-1]))
    buf[:len(head)] = head
    out = np.frombuffer(buf, dtype=np.uint8)
    offs = offs.tolist()
    wlist = widths.tolist()

    def put(d: np.ndarray, m: int, e: int) -> None:
        """Pack the deltas ``d`` of the minis [m, e), all one width."""
        w = wlist[m]
        if w == 64:
            out[offs[m]:offs[e]] = d.reshape(-1).astype("<u8").view(np.uint8)
        elif w and (mini * w % 8 == 0 or e - m == 1):
            P.pack_width(d.reshape(-1), w, out=out[offs[m]:offs[e]])
        elif w:  # minis are individually byte-aligned; pack one by one
            for i in range(m, e):
                P.pack_width(d[i - m], w, out=out[offs[i]:offs[i + 1]])

    per = max(1, P.PACK_PIECE // mini)
    d = np.empty((min(per, nfull), mini), dtype=udt)
    for c0 in range(0, nfull, per):
        c1 = min(c0 + per, nfull)
        c = d[: c1 - c0]
        with _wrap:
            np.subtract(full[c0:c1], mins[c0:c1, None], out=c.view(arr.dtype))
        runs = [c0, *(np.flatnonzero(np.diff(widths[c0:c1])) + 1 + c0)
                .tolist(), c1]
        for m, e in zip(runs, runs[1:]):
            put(c[m - c0:e - c0], m, e)
    if nminis > nfull:
        with _wrap:
            put((arr[nfull * mini:] - mins[-1]).view(udt)[None], nfull,
                nminis)
    return buf


def _enc_forbp(arr: np.ndarray) -> memoryview:
    """The FORBP payload: ``_forbp_seg`` past its segment header."""
    return memoryview(_forbp_seg(arr, _forbp_layout(arr)))[HEADER.size:]


def _dec_forbp(payload: memoryview, count: int,
               narrow: bool = False) -> np.ndarray:
    """Inverse of ``_enc_forbp``. ``narrow`` decodes to int32: identical
    values to the int64 decode truncated with astype(int32) (all
    arithmetic is exact mod 2^32), at half the memory traffic.

    Deltas unpack straight into the result, one call per run of
    consecutive equal-width minis (one per mini where a mini does not
    fill whole bytes); each mini's min is then added in place. The
    trailing partial mini is a run of its own."""
    (mini,) = struct.unpack_from("<H", payload, 0)
    if mini == 0:
        raise ValueError("forbp: zero mini-block size")
    nminis = (count + mini - 1) // mini
    nfull = count // mini
    heads = np.frombuffer(payload[2 : 2 + 9 * nminis],
                          dtype=np.uint8).reshape(nminis, 9)
    udt = np.uint32 if narrow else np.uint64
    # wraps mod 2^32 when narrow — exactly astype
    mins = np.ascontiguousarray(heads[:, :8]).view("<i8").reshape(
        nminis).astype(udt)
    widths = heads[:, 8].astype(np.int64)
    pos = 2 + 9 * nminis
    out = np.empty(count, dtype=udt)
    m = 0
    while m < nminis:
        w = int(widths[m])
        e = m + 1
        stop = nfull if m < nfull else nminis
        while e < stop and widths[e] == w:
            e += 1
        lo_idx, hi_idx = m * mini, min(e * mini, count)
        run = out[lo_idx:hi_idx]
        if w == 0:
            run[...] = 0
        elif w == 64:
            nb = run.size * 8
            d64 = np.frombuffer(payload[pos : pos + nb], dtype="<u8")
            if d64.size != run.size:
                raise ValueError("forbp: truncated raw mini-block")
            run[...] = d64
            pos += nb
        else:
            step = run.size if mini * w % 8 == 0 else mini
            for i in range(lo_idx, hi_idx, step):
                j = min(i + step, hi_idx)
                nb = ((j - i) * w + 7) // 8
                P.unpack_width(payload[pos : pos + nb], j - i, w,
                               out=out[i:j])
                pos += nb
        with _wrap:
            run.reshape(e - m, -1)[...] += mins[m:e, None]
        m = e
    if pos != len(payload):
        raise ValueError(
            f"forbp: trailing payload bytes ({len(payload) - pos})"
        )
    return out.view(np.int32 if narrow else np.int64)


# lo i64 | hi i64 | zstd'd symbol stream length u32
_WSYM_HEAD = struct.Struct("<qqI")
# Values per encode/decode window: a multiple of 8 (``_bit_offsets``)
# whose working arrays stay in a core's L2 cache.
_WSYM_WINDOW = 1 << 16
_M32 = np.uint64(0xFFFFFFFF)


def _bit_lengths(d: np.ndarray, width: int) -> np.ndarray:
    """``int.bit_length`` of every value of unsigned ``d`` (all below
    ``2**width``) as uint8, read off the float exponent. The conversion
    is exact below 2**24 (float32) and 2**53 (float64), so the exponent
    is too; wider values are split into 32-bit halves."""
    if width <= 24:
        e = d.astype(np.float32).view(np.uint32) >> np.uint32(23)
        bias = np.uint32(126)
    elif width <= 53:
        e = d.astype(np.float64).view(np.uint64) >> np.uint64(52)
        bias = np.uint64(1022)
    else:
        k = _bit_lengths(d & _M32, 32)
        top = d >> np.uint64(32)
        big = np.flatnonzero(top)
        k[big] = _bit_lengths(top[big], 32) + np.uint8(32)
        return k
    np.maximum(e, bias, out=e)  # zero's exponent field is 0
    e -= bias
    return e.astype(np.uint8)


def _bit_offsets(m: np.ndarray, ph0: int, out: np.ndarray) -> int:
    """Exclusive prefix sums of one window's per-value bit counts ``m``
    (uint8, a multiple of 8 values), starting at ``ph0``, into ``out``
    (uint32); returns the offset just past the window.

    Offsets are relative to the window, so uint32 holds them however
    long the block is; the caller carries the absolute offset as a
    Python int. While every count is below 32, eight counts are summed
    at once as the bytes of one uint64: multiplying by
    0x0101010101010101 leaves in each byte the running sum up to it (at
    most 8 * 31 < 256, so no byte carries into the next), and only the
    group totals go through numpy's sequential cumsum."""
    if int(m.max()) >= 32:
        out[0] = 0
        np.cumsum(m[:-1], dtype=np.uint32, out=out[1:])
        out += np.uint32(ph0)
        return int(out[-1]) + int(m[-1])
    run = m.view(np.uint64) * np.uint64(0x0101010101010101)
    group = np.empty(run.size, dtype=np.uint32)
    group[0] = ph0
    np.cumsum(run[:-1] >> np.uint64(56), dtype=np.uint32, out=group[1:])
    group[1:] += np.uint32(ph0)
    end = int(group[-1]) + int(run[-1] >> np.uint64(56))
    run <<= np.uint64(8)  # running sums -> sums before each value
    np.add(run.view(np.uint8), np.repeat(group, 8), out=out)
    return end


def _wsym_windows(k: np.ndarray):
    """Yield (start, stop, m, offsets, base) per window of the symbols
    ``k``: its values' mantissa bit counts ``m`` (k - 1, none for
    k == 0; uint8) and bit offsets relative to bit ``base & ~31`` of the
    stream, and ``base``, the absolute bit offset of its first value (a
    Python int). A last, empty window carries the total bit count."""
    n = k.size
    win = min(_WSYM_WINDOW, -(-n // 8) * 8)
    m = np.zeros(win, dtype=np.uint8)
    pos = np.empty(win, dtype=np.uint32)
    base = 0
    for i in range(0, n, win):
        j = min(i + win, n)
        np.subtract(k[i:j], k[i:j] != 0, out=m[: j - i], dtype=np.uint8)
        m[j - i:] = 0
        end = _bit_offsets(m, base & 31, pos)
        yield i, j, m[: j - i], pos[: j - i], base
        base += end - (base & 31)
    yield n, n, m[:0], pos[:0], base


def _enc_wsym(arr: np.ndarray) -> bytes:
    """lo i64 | hi i64 | sym_len u32 | zstd(symbols) | mantissa stream.

    Each value's symbol is k = bit_length(v - lo), one uint8 per value,
    and the symbol stream is entropy-coded by zstd's literal coder. The
    k-1 bits below each value's leading 1 (its mantissa; none for
    k <= 1) follow in stream order in one LSB-first bitstream of
    ceil(sum(k-1) / 8) bytes: zstd's own "code + extra bits" split
    (RFC 8878), per value.

    Packing, one window at a time: each mantissa is shifted to its bit
    phase within a 32-bit word and split into the (up to three) words
    it touches. Each part is summed per word with one bincount, exact
    in float64: the bits within a word are disjoint, so their sum is
    their OR and below 2**32."""
    lo, hi = int(arr.min()), int(arr.max())
    width = (hi - lo).bit_length()
    n = arr.size
    udt = np.uint32 if arr.dtype == np.int32 else np.uint64
    wbits = udt(8 * udt().itemsize)
    k = np.empty(n, dtype=np.uint8)
    d = np.empty(min(_WSYM_WINDOW, n), dtype=udt)
    for i in range(0, n, d.size):
        dd = d[: min(d.size, n - i)]
        with _wrap:
            np.subtract(arr[i:i + dd.size], arr.dtype.type(lo),
                        out=dd.view(arr.dtype))
        k[i:i + dd.size] = _bit_lengths(dd, width)
    total = int(k.sum(dtype=np.uint64)) - int(np.count_nonzero(k))
    words = np.zeros(total // 32 + 3, dtype=np.uint32)
    for i, j, _m, pos, base in _wsym_windows(k):
        if i == j:
            break
        dd = d[: j - i]
        with _wrap:
            np.subtract(arr[i:j], arr.dtype.type(lo),
                        out=dd.view(arr.dtype))
        cut = np.subtract(wbits + udt(1), k[i:j], dtype=udt)
        dd <<= cut  # drop the leading 1 (shifts past the width give 0)
        dd >>= cut
        at = (pos >> np.uint32(5)).astype(np.intp)
        ph = (pos & np.uint32(31)).astype(udt)
        first = base >> 5
        for step in (0, 1, 2) if udt is np.uint64 else (0, 1):
            if step:
                part = dd >> (udt(32 * step) - ph)
            else:
                part = dd << ph
            if udt is np.uint64:
                part &= _M32
            sums = np.bincount(at, weights=part)
            words[first + step:first + step + sums.size] += \
                sums.astype(np.uint32)
    from .bytescodecs import zstd_compress_symbols

    sym = zstd_compress_symbols(k)
    body = words.astype("<u4", copy=False).view(np.uint8)
    slen = u32_len(len(sym), "width-symbol stream length")
    return b"".join((_WSYM_HEAD.pack(lo, hi, slen), sym,
                     body[: (total + 7) // 8]))


def _dec_wsym(payload: memoryview, count: int,
              narrow: bool = False) -> np.ndarray:
    """Inverse of ``_enc_wsym``: zstd, then per window of values the bit
    offsets (``_bit_offsets``), one gather of the little-endian window
    at each value's byte offset, and shifts that leave the value: no
    permutation. A 4-byte window holds a mantissa of up to 24 bits past
    its bit phase (symbols up to 25), an 8-byte one up to 56; wider
    values OR in their ninth byte. ``narrow`` decodes to int32 (mod
    2^32, as astype)."""
    if len(payload) < _WSYM_HEAD.size:
        raise ValueError("width_sym: truncated header")
    lo, hi, slen = _WSYM_HEAD.unpack_from(payload, 0)
    body = _WSYM_HEAD.size + slen
    if hi < lo or body > len(payload):
        raise ValueError("width_sym: truncated symbol stream")
    width = (hi - lo).bit_length()
    from .bytescodecs import zstd_decompress

    k = np.frombuffer(zstd_decompress(payload[_WSYM_HEAD.size:body],
                                      count), dtype=np.uint8)
    if k.size != count:
        raise ValueError("width_sym: symbol count mismatch")
    if int(k.max()) > width:
        raise ValueError("width_sym: symbol wider than the value span")
    nbytes = len(payload) - body
    buf = np.zeros(nbytes + 16, dtype=np.uint8)
    buf[:nbytes] = np.frombuffer(payload, np.uint8, nbytes, body)
    wdt = np.uint32 if width <= 25 else np.uint64
    wbits = wdt(8 * wdt().itemsize)
    # the window at every byte offset (unaligned, overlapping)
    windows = np.ndarray((nbytes + 1,), dtype=f"<u{wdt().itemsize}",
                         buffer=buf, strides=(1,))
    odt = np.uint32 if narrow else np.uint64
    lo_o = np.int64(lo).astype(odt)
    out = np.empty(count, dtype=odt)
    win = min(_WSYM_WINDOW, count)
    at = np.empty(win, dtype=np.intp)
    g = np.empty(win, dtype=wdt)
    sh = np.empty(win, dtype=wdt)
    for i, j, m, pos, base in _wsym_windows(k):
        if i == j:
            if (base + 7) // 8 != nbytes:
                raise ValueError("width_sym: mantissa stream size mismatch")
            break
        w = j - i
        first = (base >> 5) * 4  # pos counts from this byte's bit 0
        np.right_shift(pos, np.uint32(3), out=at[:w], casting="unsafe")
        np.bitwise_and(pos, np.uint32(7), out=sh[:w], casting="unsafe")
        # a contiguous copy of just the windows this gather reads
        np.take(np.ascontiguousarray(windows[first:first + int(at[w - 1])
                                             + 1]),
                at[:w], out=g[:w], mode="clip")
        gw, sw = g[:w], sh[:w]
        if width > 57:  # the top mantissa bits lie in the ninth byte
            gw >>= sw
            top = np.take(buf[first + 8:], at[:w], mode="clip")
            gw |= top.astype(wdt) << (wbits - sw)
            sw[...] = 0
        # mantissa up against the top bit, the leading 1 set there, then
        # down so the leading 1 lands at bit m (k == 0 shifts by the
        # full width, which gives 0); the per-symbol shifts stay uint8
        np.subtract(np.subtract(int(wbits) - 1, m, dtype=np.uint8), sw,
                    out=sw, dtype=wdt)
        gw <<= sw
        gw |= wdt(1) << (wbits - wdt(1))
        gw >>= np.subtract(int(wbits), k[i:j], dtype=np.uint8)
        np.add(gw, lo_o, out=out[i:j], dtype=odt, casting="unsafe")
    return out.view(np.int32 if narrow else np.int64)


def _enc_delta(arr: np.ndarray) -> bytes:
    """first i64 | min i64 | max i64 | zig-zag'd diffs sub-segment.
    min/max exist solely for the derived zone map (DELTA is the codec of
    sorted key columns — exactly where block pruning pays)."""
    with _wrap:
        diffs = np.diff(arr)
    zz = P.zigzag_encode(diffs).view(np.int64)
    sub = encode_ints(zz, exclude=frozenset({T_DELTA}))
    head = b"".join(
        int(v).to_bytes(8, "little", signed=True)
        for v in (arr[0], arr.min(), arr.max())
    )
    return head + sub


def _dec_delta(payload: memoryview, count: int) -> np.ndarray:
    first = int.from_bytes(payload[0:8], "little", signed=True)
    zz, pos = decode_ints(payload, 24, count - 1)
    if pos != len(payload):
        raise ValueError("delta: trailing payload bytes")
    diffs = P.zigzag_decode(zz.view(np.uint64))
    out = np.empty(count, dtype=np.int64)
    out[0] = first
    if count > 1:
        with _wrap:
            np.cumsum(diffs, out=out[1:])
            out[1:] += np.int64(first)
    return out


def _enc_dict(arr: np.ndarray) -> bytes:
    uniq, idx = np.unique(arr, return_inverse=True)
    card = struct.pack("<I", u32_len(uniq.size, "dict cardinality"))
    d = encode_ints(uniq, codec=_pick_simple(uniq))
    i = encode_ints(idx.astype(np.int64), exclude=frozenset({T_DICT}))
    return card + d + i


def _dec_dict(payload: memoryview, count: int,
              dtype=np.int64) -> np.ndarray:
    (card,) = struct.unpack_from("<I", payload, 0)
    uniq, pos = decode_ints(payload, 4, card)
    # indices stay int64: a narrow decode would wrap a corrupt >= 2^32
    # index into range and weaken the strict bounds check below
    idx, pos = decode_ints(payload, pos, count)
    if pos != len(payload):
        raise ValueError("dict: trailing payload bytes")
    if idx.size and (idx.min() < 0 or idx.max() >= uniq.size):
        raise ValueError("dict: index out of range")
    if dtype == np.int32:
        return uniq.astype(np.int32)[idx]
    return uniq[idx]


def run_lengths(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_lengths) — vectorized run detection via np.diff."""
    n = arr.size
    if n == 0:
        return arr[:0], np.zeros(0, dtype=np.int64)
    starts = np.empty(n, dtype=bool)
    starts[0] = True
    np.not_equal(arr[1:], arr[:-1], out=starts[1:])
    pos = np.flatnonzero(starts)
    vals = arr[pos]
    lens = np.diff(np.append(pos, n)).astype(np.int64)
    return vals, lens


def _enc_rle(arr: np.ndarray) -> bytes:
    vals, lens = run_lengths(arr)
    nruns = struct.pack("<I", u32_len(vals.size, "rle run count"))
    v = encode_ints(vals, codec=_pick_simple(vals))
    l = encode_ints(lens, exclude=frozenset({T_RLE, T_DICT}))
    return nruns + v + l


def _dec_rle(payload: memoryview, count: int,
             dtype=np.int64) -> np.ndarray:
    (nruns,) = struct.unpack_from("<I", payload, 0)
    vals, pos = decode_ints(payload, 4, nruns)
    lens, pos = decode_ints(payload, pos, nruns)
    if pos != len(payload):
        raise ValueError("rle: trailing payload bytes")
    if int(lens.sum()) != count:
        raise ValueError("rle: run lengths do not sum to element count")
    if dtype == np.int32:
        return np.repeat(vals.astype(np.int32), lens)
    return np.repeat(vals, lens)


def _pick_simple(arr: np.ndarray) -> int:
    """Cheap inner-codec choice for nested segments (no recursion into the
    full selector): FORBP unless tiny, where RAW's zero overhead wins."""
    if arr.size <= 8:
        return T_RAW
    return T_FORBP


# ---------------------------------------------------------------------------
# Public encode/decode
# ---------------------------------------------------------------------------

_ENCODERS = {
    T_CONST: _enc_const,
    T_RAW: _enc_raw,
    T_ZBRA: _enc_zbra,
    T_PACK: _enc_pack,
    T_FORBP: _enc_forbp,
    T_DELTA: _enc_delta,
    T_DICT: _enc_dict,
    T_RLE: _enc_rle,
    T_WSYM: _enc_wsym,
}

# Encoders whose byte output is identical for int32 input without
# widening (PACK/FORBP have explicit 32-bit domains; CONST/RAW/DICT/RLE
# widen internally only where the format needs int64 bytes; ZBRA widens
# inside the reference kernel). DELTA's wrapping np.diff is int64-domain
# semantics, so it is widened before encode.
_NARROW_OK = frozenset({T_CONST, T_RAW, T_ZBRA, T_PACK, T_FORBP,
                        T_DICT, T_RLE, T_WSYM})


def _segment(codec: int, arr: np.ndarray) -> bytes | bytearray:
    if codec == T_FORBP:  # built whole, header included, in one buffer
        return _forbp_seg(arr, _forbp_layout(arr))
    if codec == T_PACK:  # likewise
        return _pack_seg(arr, *_pack_frame(arr))
    return _seg(codec, _ENCODERS[codec](arr))


def encode_ints(values, codec: int | None = None,
                exclude: frozenset[int] = frozenset()) -> bytes | bytearray:
    """Encode an integer array as one segment (bytes-like; its first byte
    is the codec tag). ``codec=None`` auto-selects via zseq.select
    (sampled stats). ``exclude`` removes codecs from the auto candidate
    set (used by nested segments to bound recursion)."""
    arr = _as_int(values)
    n = arr.size
    if n == 0:
        return _seg(T_RAW, b"")
    auto = codec is None
    if auto:
        from .. import select

        codec = select.select_int_codec(arr, exclude=exclude)
    if codec == T_CONST and int(arr.min()) != int(arr.max()):
        raise ValueError("const codec requires a constant array")
    if codec in (T_DELTA,) and n < 2:
        codec = T_RAW
    if arr.dtype != np.int64 and codec not in _NARROW_OK:
        arr = arr.astype(np.int64)  # codecs with int64-domain byte paths
    if not auto or T_WRAP in exclude or codec == T_WSYM:
        return _segment(codec, arr)
    if codec == T_PACK:
        return _pack_or_wrap(arr)
    if codec == T_FORBP:
        return _forbp_or_wrap(arr)
    return _maybe_wrap(_segment(codec, arr), n)


def _wrap_head(seg, count: int, inner_len: int) -> bytes:
    """The T_WRAP payload's head: the inner segment's length and the zone
    ``segment_zone`` derives from ``seg``, whose head alone is enough."""
    zone = segment_zone(seg, 0, count)
    return struct.pack("<I", u32_len(inner_len, "wrapped segment length")) \
        + (struct.pack("<Bqq", 1, zone[0], zone[1]) if zone
           else struct.pack("<B", 0))


def _wrapped(seg, count: int, inner_len: int, comp: bytes,
             than: int) -> bytes | None:
    """T_WRAP around ``comp`` (zstd of an ``inner_len``-byte inner segment
    holding the same values as ``seg``), or None unless it is shorter
    than 0.9 * ``than`` bytes: its length is known before it is built,
    so a losing wrap copies nothing. The zone header is derived from
    ``seg`` so block pruning still works on wrapped chunks."""
    head = _wrap_head(seg, count, inner_len)
    plen = len(head) + len(comp)
    if HEADER.size + plen >= 0.9 * than:
        return None
    return b"".join((HEADER.pack(T_WRAP,
                                 u32_len(plen, "segment payload length")),
                     head, comp))


def _maybe_wrap(seg: bytes | bytearray, count: int) -> bytes | bytearray:
    """Cascade compression: zstd the finished segment when it still has
    exploitable structure (e.g. periodic patterns no single codec models).
    A ~64 KiB trial bounds cost; kept only on a clear (>=10%) win. The
    path of every auto segment but PACK's (``_pack_or_wrap``) and the
    width-symbol codec's (never wrapped)."""
    if len(seg) < 128:
        return seg
    from .bytescodecs import zstd_compress

    trial = memoryview(seg)[:65536]
    comp_trial = zstd_compress(trial)
    if len(comp_trial) > 0.85 * len(trial):
        return seg
    comp = comp_trial if len(trial) == len(seg) else zstd_compress(seg)
    return _wrapped(seg, count, len(seg), comp, len(seg)) or seg


# The wrap layouts of a bit-packed chunk are ordered by zstd of a sample
# (``_wrap_sample``): _WRAP_WINDOWS evenly spaced windows of
# _WRAP_WINDOW_MINIS whole minis. A chunk of at most that many minis is
# its own sample, so its prediction is exact.
_WRAP_WINDOWS = 16
_WRAP_WINDOW_MINIS = 4


def _wrap_sample(arr: np.ndarray) -> np.ndarray:
    """``arr`` itself up to _WRAP_WINDOWS * _WRAP_WINDOW_MINIS minis,
    else that many whole minis in evenly spaced windows (so a sample's
    FORBP minis are the chunk's own)."""
    nfull = arr.size // MINI
    if nfull <= _WRAP_WINDOWS * _WRAP_WINDOW_MINIS:
        return arr
    at = np.arange(_WRAP_WINDOWS) * (nfull - _WRAP_WINDOW_MINIS) \
        // (_WRAP_WINDOWS - 1)
    rows = (at[:, None] + np.arange(_WRAP_WINDOW_MINIS)).reshape(-1)
    return arr[: nfull * MINI].reshape(nfull, MINI)[rows].reshape(-1)


def _repack(arr: np.ndarray, lo: int, wide: int) -> np.ndarray:
    """The PACK segment of ``arr`` at the frame minimum ``lo`` and the
    byte width ``wide``, in one buffer: every value's delta is one whole
    lane.

    The buffer is mapped directly (unmapped when the array is freed),
    not malloc'd: it lives only for one zstd call, and glibc raises its
    mmap threshold to the size of a freed mapped chunk, after which the
    heap keeps later blocks' temporaries. A malloc'd 16-bit re-pack of a
    fixture block (19 MB) grew the fixture encode task's peak RSS from
    1.56x to 1.67x its Arrow bytes."""
    inner = np.frombuffer(
        mmap.mmap(-1, HEADER.size + 9 + arr.size * (wide // 8)), np.uint8)
    head = _pack_head(lo, wide, arr.size)
    inner[:len(head)] = np.frombuffer(head, np.uint8)
    with _wrap:  # deltas < 2^width, so the wrapping subtract casts exactly
        np.subtract(arr, arr.dtype.type(lo),
                    out=inner[len(head):].view(f"<u{wide // 8}"),
                    casting="unsafe")
    return inner


def _lane(width: int) -> int:
    """The byte width a re-pack of ``width``-bit deltas takes."""
    return next(b for b in _BYTE_WIDTHS if b >= width)


def _passes(zone, count: int, inner_len: int, comp_len: float,
            than: int) -> bool:
    """Whether a wrap of ``comp_len`` zstd bytes passes ``_wrapped``'s
    rule against ``than`` bytes."""
    return HEADER.size + len(_wrap_head(zone, count, inner_len)) \
        + comp_len < 0.9 * than


def _pack_or_wrap(arr: np.ndarray) -> bytes | bytearray:
    """An auto-selected PACK of ``arr``, or a wrap of it in another
    layout; the PACK is built only where it is tried or kept.

    zstd matches whole bytes, and a PACK hides two kinds of repeats from
    it. At a width that is not 8/16/32/64, a run repeated at an offset
    that is not a multiple of 8 values starts at another bit phase; the
    byte-width re-pack (none at a byte width) puts every value on whole
    bytes. Against the one global minimum, a run repeated up to an
    additive constant is other bytes; FORBP's per-mini minimum turns it
    back into a repeat, and its minis each start on a byte (the
    fixture's tail block of wide rows: zstd of its FORBP is 0.18 of zstd
    of its 32-bit re-pack).

    The sample (``_wrap_sample``) is laid out three ways, the PACK, the
    re-pack and FORBP, and each is zstd'd; a layout's predicted zstd
    bytes are its sample's output scaled by its length over the
    sample's. The re-pack and FORBP are built whole and zstd'd in
    predicted order (the repeats may lie far apart, past any sample:
    only the whole chunk decides); the PACK takes its place in that
    order only where its prediction passes ``_wrapped``'s 0.9 rule. The
    first wrap that passes against the PACK's exact length wins, else
    the PACK is kept. A chunk no larger than the sample is its own
    sample: its zstd outputs are the candidates', and nothing is built
    twice. A candidate past ``LEN_LIMIT`` is skipped, never refused. The
    zone header comes from the PACK's head, so a winning re-pack or
    FORBP never packs the PACK body at all."""
    from .bytescodecs import zstd_compress

    n = arr.size
    lo, width = _pack_frame(arr)
    zone = _pack_head(lo, width, n)
    plen = len(zone) + (n * width + 7) // 8
    if plen < 128:
        return _pack_seg(arr, lo, width)
    lane = _lane(width)
    forbp = _forbp_layout(arr)

    def pack(vals):
        return _pack_seg(vals, lo, width)

    layouts = [(pack, plen)]
    if lane != width:
        layouts.append((lambda vals: _repack(vals, lo, lane),
                        HEADER.size + 9 + n * (lane // 8)))
    layouts.append((lambda vals: _forbp_seg(
        vals, forbp if vals is arr else _forbp_layout(vals)),
        int(forbp[2][-1])))
    sample = _wrap_sample(arr)
    whole = sample is arr
    built, tries = None, []
    for build, full in layouts:
        if full > LEN_LIMIT:
            continue
        inner = build(sample)
        comp = zstd_compress(inner)
        est = len(comp) * full / len(inner)
        if build is pack:
            built = inner if whole else None
            if not _passes(zone, n, full, est, plen):
                continue
        tries.append((est, build, full, comp if whole else None))
    for _est, build, full, comp in sorted(tries, key=lambda t: t[0]):
        if comp is None:
            inner = build(arr)
            comp = zstd_compress(inner)
            if build is pack:
                built = inner
            del inner
        got = _wrapped(zone, n, full, comp, plen)
        if got:
            return got
    return built if built is not None else pack(arr)


def _forbp_or_wrap(arr: np.ndarray) -> bytes | bytearray:
    """An auto-selected FORBP of ``arr``, or a wrap of its byte-width
    re-pack, which is built first only where the sample predicts that
    its wrap passes ``_wrapped``'s 0.9 rule against FORBP's exact length
    and beats FORBP's predicted wrap. The wrap's zone header comes from
    FORBP's minis, as it would for a wrapped FORBP, and a kept re-pack
    leaves the FORBP body unpacked. Otherwise FORBP takes
    ``_maybe_wrap``, as every other segment. The order is asymmetric on
    purpose: a sample cannot stand in for the whole chunk where repeats
    lie far apart, so FORBP, the selected layout, is never dropped on a
    prediction; the re-pack can only move ahead of it."""
    from .bytescodecs import zstd_compress

    n = arr.size
    layout = _forbp_layout(arr)
    zone = _forbp_head(layout)
    flen = int(layout[2][-1])
    lo, width = _pack_frame(arr)
    lane = _lane(width)
    rlen = HEADER.size + 9 + n * (lane // 8)
    seg = None
    if 128 <= flen and rlen <= LEN_LIMIT:
        sample = _wrap_sample(arr)
        whole = sample is arr
        fseg = _forbp_seg(sample, layout if whole else _forbp_layout(sample))
        rseg = _repack(sample, lo, lane)
        rcomp = zstd_compress(rseg)
        rest = len(rcomp) * rlen / rseg.size
        if whole:
            seg = fseg
        if rest < len(zstd_compress(fseg)) * flen / len(fseg) \
                and _passes(zone, n, rlen, rest, flen):
            if not whole:
                rcomp = zstd_compress(_repack(arr, lo, lane))
            got = _wrapped(zone, n, rlen, rcomp, flen)
            if got:
                return got
    return _maybe_wrap(_forbp_seg(arr, layout) if seg is None else seg, n)


def decode_ints(buf, offset: int, count: int,
                dtype=np.int64) -> tuple[np.ndarray, int]:
    """Decode one segment of ``count`` elements from ``buf`` at ``offset``.

    Returns (array of ``dtype``, offset just past the segment).

    ``dtype`` may be np.int32 for columns whose physical width is <= 32
    bits: every value is then produced mod 2^32 — bit-identical to
    decoding in int64 and truncating with astype (C cast semantics), at
    half the memory traffic. PACK/FORBP/CONST/RAW/DICT/RLE/WRAP/WSYM
    have direct 32-bit paths; DELTA/ZBRA decode in int64 and truncate."""
    mv = memoryview(buf)
    tag, plen = HEADER.unpack_from(mv, offset)
    start = offset + HEADER.size
    end = start + plen
    if end > len(mv):
        raise ValueError("segment: truncated payload")
    payload = mv[start:end]
    narrow = dtype == np.int32
    if count == 0:
        if plen:
            raise ValueError("segment: payload for zero elements")
        return np.zeros(0, dtype=dtype), end
    if tag == T_CONST:
        if plen != 8:
            # strict decode (module contract): a 3-byte payload would
            # otherwise silently decode to a wrong value
            raise ValueError("const: payload must be exactly 8 bytes")
        v = int.from_bytes(payload[0:8], "little", signed=True)
        if narrow:
            v = int(np.int64(v).astype(np.int32))
        return np.full(count, v, dtype=dtype), end
    if tag == T_RAW:
        arr = np.frombuffer(payload, dtype="<i8")
        if arr.size != count:
            raise ValueError("raw: count mismatch")
        return arr.astype(dtype, copy=True), end
    if tag == T_ZBRA:
        out = P.zbra_decompress_int_array(payload, count)
        if out.size != count:
            raise ValueError("zbra_pipe: count mismatch")
        return out.astype(np.int32) if narrow else out, end
    if tag == T_PACK:
        return _dec_pack(payload, count, narrow), end
    if tag == T_FORBP:
        return _dec_forbp(payload, count, narrow), end
    if tag == T_WSYM:
        return _dec_wsym(payload, count, narrow), end
    if tag == T_DELTA:
        out = _dec_delta(payload, count)
        return out.astype(np.int32) if narrow else out, end
    if tag == T_DICT:
        return _dec_dict(payload, count, dtype), end
    if tag == T_RLE:
        return _dec_rle(payload, count, dtype), end
    if tag == T_WRAP:
        from .bytescodecs import zstd_decompress

        (raw_len,) = struct.unpack_from("<I", payload, 0)
        has_zone = payload[4]
        skip = 5 + (16 if has_zone else 0)
        inner = zstd_decompress(payload[skip:], raw_len)
        vals, pos = decode_ints(inner, 0, count, dtype)
        if pos != len(inner):
            raise ValueError("zstd_wrap: trailing inner bytes")
        return vals, end
    raise ValueError(f"unknown int codec tag 0x{tag:02x}")


# ---------------------------------------------------------------------------
# Derived zone maps — no stored stats, bounds read off codec headers.
# ---------------------------------------------------------------------------

def segment_zone(buf, offset: int, count: int) -> tuple[int, int] | None:
    """Conservative (min, max) bound of the segment's values, or None when
    the codec's header does not bound them. Never decodes payload data."""
    mv = memoryview(buf)
    tag, plen = HEADER.unpack_from(mv, offset)
    payload = mv[offset + HEADER.size : offset + HEADER.size + plen]
    if count == 0:
        return None
    if tag == T_CONST:
        if len(payload) < 8:
            return None
        v = int.from_bytes(payload[0:8], "little", signed=True)
        return (v, v)
    I64_MAX = (1 << 63) - 1
    if tag == T_PACK:
        if len(payload) < 9:
            return None
        lo = int.from_bytes(payload[0:8], "little", signed=True)
        w = payload[8]
        if w >= 64:
            return None
        return (lo, min(lo + (1 << w) - 1, I64_MAX))
    if tag == T_FORBP:
        if len(payload) < 2:
            return None
        (mini,) = struct.unpack_from("<H", payload, 0)
        if mini == 0:
            return None
        nminis = (count + mini - 1) // mini
        if 2 + 9 * nminis > len(payload):
            # Short/corrupt header region: no pruning (decode will raise).
            return None
        # Vectorized header walk (runs per block write for the part
        # envelope): mins i64 LE + width u8, stride 9.
        heads = np.frombuffer(payload, dtype=np.uint8,
                              offset=2, count=9 * nminis).reshape(nminis, 9)
        mins = np.ascontiguousarray(heads[:, :8]).view("<i8").reshape(-1)
        widths = heads[:, 8].astype(np.int64)
        if (widths >= 64).any():
            return None
        lo_all = int(mins.min())
        with np.errstate(over="ignore"):
            spans = np.where(widths > 0,
                             (np.int64(1) << widths) - np.int64(1),
                             np.int64(0))
            his = mins + spans  # may exceed I64_MAX conceptually; clamp
        # exact python-int clamp for minis whose span wrapped past i64
        wrap = (his < mins)
        if wrap.any():
            hi_all = max(min(int(m) + (1 << int(w)) - 1, I64_MAX)
                         for m, w in zip(mins[wrap], widths[wrap]))
            ok = ~wrap
            if ok.any():
                hi_all = max(hi_all, int(his[ok].max()))
        else:
            hi_all = int(his.max())
        return (lo_all, hi_all)
    if tag == T_ZBRA:
        if plen < 13:
            return None
        mid = int.from_bytes(payload[0:8], "little", signed=True)
        w = payload[12]  # first packed byte = bit width
        if w >= 32:
            return None
        half = 1 << max(0, w - 1)
        lo, hi = mid - half, mid + half
        if lo < -(1 << 63) or hi > I64_MAX:
            return None  # decode wraps near the i64 extremes — no bound
        return (lo, hi)
    if tag == T_DICT:
        if len(payload) < 4:
            return None
        (card,) = struct.unpack_from("<I", payload, 0)
        return segment_zone(payload, 4, card)
    if tag == T_WRAP:
        if len(payload) >= 21 and payload[4]:
            lo, hi = struct.unpack_from("<qq", payload, 5)
            return (lo, hi)
        return None
    if tag == T_WSYM:
        if len(payload) < 16:
            return None
        return struct.unpack_from("<qq", payload, 0)
    if tag == T_DELTA:
        if len(payload) < 24:
            return None
        lo = int.from_bytes(payload[8:16], "little", signed=True)
        hi = int.from_bytes(payload[16:24], "little", signed=True)
        return (lo, hi)
    return None
