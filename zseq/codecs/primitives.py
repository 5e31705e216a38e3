"""Primitive integer-compression kernels, vectorized in numpy.

These reproduce the exact semantics (including wrapping int64 arithmetic and
byte layouts) of the reference's scalar Rust kernels so that (a) roundtrip
property tests carry over 1:1 and (b) the size oracle in zseq.oracle is
byte-exact. Reference: /root/reference/zbra-core/src/compression.rs
(frame_of_reference_encode :52-74, zig_zag_encode :88-98, bp64_pack
:117-178, compress_int_array :271-292).

All kernels are pure ``np.ndarray -> np.ndarray`` / bytes functions with no
Spark dependency; the Spark layer calls them from inside ``mapInArrow``.
"""

from __future__ import annotations

import numpy as np

_U64_1 = np.uint64(1)

# numpy int64 overflow wraps two's-complement exactly like Rust's
# wrapping_add/wrapping_sub, but emits RuntimeWarnings — suppress on purpose.
_wrap = np.errstate(over="ignore")


def _as_i64(values) -> np.ndarray:
    arr = np.asarray(values)
    if arr.dtype != np.int64:
        arr = arr.astype(np.int64)
    return arr


# ---------------------------------------------------------------------------
# Frame-of-reference (reference compression.rs:52-82) — median reference.
# ---------------------------------------------------------------------------

def for_reference(values: np.ndarray) -> int:
    """Median midpoint, replicating the reference's overflow-safe formula.

    Even length: ``a.wrapping_add(b.wrapping_sub(a) / 2)`` where ``/`` is
    Rust signed division (truncation toward zero) — compression.rs:60-68.
    """
    arr = _as_i64(values)
    n = arr.size
    if n == 0:
        return 0
    if n % 2 == 1:
        # np.partition is O(n); the reference full-sorts but only the
        # midpoint value matters (SURVEY.md §4.3).
        return int(np.partition(arr, n // 2)[n // 2])
    part = np.partition(arr, [n // 2 - 1, n // 2])
    a = int(part[n // 2 - 1])
    b = int(part[n // 2])
    d = _wrap_i64(b - a)
    half = -((-d) // 2) if d < 0 else d // 2  # trunc toward zero
    return _wrap_i64(a + half)


def _wrap_i64(x: int) -> int:
    """Wrap a python int to two's-complement int64."""
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def for_encode(values: np.ndarray) -> tuple[int, np.ndarray]:
    """(midpoint, wrapping deltas) — compression.rs:52-74."""
    arr = _as_i64(values)
    if arr.size == 0:
        return 0, arr
    mid = for_reference(arr)
    with _wrap:
        deltas = arr - np.int64(mid)
    return mid, deltas


def for_decode(midpoint: int, deltas: np.ndarray) -> np.ndarray:
    """Wrapping add — compression.rs:77-82."""
    arr = _as_i64(deltas)
    with _wrap:
        return arr + np.int64(midpoint)


# ---------------------------------------------------------------------------
# Zig-zag (reference compression.rs:88-111).
# ---------------------------------------------------------------------------

def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """(n << 1) ^ (n >> 63) on int64 -> uint64."""
    arr = _as_i64(values)
    u = arr.view(np.uint64)
    sign = (arr >> 63).view(np.uint64)  # arithmetic shift: 0 or all-ones
    with _wrap:
        return ((u << _U64_1) ^ sign)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    """(n >> 1) ^ -(n & 1) on uint64 -> int64."""
    u = np.asarray(values, dtype=np.uint64)
    shifted = (u >> _U64_1).view(np.int64)
    sign = (u & _U64_1).view(np.int64)
    return shifted ^ -sign


# ---------------------------------------------------------------------------
# BP64 bit-packing (reference compression.rs:117-233).
# LSB-first bitstream, 1-byte width header per array, >=32-bit width falls
# back to raw 8-byte LE storage (the "efficiency cliff" the reference's
# Date validation limit exists to avoid).
# ---------------------------------------------------------------------------

def bit_width_u64(max_value: int) -> int:
    """64 - clz(max); 1 when max == 0 (compression.rs:123-128)."""
    if max_value == 0:
        return 1
    return int(max_value).bit_length()


def bp64_pack(values: np.ndarray) -> bytes:
    u = np.ascontiguousarray(values, dtype=np.uint64)
    if u.size == 0:
        return b""
    width = bit_width_u64(int(u.max()))
    if width >= 32:
        return bytes([width]) + u.tobytes()  # raw 8-byte LE fallback
    return bytes([width]) + pack_width(u, width)


def bp64_unpack(packed: bytes | memoryview, count: int) -> np.ndarray:
    buf = memoryview(packed)
    if len(buf) == 0:
        if count:
            # strict decode: an empty payload promising values would
            # otherwise return a short array that callers silently use.
            # (A WIDTH-0 header with count values is different and
            # legitimate: the reference encodes all-zero deltas that way.)
            raise ValueError("bp64: empty payload for nonzero count")
        return np.zeros(0, dtype=np.uint64)
    width = buf[0]
    if width == 0 or count == 0:
        return np.zeros(count, dtype=np.uint64)
    data = buf[1:]
    if width >= 32:
        need = count * 8
        if len(data) < need:
            raise ValueError(
                f"bp64: truncated raw payload ({len(data)} < {need} bytes)"
            )
        return np.frombuffer(data[:need], dtype="<u8").copy()
    return unpack_width(data, count, width,
                        out=np.empty(count, dtype=np.uint64))


def _lane_groups(u: np.ndarray, width: int) -> np.ndarray:
    """(ngroups, 8 * nlanes) uint8, any width: each group of 8 values
    packed into little-endian uint64 lanes with one strided pass per
    value position, its bits in the row's first ``width`` bytes (the
    reference layout)."""
    n = u.size
    ngroups = (n + 7) // 8
    if ngroups * 8 != n:
        g = np.zeros(ngroups * 8, dtype=np.uint64)
        g[:n] = u
    else:
        g = np.ascontiguousarray(u, dtype=np.uint64)
    g = g.reshape(ngroups, 8)
    nlanes = (8 * width + 63) // 64
    lanes = np.zeros((ngroups, nlanes), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in range(8):
            start = k * width
            lane, off = divmod(start, 64)
            off_u = np.uint64(off)
            lanes[:, lane] |= g[:, k] << off_u
            if off + width > 64:
                lanes[:, lane + 1] |= g[:, k] >> np.uint64(64 - off)
    return lanes.view("<u8").view(np.uint8).reshape(ngroups, nlanes * 8)


def _tree_groups(u: np.ndarray, w: int) -> np.ndarray:
    """(ngroups, >= w) uint8, the rows of ``_lane_groups`` for w <= 32:
    values are combined pairwise in the narrowest dtype that holds them,
    a log2(8)=3-level tree of CONTIGUOUS shift/or passes instead of 8
    strided per-position passes over 64-bit lanes."""
    n = u.size
    ngroups = (n + 7) // 8
    dt = np.uint8 if w <= 8 else (np.uint16 if w <= 16 else np.uint32)
    if ngroups * 8 != n:
        g = np.zeros(ngroups * 8, dtype=dt)
        g[:n] = u.astype(dt) if u.dtype != dt else u
    else:
        g = u.astype(dt) if u.dtype != dt else np.ascontiguousarray(u)
    with np.errstate(over="ignore"):
        if w <= 8:
            # 8 bytes -> 1 uint64 lane in 3 contiguous combine passes.
            v16 = g.view(np.uint16)
            v16 = (v16 & np.uint16(0xFF)) | (
                (v16 >> np.uint16(8)) << np.uint16(w))
            v32 = v16.view(np.uint32)
            v32 = (v32 & np.uint32(0xFFFF)) | (
                (v32 >> np.uint32(16)) << np.uint32(2 * w))
            v64 = v32.view(np.uint64)
            lane = (v64 & np.uint64(0xFFFFFFFF)) | (
                (v64 >> np.uint64(32)) << np.uint64(4 * w))
            return lane.view(np.uint8).reshape(ngroups, 8)
        if w <= 16:
            v32 = g.view(np.uint32)
            v32 = (v32 & np.uint32(0xFFFF)) | (
                (v32 >> np.uint32(16)) << np.uint32(w))
            v64 = v32.view(np.uint64)
            v64 = (v64 & np.uint64(0xFFFFFFFF)) | (
                (v64 >> np.uint64(32)) << np.uint64(2 * w))
            # two lanes per group, lane1 starts at bit 4w of the 8w-bit
            # group stream
            s = 4 * w
            if s % 8 == 0:
                nb = s // 8
                byv = v64.view(np.uint8).reshape(ngroups, 2, 8)
                outm = np.empty((ngroups, w), dtype=np.uint8)
                outm[:, :nb] = byv[:, 0, :nb]
                outm[:, nb:] = byv[:, 1, :nb]
                return outm
            L = v64.reshape(ngroups, 2)
            pair = np.empty((ngroups, 2), dtype=np.uint64)
            pair[:, 0] = L[:, 0] | (L[:, 1] << np.uint64(s))
            pair[:, 1] = L[:, 1] >> np.uint64(64 - s)
            return pair.view(np.uint8).reshape(ngroups, 16)
        v64 = g.view(np.uint64)
        v64 = (v64 & np.uint64(0xFFFFFFFF)) | (
            (v64 >> np.uint64(32)) << np.uint64(w))
        # four lanes per group of 2w bits each; assemble the 8w-bit
        # (<= 256) group stream in 4 out-words
        L = v64.reshape(ngroups, 4)
        words = np.zeros((ngroups, 4), dtype=np.uint64)
        for j in range(4):
            s = j * 2 * w
            t0, off = divmod(s, 64)
            words[:, t0] |= L[:, j] << np.uint64(off)
            if off + 2 * w > 64:
                words[:, t0 + 1] |= L[:, j] >> np.uint64(64 - off)
        return words.view(np.uint8).reshape(ngroups, 32)


# Values per packing piece: a multiple of 8, so every piece starts on a
# byte of the output, and few enough that a piece's temporaries (a few
# bytes per value) stay in a core's L2 cache.
PACK_PIECE = 1 << 16


def pack_width(u: np.ndarray, width: int, out: np.ndarray | None = None):
    """Pack unsigned values at ``width`` bits each, LSB-first, vectorized.

    Byte layout is identical to the reference's scalar bit-buffer loop
    (compression.rs:152-177). ``u`` may be any unsigned/int64 dtype whose
    values fit ``width`` bits. The values are packed in pieces of
    ``PACK_PIECE``, each written straight into its bytes of the output,
    so no temporary grows with ``u``. Widths <= 32 (token ids, lengths,
    FOR deltas) take the tree of ``_tree_groups``: the codec path is
    memory-bandwidth-bound at high core counts, and the tree cuts its
    traffic ~4x against the lanes (measured ~3-4x wall on the packing
    step); widths >= 33 take the lanes of ``_lane_groups``.

    ``out`` (a writable uint8 array of exactly ceil(n * width / 8) bytes,
    e.g. a slice of a segment's buffer) receives the bytes and is
    returned; without it the result is one bytearray of that size."""
    n = u.size
    nbytes = (n * width + 7) // 8
    if out is None:
        res = bytearray(nbytes)
        out = np.frombuffer(res, dtype=np.uint8)
    elif out.shape != (nbytes,):
        raise ValueError(f"bitpack: out must hold {nbytes} bytes")
    else:
        res = out
    if width == 0:
        return res
    groups = _tree_groups if width <= 32 else _lane_groups
    for i in range(0, n, PACK_PIECE):
        j = min(i + PACK_PIECE, n)
        by = groups(u[i:j], width)
        dst = out[i * width // 8:(j * width + 7) // 8]
        whole = min(by.shape[0], dst.size // width)
        dst[:whole * width].reshape(whole, width)[...] = by[:whole, :width]
        if whole < by.shape[0]:  # the bytes of a last, partial group
            dst[whole * width:] = by[whole, :dst.size - whole * width]
    return res


def _unpack_width_lanes(data, count: int, width: int) -> np.ndarray:
    """Reference lane implementation of unpack (any width), returning
    uint64 — the wide (>= 33) path and the test oracle of
    ``unpack_width``'s one-pass path."""
    nbits = count * width
    nbytes = (nbits + 7) // 8
    raw = np.frombuffer(data, dtype=np.uint8, count=-1)
    if raw.size < nbytes:
        raise ValueError(
            f"bitpack: truncated payload ({raw.size} < {nbytes} bytes)"
        )
    ngroups = (count + 7) // 8
    nlanes = (8 * width + 63) // 64
    by = np.zeros((ngroups, nlanes * 8), dtype=np.uint8)
    flat = by[:, :width].reshape(-1)
    flat[:nbytes] = raw[:nbytes]
    by[:, :width] = flat.reshape(ngroups, width)
    lanes = np.ascontiguousarray(by).view("<u8").reshape(ngroups, nlanes)
    vals = np.empty((ngroups, 8), dtype=np.uint64)
    mask = np.uint64((1 << width) - 1)
    with np.errstate(over="ignore"):
        for k in range(8):
            start = k * width
            lane, off = divmod(start, 64)
            v = lanes[:, lane] >> np.uint64(off)
            if off + width > 64:
                v |= lanes[:, lane + 1] << np.uint64(64 - off)
            vals[:, k] = v & mask
    return vals.reshape(-1)[:count]


def _unpack_groups(raw: np.ndarray, ngroups: int, width: int,
                   rows: np.ndarray) -> None:
    """rows[k, g] = value k of the 8-value group g, for g < ngroups.

    Value k starts at bit k*width of its group's ``width`` bytes. For each
    k, one strided view reads a little-endian window at byte k*width//8 of
    every group at once (stride ``width`` bytes, no copy; 4 bytes when the
    value fits in them, else 8), then shift and mask into uint32. Every
    window must lie inside ``raw``."""
    mask = np.uint32((1 << width) - 1)
    for k in range(8):
        b, s = divmod(k * width, 8)
        dt = np.dtype("<u8" if s + width > 32 else "<u4")
        win = np.ndarray((ngroups,), dt, raw, b, (width,))
        r = rows[k, :ngroups]
        np.right_shift(win, dt.type(s), out=r, casting="unsafe")
        if width < 32:
            r &= mask


def unpack_width(data, count: int, width: int,
                 out: np.ndarray | None = None) -> np.ndarray:
    """Inverse of pack_width; strict about truncation (unlike the
    reference, which silently yields zeros — compression.rs:198-205;
    SURVEY.md §4.3 says decode must be strict in the rebuild).

    Widths <= 32 return uint32: one pass per value position of the
    8-value group (``_unpack_groups``) fills (8, ngroups) rows, then one
    transposed copy fills the result. The lane path zero-fills a staging
    array, scatters the payload into it and widens to uint64; on 3.76M
    values it measured 2.6-4.3x slower (widths 31 and 17). Widths >= 33
    take the lane path and return uint64. ``out`` (a contiguous unsigned
    array of ``count`` values, e.g. the final column slice) receives the
    values instead of a new array; a wider dtype widens them exactly."""
    if width > 32 or width == 0:
        vals = _unpack_width_lanes(data, count, width)
        if out is None:
            return vals
        out[...] = vals
        return out
    nbytes = (count * width + 7) // 8
    raw = np.frombuffer(data, dtype=np.uint8)
    if raw.size < nbytes:
        raise ValueError(
            f"bitpack: truncated payload ({raw.size} < {nbytes} bytes)"
        )
    raw = raw[:nbytes]
    if out is None:
        out = np.empty(count, dtype=np.uint32)
    elif out.shape != (count,) or not out.flags.c_contiguous:
        raise ValueError("bitpack: out must be contiguous, of count values")
    ngroups = (count + 7) // 8
    rows = np.empty((8, ngroups), dtype=np.uint32)
    # furthest byte past a group's start that one of its windows reads
    reach = max(k * width // 8 + (8 if k * width % 8 + width > 32 else 4)
                for k in range(8))
    main = min(ngroups, max(0, (nbytes - reach) // width + 1))
    if main:
        _unpack_groups(raw, main, width, rows)
    if main < ngroups:  # windows of the last groups run past the payload
        pad = np.zeros((ngroups - main) * width + reach, dtype=np.uint8)
        tail = raw[main * width:]
        pad[:tail.size] = tail
        _unpack_groups(pad, ngroups - main, width, rows[:, main:])
    nfull = count // 8
    out[:nfull * 8].reshape(nfull, 8)[...] = rows[:, :nfull].T
    if nfull < ngroups:
        out[nfull * 8:] = rows[:count - nfull * 8, nfull]
    return out


# ---------------------------------------------------------------------------
# zbra's full int pipeline (compression.rs:271-330): FOR -> zigzag -> BP64,
# layout = midpoint(8B LE) + packed_len(4B LE) + packed. Kept byte-exact:
# it is both a usable codec and the reference size oracle's core.
# ---------------------------------------------------------------------------

def zbra_compress_int_array(values: np.ndarray) -> bytes:
    arr = _as_i64(values)
    if arr.size == 0:
        return b""
    mid, deltas = for_encode(arr)
    zz = zigzag_encode(deltas)
    packed = bp64_pack(zz)
    head = int(mid).to_bytes(8, "little", signed=True)
    return head + len(packed).to_bytes(4, "little") + packed


def zbra_decompress_int_array(data: bytes | memoryview, count: int) -> np.ndarray:
    buf = memoryview(data)
    if len(buf) == 0:
        if count:
            raise ValueError(
                "zbra int pipeline: empty payload for nonzero count")
        return np.zeros(0, dtype=np.int64)
    if len(buf) < 12:
        raise ValueError("zbra int pipeline: invalid compressed data length")
    mid = int.from_bytes(buf[0:8], "little", signed=True)
    packed_len = int.from_bytes(buf[8:12], "little")
    if len(buf) < 12 + packed_len:
        raise ValueError("zbra int pipeline: insufficient data for packed array")
    zz = bp64_unpack(buf[12 : 12 + packed_len], count)
    deltas = zigzag_decode(zz)
    return for_decode(mid, deltas)


def zbra_compressed_size(values: np.ndarray) -> int:
    """Exact size in bytes of zbra's compress_int_array output, computed
    without materializing the payload (for the size oracle)."""
    arr = _as_i64(values)
    n = arr.size
    if n == 0:
        return 0
    _mid, deltas = for_encode(arr)
    zz = zigzag_encode(deltas)
    width = bit_width_u64(int(zz.max())) if n else 1
    packed = 1 + (n * 8 if width >= 32 else (n * width + 7) // 8)
    return 8 + 4 + packed
