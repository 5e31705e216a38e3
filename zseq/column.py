"""Arrow column <-> encoded chunk: the shredding layer.

The reference shreds logical rows into striped columns
(/root/reference/zbra-core/src/striped.rs:87-133 Table::from_logical,
:259-286 the Array{lengths, element} decomposition used by token arrays).
In the rebuild Spark already hands us Arrow RecordBatches inside
``mapInArrow`` — columnar, offsets+values — so shredding is: peel Arrow
buffers into (validity, lengths, values) numpy views, feed the codec layer.
Unshredding rebuilds ``pa.Array.from_buffers`` zero-copy from decoded
buffers and is strict about consumed byte counts, replicating striped.rs's
integrity checks (:541-548, :573-580).

Column chunk wire format:

    kind: u8 | flags: u8 | [validity] | body

    (the row count comes from the enclosing block — stored once per
    block, not once per chunk)

    flags bit0: has validity bitmap
    validity:   nbytes u32 LE + LSB-first bitmap (np.packbits little)
    flags bit1: has byte-bounds zone map (BINARY and multi-limb DECIMAL
                field chunks only)
    zone:       lo_len u8 + lo + hi_len u8 + hi — an inclusive [lo, hi]
                envelope of every value's bytes. Binary bounds are cut to
                16 bytes: lo is a prefix of the true min (a prefix sorts
                <= the full string, so it stays a valid lower bound); hi
                is the true max when it fits, else the max's prefix with
                its last non-0xFF byte incremented (the parquet
                truncated-statistics trick — strictly above anything
                carrying that prefix, so pruning stays conservative).

    Int zone maps are DERIVED from codec headers (intcodecs.segment_zone),
    not stored — int block pruning costs zero bytes. Byte bounds cost
    <= 36 bytes per binary field chunk.

    kind 1 INT     width u8, signed u8, int segment. Every fixed-width int
                   type: the integer types with their own width and sign;
                   timestamp, date, time and duration as their signed
                   storage ints (width = bit_width / 8), told apart by the
                   schema only. Interval types are refused.
    kind 2 DOUBLE  mode u8 + int segment:
                     mode 0: float64 bit patterns (the reference's
                       doubles-ride-the-int-pipeline trick, binary.rs:295-301)
                     mode 1..18: decimal-scaled — values are exactly
                       round(v * 10^(mode-1)) and reproduce v bit-for-bit
                       on division (verified at encode; the ALP idea,
                       Afroozeh & Boncz VLDB'23). Price-like columns drop
                       from ~64 to ~20-30 bits/value.
    kind 3 FLOAT   int segment of float32 bit patterns
    kind 4 BINARY  utf8 u8, binary segment
    kind 5 LIST    lengths int segment, child column chunk
    kind 6 BOOL    int segment of 0/1
    kind 7 STRUCT  nfields u16 + per field: name + sized child chunk
                   (the striped SoA split, striped.rs:287-339)
    kind 8 MAP     lengths int segment + sized key chunk + item chunk
                   (the reference's Map key/value split, striped.rs:106-125)
    kind 9 DECIMAL precision u8 + scale i8 + one int64 segment per limb
                   of the unscaled value, lowest first (the last signed).
                   The precision byte is the layout key: 1 limb for <= 18
                   (decimal128, whose high word must be sign extension),
                   2 for 19-38 (decimal128), 4 for 39-76 (decimal256; one
                   of precision <= 38 is refused). Limbs past the values'
                   range are sign extension, near-free under CONST/RLE.
                   Multi-limb field chunks store exact [lo, hi] in the
                   zone section: 8 * limbs bytes each, offset-binary
                   (v + 2^(64 * limbs - 1)) big-endian, so byte order is
                   numeric order.
    kind 10 ENUM   tags int segment + nvariants u16 + per variant:
                   type-code i8, name, sized child chunk holding ONLY that
                   variant's values in row order (the reference's Enum =
                   tag array + sparse per-variant children,
                   striped.rs:340-387 / :617-657; Arrow dense union).
                   Decode is STRICT: a stored tag outside the variant set
                   is refused — deliberately NOT reproducing the
                   reference's Unit-padding fallback (striped.rs:631-637).

Null slots are normalized before encoding (ints->0, strings->empty,
lists->empty) so encoded bytes are deterministic; the validity bitmap
restores nullness bit-exactly on decode.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .codecs import bytescodecs as BC
from .codecs import intcodecs as IC

K_INT = 1
K_DOUBLE = 2
K_FLOAT = 3
K_BINARY = 4
K_LIST = 5
K_BOOL = 6
K_STRUCT = 7
K_MAP = 8
K_DECIMAL = 9
K_ENUM = 10
K_REVERSED = 11

# Arrow field-metadata key marking a column as Reversed (descending sort
# semantics). The reference's Reversed is a pure no-op wrapper around the
# inner column (striped.rs:490-513 — values are stored unchanged); here it
# is a 2-byte chunk wrapper + schema metadata, honored transparently on
# decode.
REVERSED_META = b"zseq.reversed"

_HEAD = struct.Struct("<BB")

_INT_TYPES = {
    pa.int8(): (1, 1), pa.int16(): (2, 1), pa.int32(): (4, 1),
    pa.int64(): (8, 1), pa.uint8(): (1, 0), pa.uint16(): (2, 0),
    pa.uint32(): (4, 0), pa.uint64(): (8, 0),
}


def _np_int_dtype(width: int, signed: int):
    return np.dtype(f"{'i' if signed else 'u'}{width}")


def _validity(arr: pa.Array) -> np.ndarray | None:
    if arr.null_count == 0:
        return None
    return pc.is_valid(arr).to_numpy(zero_copy_only=False)


def _int_values(arr: pa.Array, np_dtype) -> np.ndarray:
    """Raw fixed-width values from Arrow buffers, honoring slice offset;
    null slots carry arbitrary bytes (caller zeroes them)."""
    buf = arr.buffers()[1]
    vals = np.frombuffer(buf, dtype=np_dtype, count=arr.offset + len(arr))
    return vals[arr.offset :]


def _int_layout(t: pa.DataType) -> tuple[int, int] | None:
    """(width, signed) of a type stored as kind INT, else None: the
    integer types, and the temporals as their signed storage ints."""
    if t in _INT_TYPES:
        return _INT_TYPES[t]
    if pa.types.is_timestamp(t) or pa.types.is_date(t) \
            or pa.types.is_time(t) or pa.types.is_duration(t):
        return t.bit_width // 8, 1
    return None


def _decimal_limbs(precision: int) -> int:
    """Int64 limbs of a decimal chunk: the precision byte is the layout
    key (module docstring, kind 9)."""
    return 4 if precision > 38 else 2 if precision > 18 else 1


def _sized(chunk: bytes, what: str) -> bytes:
    """A child chunk behind its u32 byte length (``what`` names the
    field in the refusal past the u32 limit)."""
    return struct.pack("<I", IC.u32_len(len(chunk), what)) + chunk


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------

def _note(stats: dict | None, path: str, seg: bytes, names) -> None:
    if stats is not None:
        stats[path] = (names[seg[0]], len(seg))


def encode_column(arr: pa.Array, stats: dict | None = None,
                  path: str = "", zone: bool = False) -> bytes:
    """Encode one Arrow array as a column chunk. ``stats`` (optional dict)
    collects {path: (codec_name, segment bytes)} for lineage metrics.
    ``zone=True`` (set by the block writer for top-level fields only)
    stores zone sections on binary/string and multi-limb decimal chunks;
    child chunks never pay for them because block pruning only consults
    field-root headers."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    n = len(arr)
    valid = _validity(arr)
    vseg = b""
    if valid is not None:
        bits = np.packbits(valid, bitorder="little").tobytes()
        vseg = struct.pack(
            "<I", IC.u32_len(len(bits), "validity byte count")) + bits

    def head(kind: int, zseg: bytes = b"") -> bytes:
        flags = (1 if valid is not None else 0) | (2 if zseg else 0)
        return _HEAD.pack(kind, flags) + vseg + zseg

    def note(seg: bytes, names) -> None:
        _note(stats, path, seg, names)

    def ints(kind: int, body_head: bytes, vals: np.ndarray) -> bytes:
        """A chunk whose body is ``body_head`` + one int segment."""
        seg = IC.encode_ints(vals)
        note(seg, IC.INT_CODEC_NAMES)
        return head(kind) + body_head + seg

    layout = _int_layout(t)
    if layout is not None:
        width, signed = layout
        vals = _int_values(arr, _np_int_dtype(width, signed))
        # Stay in the narrowest value-preserving integer domain: the
        # int codecs produce identical bytes for int32 input with half
        # the memory traffic (uint32/uint64 values exceed int32, and
        # uint64 rides as its int64 bit pattern as before).
        if signed and width >= 4:
            v = vals
        elif not signed and width == 8:
            v = vals.view(np.int64)
        elif not signed and width == 4:
            v = vals.astype(np.int64)
        else:
            v = vals.astype(np.int32)
        if valid is not None:
            v = np.where(valid, v, v.dtype.type(0))
        return ints(K_INT, struct.pack("<BB", width, signed), v)
    if pa.types.is_float64(t):
        f = _int_values(arr, np.float64)
        if valid is not None:
            f = np.where(valid, f, 0.0)
        mode, scaled = _scale_doubles(f)
        return ints(K_DOUBLE, struct.pack("<B", mode), scaled)
    if pa.types.is_float32(t):
        vals = _int_values(arr, np.float32).view(np.int32)
        if valid is not None:
            vals = np.where(valid, vals, np.int32(0))
        return ints(K_FLOAT, b"", vals)
    if pa.types.is_boolean(t):
        vals = pc.fill_null(arr, False).to_numpy(
            zero_copy_only=False).astype(np.int64)
        return ints(K_BOOL, b"", vals)
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        utf8 = 1 if (pa.types.is_string(t) or pa.types.is_large_string(t)) else 0
        a = arr
        if valid is not None:
            filler = "" if utf8 else b""
            a = pc.fill_null(a, filler)
        big = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
        odt = np.int64 if big else np.int32
        obuf = a.buffers()[1] if len(a) else None
        if obuf is None or len(obuf) < (a.offset + len(a) + 1) * odt().nbytes:
            # Empty arrays (e.g. the keys child of an all-empty map) may
            # carry no offsets buffer at all; short buffers can appear on
            # exotic slices — compact via cast, which rebuilds dense
            # offsets (data buffer stays zero-copy).
            if len(a) == 0:
                lengths = np.zeros(0, dtype=np.int64)
                data = np.zeros(0, dtype=np.uint8)
                seg = BC.encode_binary(lengths, data)
                note(seg, BC.BIN_CODEC_NAMES)
                return head(K_BINARY) + struct.pack("<B", utf8) + seg
            a = a.cast(pa.large_binary())
            odt = np.int64
            obuf = a.buffers()[1]
        offs = np.frombuffer(obuf, dtype=odt, count=a.offset + len(a) + 1)
        offs = offs[a.offset :].astype(np.int64)
        dbuf = a.buffers()[2]
        data = (
            np.frombuffer(dbuf, dtype=np.uint8, count=int(offs[-1]))
            [int(offs[0]):]
            if dbuf is not None and len(a)
            else np.zeros(0, np.uint8)
        )
        lengths = np.diff(offs)
        seg = BC.encode_binary(lengths, data)
        note(seg, BC.BIN_CODEC_NAMES)
        zseg = _bin_bounds(arr) if (zone and n) else b""
        return head(K_BINARY, zseg) + struct.pack("<B", utf8) + seg
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        lengths = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
        if lengths.dtype.kind == "f":  # nulls surfaced as NaN
            lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
        # else: keep the native int32/int64 — the codecs are
        # dtype-equivalent and the narrow domain halves the traffic
        child = arr.flatten()  # drops null/sliced-out slots, concatenated
        lseg = IC.encode_ints(lengths)
        _note(stats, path + ".lengths", lseg, IC.INT_CODEC_NAMES)
        cseg = encode_column(child, stats, path + ".element")
        return head(K_LIST) + lseg + cseg
    if pa.types.is_struct(t):
        body = bytearray(struct.pack("<H", t.num_fields))
        for i in range(t.num_fields):
            fld = t.field(i)
            child = arr.field(i)
            chunk = encode_column(child, stats, f"{path}.{fld.name}")
            nb = fld.name.encode()
            body += struct.pack("<H", len(nb)) + nb
            body += _sized(chunk, "struct child chunk length")
        return head(K_STRUCT) + bytes(body)
    if pa.types.is_map(t):
        # Map == lengths + flattened key child + flattened item child
        # (the reference's Map split into key/value columns,
        # striped.rs:106-125).
        if n == 0:
            offs = np.zeros(1, dtype=np.int64)
        else:
            obuf = arr.buffers()[1]
            offs = np.frombuffer(obuf, dtype=np.int32,
                                 count=arr.offset + n + 1)[arr.offset:]
            offs = offs.astype(np.int64)
        lengths = np.diff(offs) if n else np.zeros(0, dtype=np.int64)
        lo, hi = int(offs[0]), int(offs[-1])
        keys = arr.keys.slice(lo, hi - lo)
        items = arr.items.slice(lo, hi - lo)
        lseg = IC.encode_ints(lengths)
        kseg = encode_column(keys, stats, path + ".key")
        iseg = encode_column(items, stats, path + ".value")
        return (head(K_MAP) + lseg + _sized(kseg, "map key chunk length")
                + iseg)
    if pa.types.is_union(t):
        # Enum (sum type): tags + sparse per-variant children
        # (striped.rs:340-387). Arrow dense union IS that layout; children
        # are normalized to canonical row order via take(offsets) so the
        # encoded bytes are deterministic for any equivalent input.
        # SPARSE unions (children full-length, no offsets buffer, rows
        # align 1:1 with the parent) normalize to the same dense
        # encoding: row i's offset into its variant child is i itself,
        # and padding values under other tags are NOT data (to_pylist
        # ignores them) — equal logical inputs encode byte-identically
        # regardless of padding bytes. One on-disk layout either way.
        sparse = t.mode != "dense"
        if n == 0:
            codes = np.zeros(0, dtype=np.int8)
            offs = np.zeros(0, dtype=np.int64)
        else:
            codes = np.frombuffer(arr.buffers()[1], np.int8,
                                  count=arr.offset + n)[arr.offset:]
            if sparse:
                # pyarrow slices sparse-union children through .field()
                # (view of the sliced equivalent), so offsets are LOCAL
                offs = np.arange(n, dtype=np.int64)
            else:
                offs = np.frombuffer(arr.buffers()[2], np.int32,
                                     count=arr.offset + n)[arr.offset:]
        tcodes = np.array(t.type_codes, dtype=np.int8)
        if n and not np.isin(codes, tcodes).all():
            bad = sorted(set(codes[~np.isin(codes, tcodes)].tolist()))
            raise ValueError(f"enum: tag(s) {bad} not in schema "
                             f"(variants {tcodes.tolist()})")
        tseg = IC.encode_ints(codes.astype(np.int64))
        _note(stats, path + ".tags", tseg, IC.INT_CODEC_NAMES)
        body = bytearray(struct.pack("<H", t.num_fields))
        for i in range(t.num_fields):
            fld = t.field(i)
            mask = codes == tcodes[i]
            child = arr.field(i).take(pa.array(offs[mask]))
            chunk = encode_column(child, stats, f"{path}.{fld.name}")
            nb = fld.name.encode()
            body += struct.pack("<b", int(tcodes[i]))
            body += struct.pack("<H", len(nb)) + nb
            body += _sized(chunk, "enum child chunk length")
        return head(K_ENUM) + tseg + bytes(body)
    if pa.types.is_decimal(t):
        if pa.types.is_decimal256(t) and t.precision <= 38:
            # the precision byte is the layout key, so a decimal256
            # carrying a decimal128-range precision would decode as
            # two-limb and misread — and it fits in decimal128 anyway.
            # Refuse with the fix.
            raise ValueError(
                f"zseq: {t} — precision {t.precision} fits "
                "decimal128; cast the column (the on-disk layout is "
                "keyed on precision, 39-76 = four-limb)")
        nlimbs = _decimal_limbs(t.precision)
        words = t.bit_width // 64
        raw = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                            count=words * (arr.offset + n))
        raw = raw.reshape(-1, words)[arr.offset:]
        limbs = [raw[:, i] for i in range(nlimbs)]
        zseg = b""
        if nlimbs == 1:
            # Null slots may carry arbitrary buffer bytes (legal in
            # Arrow — compute kernels / IPC produce non-canonical
            # garbage there), so the 64-bit range check only applies
            # to valid slots.
            ok = raw[:, 1] == (limbs[0] >> 63)
            if valid is not None:
                ok |= ~valid
            if not ok.all():
                raise ValueError("decimal128: value exceeds 64-bit range")
        elif zone and n > arr.null_count:
            # Segment headers cannot bound a value split across limbs,
            # so the exact bounds of the valid values go in the zone
            # section (see the module docstring).
            vl = limbs if valid is None else [x[valid] for x in limbs]
            nb, off = 8 * nlimbs, 2 ** (64 * nlimbs - 1)
            zseg = b"".join(
                bytes([nb]) + (_limbs_extreme(vl, m) + off).to_bytes(nb, "big")
                for m in (False, True))
        if valid is not None:
            limbs = [np.where(valid, x, 0) for x in limbs]
        segs = [IC.encode_ints(x) for x in limbs]
        note(segs[0], IC.INT_CODEC_NAMES)
        for i, seg in enumerate(segs[1:], 1):
            sub = ".hi" if nlimbs == 2 else f".l{i}"
            _note(stats, path + sub, seg, IC.INT_CODEC_NAMES)
        return (head(K_DECIMAL, zseg)
                + struct.pack("<Bb", t.precision, t.scale) + b"".join(segs))
    raise NotImplementedError(f"zseq: unsupported Arrow type {t}")


def encode_column_reversed(arr: pa.Array, stats: dict | None = None,
                           path: str = "", zone: bool = False) -> bytes:
    """Wrap a column chunk in the Reversed marker (striped.rs:490-513):
    the inner bytes are identical; only the ordering semantics differ."""
    return _HEAD.pack(K_REVERSED, 0) + encode_column(arr, stats, path, zone)


def _limbs_extreme(limbs: list[np.ndarray], take_max: bool) -> int:
    """Exact lexicographic extreme of little-endian multi-limb signed
    ints (limbs[0] = lowest 64 bits ... limbs[-1] = signed high limb;
    lower limbs compare UNSIGNED) as an arbitrary-precision python int.
    One linear pass per limb — no per-row python-int construction."""
    sel = np.ones(limbs[0].shape[0], dtype=bool)
    total = 0
    for i in range(len(limbs) - 1, -1, -1):
        signed = i == len(limbs) - 1
        a = limbs[i][sel]
        if not signed:
            a = a.view(np.uint64)
        ext = int(a.max() if take_max else a.min())
        total += ext << (64 * i)
        if signed:
            sel &= limbs[i] == ext
        else:
            sel &= limbs[i].view(np.uint64) == np.uint64(ext)
    return total


ZONE_PREFIX = 16


def prefix_upper(p: bytes) -> bytes | None:
    """Smallest byte string strictly above every string with prefix ``p``
    (last non-0xFF byte incremented — the parquet truncated-statistics
    trick), or None when no finite bound exists (all-0xFF prefix). Shared
    by the zone-map writer below and the DataSource's StartsWith range
    pushdown."""
    b = bytearray(p)
    for i in range(len(b) - 1, -1, -1):
        if b[i] != 0xFF:
            b[i] += 1
            return bytes(b[: i + 1])
    return None


def _bin_bounds(a: pa.Array) -> bytes:
    """Byte-bounds zone section for a binary/string array (see module
    docstring): u8 lo_len + lo + u8 hi_len + hi, an inclusive [lo, hi]
    envelope of every NON-NULL value's bytes, or b"" when no finite bound
    exists. Callers pass the PRE-fill array: pc.min_max skips nulls, and
    null rows can never satisfy a pushed comparison, so excluding them is
    safe and strictly tighter than bounding the ""-filled values."""
    try:
        mm = pc.min_max(a)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
    except pa.lib.ArrowNotImplementedError:
        return b""
    if lo is None or hi is None:
        return b""  # all-null chunk: nothing a comparison could match
    if isinstance(lo, str):
        lo, hi = lo.encode(), hi.encode()
    lo_b = lo[:ZONE_PREFIX]
    if len(hi) <= ZONE_PREFIX:
        hi_b = hi
    else:
        hi_b = prefix_upper(hi[:ZONE_PREFIX])
        if hi_b is None:
            return b""  # all-0xFF prefix: no finite upper bound
    return bytes([len(lo_b)]) + lo_b + bytes([len(hi_b)]) + hi_b


def mark_reversed(schema: pa.Schema, cols: list[str]) -> pa.Schema:
    """Return ``schema`` with the Reversed marker set on ``cols`` (field
    metadata — survives IPC, the .zseq header, and the manifest)."""
    fields = []
    for f in schema:
        if f.name in cols:
            md = dict(f.metadata or {})
            md[REVERSED_META] = b"1"
            f = f.with_metadata(md)
        fields.append(f)
    return pa.schema(fields, metadata=schema.metadata)


def is_reversed(field: pa.Field) -> bool:
    return bool(field.metadata) and \
        field.metadata.get(REVERSED_META) == b"1"


_SCALES = [10 ** k for k in range(18)]


def _scale_doubles(f: np.ndarray) -> tuple[int, np.ndarray]:
    """Try decimal scaling (mode = k+1 for scale 10^k): exact iff
    round(v * 10^k) / 10^k reproduces every value bit-for-bit. Falls back
    to bit-cast (mode 0). Exactness is verified on the bit patterns, so
    NaN/inf/-0.0 inputs simply fall back."""
    n = f.size
    if n == 0:
        return 0, f.view(np.int64)
    with np.errstate(all="ignore"):
        finite = np.isfinite(f).all()
        if finite:
            amax = float(np.abs(f).max())
            for k, scale in enumerate(_SCALES):
                if amax * scale >= 2**52:
                    break
                iv = np.round(f * scale).astype(np.int64)
                if np.array_equal(
                    (iv / scale).view(np.int64), f.view(np.int64)
                ):
                    return k + 1, iv
    return 0, f.view(np.int64)


def _unscale_doubles(mode: int, ints: np.ndarray) -> np.ndarray:
    if mode == 0:
        return ints.view(np.float64)
    return ints / _SCALES[mode - 1]


def _chunk_head(mv: memoryview, offset: int):
    """Parse a chunk's head: (kind, validity bitmap view or None, zone
    section (lo, hi) bytes or None, offset of the body)."""
    kind, flags = _HEAD.unpack_from(mv, offset)
    pos = offset + _HEAD.size
    bits = zm = None
    if flags & 1:
        (nbytes,) = struct.unpack_from("<I", mv, pos)
        bits = mv[pos + 4 : pos + 4 + nbytes]
        pos += 4 + nbytes
    if flags & 2:
        bounds = []
        for _ in range(2):
            (ln,) = struct.unpack_from("<B", mv, pos)
            bounds.append(bytes(mv[pos + 1 : pos + 1 + ln]))
            pos += 1 + ln
        zm = tuple(bounds)
    return kind, bits, zm, pos


def chunk_stats(buf, offset: int, n: int) -> tuple[int, tuple | None]:
    """(kind, zone_map) from a chunk header WITHOUT decoding the body.
    Int zone maps are (lo, hi) ints derived from the codec parameters
    (intcodecs.segment_zone) — nothing stored; binary zone maps are
    (lo, hi) bytes read from the chunk's zone section."""
    mv = memoryview(buf)
    kind, _bits, zm, pos = _chunk_head(mv, offset)
    if kind == K_REVERSED:
        # No-op wrapper: zone maps come from the inner chunk.
        return chunk_stats(mv, pos, n)
    if kind == K_INT:
        width, signed = struct.unpack_from("<BB", mv, pos)
        zm = IC.segment_zone(mv, pos + 2, n)
        if zm is not None and width == 8 and not signed and zm[0] < 0:
            # uint64 rides as its int64 BIT PATTERN (values >= 2^63 are
            # negative int64s), so segment-derived bounds live in signed
            # order while predicate literals arrive unsigned. A negative
            # bound means the chunk crosses the sign boundary — the
            # signed interval is NOT an unsigned interval, and pruning
            # on it drops matching rows. No bound is the only safe
            # answer. (lo >= 0 implies hi >= lo >= 0: both domains
            # agree, bounds stay valid; widths < 8 widen nonneg.)
            zm = None
    elif kind == K_DECIMAL:
        nlimbs = _decimal_limbs(struct.unpack_from("<B", mv, pos)[0])
        if nlimbs == 1:
            # The unscaled int64 segment's derived bounds ARE the value
            # bounds (predicate literals cross in the unscaled storage
            # domain).
            zm = IC.segment_zone(mv, pos + 2, n)
        elif zm is not None and len(zm[0]) == len(zm[1]) == 8 * nlimbs:
            # Multi-limb: the stored offset-binary bounds, decoded back
            # to exact python ints — the zone comparisons are pure
            # Python, so the int domain works past int64 unchanged.
            off = 2 ** (64 * nlimbs - 1)
            zm = (int.from_bytes(zm[0], "big") - off,
                  int.from_bytes(zm[1], "big") - off)
        else:
            zm = None  # older multi-limb chunk without bounds: no pruning
    elif kind != K_BINARY:
        zm = None
    return kind, zm


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------

def decode_column(buf, offset: int, typ: pa.DataType,
                  n: int) -> tuple[pa.Array, int]:
    """Decode one column chunk of ``n`` rows at ``offset`` into an Arrow
    array of ``typ``. Returns (array, next offset)."""
    mv = memoryview(buf)
    kind, bits, _zm, pos = _chunk_head(mv, offset)
    validity_buf = None if bits is None else pa.py_buffer(bytes(bits))

    def fixed(vals: np.ndarray) -> pa.Array:
        """The fixed-width array of ``typ`` over ``vals``' bytes."""
        body = pa.py_buffer(np.ascontiguousarray(vals))  # zero-copy
        return pa.Array.from_buffers(typ, n, [validity_buf, body])

    if kind == K_INT:
        width, signed = struct.unpack_from("<BB", mv, pos)
        pos += 2
        if width < 8:
            # <= 32-bit physical target: decode directly in the 32-bit
            # domain (bit-identical to int64 + astype truncation, half
            # the traffic on the hot token path); a 4-byte type keeps
            # the int32 bits as they are
            vals, pos = IC.decode_ints(mv, pos, n, np.int32)
            if width < 4:
                vals = vals.astype(_np_int_dtype(width, signed))
        else:  # every 8-byte type: its int64 bits (uint64 is one)
            vals, pos = IC.decode_ints(mv, pos, n)
        return fixed(vals), pos
    if kind == K_DOUBLE:
        (mode,) = struct.unpack_from("<B", mv, pos)
        pos += 1
        v64, pos = IC.decode_ints(mv, pos, n)
        return fixed(_unscale_doubles(mode, v64)), pos
    if kind == K_FLOAT:
        v32, pos = IC.decode_ints(mv, pos, n, np.int32)
        return fixed(v32.view(np.float32)), pos
    if kind == K_BOOL:
        v32, pos = IC.decode_ints(mv, pos, n, np.int32)
        return fixed(np.packbits(v32.astype(bool), bitorder="little")), pos
    if kind == K_BINARY:
        (_utf8,) = struct.unpack_from("<B", mv, pos)
        pos += 1
        lengths, data, pos = BC.decode_binary(mv, pos, n)
        big = pa.types.is_large_string(typ) or pa.types.is_large_binary(typ)
        odt = "<i8" if big else "<i4"
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offs[1:])
        obuf = pa.py_buffer(np.ascontiguousarray(offs.astype(odt)))
        dbuf = pa.py_buffer(np.ascontiguousarray(data))  # zero-copy
        return pa.Array.from_buffers(typ, n, [validity_buf, obuf, dbuf]), pos
    if kind == K_LIST:
        lengths, pos = IC.decode_ints(mv, pos, n)
        child_type = typ.value_type
        child, pos = decode_column(mv, pos, child_type, int(lengths.sum()))
        big = pa.types.is_large_list(typ)
        odt = "<i8" if big else "<i4"
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offs[1:])
        obuf = pa.py_buffer(np.ascontiguousarray(offs.astype(odt)))
        return pa.Array.from_buffers(
            typ, n, [validity_buf, obuf], children=[child]
        ), pos
    if kind == K_STRUCT:
        (nfields,) = struct.unpack_from("<H", mv, pos)
        pos += 2
        children = []
        for _ in range(nfields):
            (nlen,) = struct.unpack_from("<H", mv, pos)
            pos += 2
            name = bytes(mv[pos : pos + nlen]).decode()
            pos += nlen
            (clen,) = struct.unpack_from("<I", mv, pos)
            pos += 4
            fld = typ.field(name)
            child, cend = decode_column(mv, pos, fld.type, n)
            if cend != pos + clen:
                raise ValueError(f"struct field {name}: chunk size mismatch")
            pos = cend
            children.append(child)
        return pa.Array.from_buffers(
            typ, n, [validity_buf], children=children
        ), pos
    if kind == K_MAP:
        lengths, pos = IC.decode_ints(mv, pos, n)
        total = int(lengths.sum())
        (klen,) = struct.unpack_from("<I", mv, pos)
        pos += 4
        keys, kend = decode_column(mv, pos, typ.key_type, total)
        if kend != pos + klen:
            raise ValueError("map: key chunk size mismatch")
        pos = kend
        items, pos = decode_column(mv, pos, typ.item_type, total)
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lengths, out=offs[1:])
        # The map's entries struct carries exact field names/nullability
        # (key is non-nullable); build it from the type itself.
        entry_type = pa.struct([typ.key_field, typ.item_field])
        entries = pa.StructArray.from_arrays(
            [keys, items],
            fields=[entry_type.field(0), entry_type.field(1)])
        return pa.Array.from_buffers(
            typ, n, [validity_buf, pa.py_buffer(np.ascontiguousarray(offs))],
            children=[entries],
        ), pos
    if kind == K_REVERSED:
        # Unwrap the ordering marker; inner bytes decode unchanged.
        return decode_column(mv, pos, typ, n)
    if kind == K_ENUM:
        tags64, pos = IC.decode_ints(mv, pos, n)
        if n and ((tags64 < -128) | (tags64 > 127)).any():
            # int8 cast would alias e.g. 256 -> 0 and smuggle a foreign
            # tag past the strict variant check
            raise ValueError("enum: stored tag outside int8 domain")
        codes = tags64.astype(np.int8)
        (nvar,) = struct.unpack_from("<H", mv, pos)
        pos += 2
        want_codes = {int(c): i for i, c in enumerate(typ.type_codes)}
        children: list = [None] * typ.num_fields
        offs = np.zeros(n, dtype=np.int32)
        seen = []
        for _ in range(nvar):
            (code,) = struct.unpack_from("<b", mv, pos)
            pos += 1
            (nlen,) = struct.unpack_from("<H", mv, pos)
            pos += 2
            name = bytes(mv[pos : pos + nlen]).decode()
            pos += nlen
            (clen,) = struct.unpack_from("<I", mv, pos)
            pos += 4
            if code not in want_codes:
                raise ValueError(
                    f"enum: stored variant tag {code} not in target type")
            if code in seen:
                raise ValueError(
                    f"enum: duplicate stored variant tag {code}")
            idx = want_codes[code]
            fld = typ.field(idx)
            if fld.name != name:
                raise ValueError(
                    f"enum: variant name mismatch ({name} vs {fld.name})")
            mask = codes == code
            cnt = int(mask.sum())
            child, cend = decode_column(mv, pos, fld.type, cnt)
            if cend != pos + clen:
                raise ValueError(f"enum variant {name}: chunk size mismatch")
            pos = cend
            offs[mask] = np.arange(cnt, dtype=np.int32)
            children[idx] = child
            seen.append(code)
        if len(seen) != typ.num_fields:
            raise ValueError("enum: variant count mismatch vs target type")
        # Strict (NOT the reference's Unit-padding, striped.rs:631-637):
        # every tag must belong to a decoded variant.
        if n and not np.isin(codes, np.array(seen, np.int8)).all():
            raise ValueError("enum: tag outside stored variant set")
        names = [typ.field(i).name for i in range(typ.num_fields)]
        if typ.mode == "sparse":
            # scatter each dense variant back to a full-length child:
            # null-index take puts NULL padding under other tags (the
            # canonical padding — the writer discarded the original's)
            full = []
            for i in range(typ.num_fields):
                mask = codes == int(typ.type_codes[i])
                idx = pa.array(np.where(mask, offs, 0).astype(np.int32),
                               mask=~mask)
                full.append(children[i].take(idx))
            out = pa.UnionArray.from_sparse(
                pa.array(codes, pa.int8()), full,
                field_names=names, type_codes=list(typ.type_codes))
            return out, pos
        out = pa.UnionArray.from_dense(
            pa.array(codes, pa.int8()), pa.array(offs, pa.int32()),
            children,
            field_names=names,
            type_codes=list(typ.type_codes))
        return out, pos
    if kind == K_DECIMAL:
        (precision,) = struct.unpack_from("<B", mv, pos)
        pos += 2
        nlimbs = _decimal_limbs(precision)
        wide = nlimbs == 4
        if not (pa.types.is_decimal256 if wide else
                pa.types.is_decimal128)(typ):
            layout = "decimal256 (four-limb)" if wide else "decimal128"
            raise ValueError(
                f"decimal: stored precision {precision} is a {layout} "
                f"chunk but the target type is {typ}")
        raw = np.empty((n, 4 if wide else 2), dtype=np.int64)
        for i in range(nlimbs):
            raw[:, i], pos = IC.decode_ints(mv, pos, n)
        if nlimbs == 1:
            raw[:, 1] = raw[:, 0] >> 63
        return fixed(raw), pos
    raise ValueError(f"unknown column kind {kind}")
