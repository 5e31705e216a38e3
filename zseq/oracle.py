"""Pure-Python reimplementation of zbra's on-disk *size arithmetic*.

The graft acceptance gate is: our compressed bytes per column must be <=
what the reference binary format would write for the same data. The Rust
toolchain isn't available in this environment, so the oracle recomputes the
reference's exact byte counts from its fully-specified layout:

  - int pipeline payload: midpoint(8B) + packed_len(4B) + packed, where
    packed = 1B width + (count*8 if width>=32 else ceil(count*width/8));
    width = bits(max(zigzag(FOR-median deltas)))
    (/root/reference/zbra-core/src/compression.rs:117-178, 271-292)
  - int array framing: count u32 + compressed_len u32 + payload
    (binary.rs:639-645 write_int_array_compressed)
  - sized byte array (zstd level 3): uncompressed u32 + compressed u32 +
    zstd bytes (binary.rs:677-699; level default compression.rs:34-41)
  - column framing: 1B column tag + 1B default tag (+ 1B encoding tag for
    Int/Binary) (binary.rs:273-356, 486-573)
  - table framing: 1B table tag + 1B default (binary.rs:202-236)
  - block framing: row_count u32 (binary.rs:182-192)
  - file framing: 16B magic + two sized JSON headers + block count u32
    (binary.rs:103-130)

zbra has exactly two scalar widths (i64/f64, doubles bit-cast through the
int pipeline, binary.rs:295-301) and no nulls; narrower inputs are widened
and nulls normalized the same way zseq's encoder normalizes them, so the
comparison is apples-to-apples on decoded logical content.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

from .codecs import primitives as P
from .codecs.bytescodecs import zstd_compress


def int_array_compressed_size(values: np.ndarray) -> int:
    """write_int_array_compressed: count u32 + len u32 + pipeline bytes."""
    return 4 + 4 + P.zbra_compressed_size(values)


def sized_byte_array_compressed_size(data: bytes | np.ndarray) -> int:
    """write_sized_byte_array_compressed with Zstd{level:3}."""
    return 4 + 4 + len(zstd_compress(data))


def int_column_size(values: np.ndarray) -> int:
    """Column::Int: tag + default + IntEncoding + int array."""
    return 1 + 1 + 1 + int_array_compressed_size(values)


def double_column_size(values: np.ndarray) -> int:
    """Column::Double: tag + default + bit-cast int array (binary.rs:295-301)."""
    bits = np.ascontiguousarray(values, dtype=np.float64).view(np.int64)
    return 1 + 1 + int_array_compressed_size(bits)


def binary_column_size(lengths: np.ndarray, data) -> int:
    """Column::Binary: tag + default + BinaryEncoding + lengths + zstd data."""
    return (
        1 + 1 + 1
        + int_array_compressed_size(np.asarray(lengths, dtype=np.int64))
        + sized_byte_array_compressed_size(data)
    )


def array_column_size(lengths: np.ndarray, element_size: int) -> int:
    """Column::Array: tag + default + lengths + element column."""
    return (
        1 + 1
        + int_array_compressed_size(np.asarray(lengths, dtype=np.int64))
        + element_size
    )


def struct_column_size(fields: dict[str, int]) -> int:
    """Column::Struct: tag + default + count u32 + per field name+column."""
    return 1 + 1 + 4 + sum(4 + len(n.encode()) + s for n, s in fields.items())


def enum_column_size(tags: np.ndarray,
                     variants: list[tuple[str, int]]) -> int:
    """Column::Enum (binary.rs:332-344): tag + default + compressed u32
    tag array (widened to i64, binary.rs:666-669) + count u32 + per
    variant (string name, u32 tag, column)."""
    return (
        1 + 1
        + int_array_compressed_size(np.asarray(tags, dtype=np.int64))
        + 4
        + sum(4 + len(n.encode()) + 4 + s for n, s in variants)
    )


# ---------------------------------------------------------------------------
# Arrow -> zbra mapping
# ---------------------------------------------------------------------------

def _fill_ints(arr: pa.Array) -> np.ndarray:
    import pyarrow.compute as pc

    if arr.null_count:
        arr = pc.fill_null(arr, 0)
    return arr.to_numpy(zero_copy_only=False).astype(np.int64)


def _binary_parts(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    import pyarrow.compute as pc

    t = arr.type
    filler = "" if (pa.types.is_string(t) or pa.types.is_large_string(t)) else b""
    if arr.null_count:
        arr = pc.fill_null(arr, filler)
    raw = [v.encode() if isinstance(v, str) else v
           for v in arr.to_pylist()]
    blob = b"".join(raw)
    lengths = np.array([len(v) for v in raw], dtype=np.int64)
    return lengths, blob


def column_size(arr: pa.Array) -> int:
    """zbra Column byte size for one Arrow array."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t) \
            or pa.types.is_temporal(t):
        if pa.types.is_timestamp(t) or pa.types.is_date64(t) \
                or pa.types.is_time64(t):
            vals = _fill_ints(arr.cast(pa.int64()))
        elif pa.types.is_date32(t) or pa.types.is_time32(t):
            vals = _fill_ints(arr.cast(pa.int32()))
        elif pa.types.is_boolean(t):
            vals = _fill_ints(arr.cast(pa.int8()))
        else:
            vals = _fill_ints(arr)
        return int_column_size(vals)
    if pa.types.is_floating(t):
        import pyarrow.compute as pc

        a = pc.fill_null(arr, 0.0) if arr.null_count else arr
        vals = a.cast(pa.float64()).to_numpy(zero_copy_only=False)
        return double_column_size(vals)
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        lengths, blob = _binary_parts(arr)
        return binary_column_size(lengths, blob)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        import pyarrow.compute as pc

        lengths = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
        lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
        return array_column_size(lengths, column_size(arr.flatten()))
    if pa.types.is_struct(t):
        # Column::Struct: per-field child columns (striped SoA split)
        return struct_column_size({
            t.field(i).name: column_size(arr.field(i))
            for i in range(t.num_fields)
        })
    if pa.types.is_map(t):
        # Map = lengths + key child + value child (striped.rs:106-125);
        # lengths from the offsets buffer (pyarrow's list_value_length
        # has no map kernel)
        n = len(arr)
        if n == 0:
            offs = np.zeros(1, dtype=np.int64)
        else:
            offs = np.frombuffer(arr.buffers()[1], np.int32,
                                 count=arr.offset + n + 1)[arr.offset:] \
                .astype(np.int64)
        lengths = np.diff(offs) if n else np.zeros(0, dtype=np.int64)
        lo, hi = int(offs[0]), int(offs[-1])
        return (1 + 1
                + int_array_compressed_size(lengths)
                + column_size(arr.keys.slice(lo, hi - lo))
                + column_size(arr.items.slice(lo, hi - lo)))
    if pa.types.is_decimal128(t):
        # The reference's data model is i64/f64 only (logical.rs:10-24):
        # a decimal's faithful zbra representation is its unscaled value
        # as Int (one i64 column for <= 18 digits, a two-field Struct of
        # hi/lo i64 limbs beyond — mirroring how zseq stores it).
        n = len(arr)
        buf = arr.buffers()[1]
        raw = np.frombuffer(buf, dtype=np.int64,
                            count=2 * (arr.offset + n)).reshape(-1, 2)
        raw = raw[arr.offset:]
        lo64, hi64 = raw[:, 0].copy(), raw[:, 1].copy()
        if arr.null_count:
            import pyarrow.compute as pc

            valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
            lo64 = np.where(valid, lo64, 0)
            hi64 = np.where(valid, hi64, 0)
        if t.precision <= 18:
            return int_column_size(lo64)
        return struct_column_size({
            "lo": int_column_size(lo64), "hi": int_column_size(hi64)})
    if pa.types.is_decimal256(t):
        # Four-limb mirror of the two-limb struct treatment above: the
        # faithful zbra representation is a Struct of l0..l3 i64 limbs.
        n = len(arr)
        raw = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                            count=4 * (arr.offset + n)).reshape(-1, 4)
        raw = raw[arr.offset:]
        limbs = [raw[:, i].copy() for i in range(4)]
        if arr.null_count:
            import pyarrow.compute as pc

            valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
            limbs = [np.where(valid, x, 0) for x in limbs]
        return struct_column_size({
            f"l{i}": int_column_size(limbs[i]) for i in range(4)})
    if pa.types.is_union(t):
        n = len(arr)
        codes = (np.frombuffer(arr.buffers()[1], np.int8,
                               count=arr.offset + n)[arr.offset:]
                 if n else np.zeros(0, np.int8))
        if t.mode != "dense":
            # sparse rows align 1:1 with the parent (and .field() views
            # the sliced child), so the "offset" of row i is i — the
            # same normalization the zseq encoder applies
            offs = np.arange(n, dtype=np.int32)
        else:
            offs = (np.frombuffer(arr.buffers()[2], np.int32,
                                  count=arr.offset + n)[arr.offset:]
                    if n else np.zeros(0, np.int32))
        variants = []
        for i in range(t.num_fields):
            code = t.type_codes[i]
            child = arr.field(i).take(pa.array(offs[codes == code]))
            variants.append((t.field(i).name, column_size(child)))
        return enum_column_size(codes, variants)
    raise NotImplementedError(f"zbra oracle: unsupported Arrow type {t}")


def table_column_sizes(table: pa.Table) -> dict[str, int]:
    return {name: column_size(table.column(name)) for name in table.column_names}


def table_size(table: pa.Table) -> int:
    """Whole-file zbra size: magic + headers + 1 block
    (BinaryFile::new writes a single block, binary.rs:70-78)."""
    fields = table_column_sizes(table)
    struct_col = struct_column_size(fields)
    table_bytes = 1 + 1 + struct_col      # Table::Array tag + default
    block = 4 + table_bytes               # row_count u32
    schema_json = _schema_json(table)
    comp_json = json.dumps(
        {"binary_data": {"Zstd": {"level": 3}},
         "strings": {"Zstd": {"level": 3}}}
    ).encode()
    return (
        16
        + 4 + 4 + len(schema_json)
        + 4 + 4 + len(comp_json)
        + 4  # block count
        + block
    )


def _schema_json(table: pa.Table) -> bytes:
    """Representative serde JSON of the zbra TableSchema for header sizing
    (serde externally-tagged enums; logical.rs:8-73)."""

    def value_schema(t: pa.DataType):
        if pa.types.is_floating(t):
            return {"Double": {"default": "Allow"}}
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return {"Binary": {"default": "Allow", "encoding": "Utf8"}}
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return {"Binary": {"default": "Allow", "encoding": "Binary"}}
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return {"Array": {"default": "Allow",
                              "element": value_schema(t.value_type)}}
        return {"Int": {"default": "Allow", "encoding": "Int"}}

    fields = [
        {"name": f.name, "schema": value_schema(f.type)} for f in table.schema
    ]
    return json.dumps(
        {"Array": {"default": "Allow",
                   "element": {"Struct": {"default": "Allow",
                                          "fields": fields}}}}
    ).encode()
