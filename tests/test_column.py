"""Arrow column shredding roundtrips — the striped-equivalence layer.

Mirrors the reference's striped roundtrip property tests
(/root/reference/zbra-core/tests/roundtrip.rs:42-52 column-level,
tests/common/mod.rs:384-408 boundary values: i64 MIN/MAX, +-inf, NaN,
-0.0, empty and large collections)."""

import numpy as np
import pyarrow as pa
import pytest

from zseq import column as C


def rt(arr: pa.Array) -> pa.Array:
    enc = C.encode_column(arr)
    dec, pos = C.decode_column(enc, 0, arr.type, len(arr))
    assert pos == len(enc)
    return dec


def eq(a: pa.Array, b: pa.Array) -> bool:
    """Bit-identical comparison (Arrow's .equals is false for NaN == NaN;
    the roundtrip contract is bit-identity, which is stricter)."""
    if pa.types.is_floating(a.type):
        import pyarrow.compute as pc

        va = pc.is_valid(a).to_numpy(zero_copy_only=False)
        vb = pc.is_valid(b).to_numpy(zero_copy_only=False)
        if not np.array_equal(va, vb):
            return False
        dt = np.float64 if pa.types.is_float64(a.type) else np.float32
        it = np.int64 if dt is np.float64 else np.int32
        na = np.asarray(a.fill_null(0.0).to_numpy(zero_copy_only=False),
                        dtype=dt).view(it)
        nb = np.asarray(b.fill_null(0.0).to_numpy(zero_copy_only=False),
                        dtype=dt).view(it)
        return bool(np.array_equal(na, nb))
    return a.equals(b)


BOUNDARY = [
    pa.array([2**63 - 1, -(2**63), 0, -1, 1], type=pa.int64()),
    pa.array([float("inf"), float("-inf"), float("nan"), -0.0, 0.0, 1e308]),
    pa.array([], type=pa.int64()),
    pa.array([], type=pa.string()),
    pa.array([], type=pa.list_(pa.int32())),
    pa.array([None, None], type=pa.float64()),
    pa.array([[]] * 5, type=pa.list_(pa.int32())),
    pa.array([list(range(5000))], type=pa.list_(pa.int64())),
    pa.array(["", "", ""]),
    pa.array([b"\x00" * 1000, b"\xff" * 1000], type=pa.binary()),
]


@pytest.mark.parametrize("i", range(len(BOUNDARY)))
def test_boundary_roundtrip(i):
    arr = BOUNDARY[i]
    assert eq(rt(arr), arr)


TYPED = [
    pa.array([1, None, 3], type=pa.int8()),
    pa.array([1, None, 3], type=pa.int16()),
    pa.array([-(2**31), 2**31 - 1, None], type=pa.int32()),
    pa.array([0, 255, None], type=pa.uint8()),
    pa.array([0, 2**16 - 1], type=pa.uint16()),
    pa.array([0, 2**32 - 1], type=pa.uint32()),
    pa.array([0, 2**64 - 1, 5], type=pa.uint64()),
    pa.array([1.5, None], type=pa.float32()),
    pa.array([True, None, False]),
    pa.array(["αβγ", None, "ascii", ""]),
    pa.array([b"raw", None], type=pa.binary()),
    pa.array([["a", "b"], None, []], type=pa.list_(pa.string())),
    pa.array([[1.5], [2.5, None]], type=pa.list_(pa.float64())),
    pa.array([[[1, 2]], [[3], []]], type=pa.list_(pa.list_(pa.int32()))),
    pa.array(np.array(["2024-06-01T12:00:00.123456"] * 4,
                      dtype="datetime64[us]")),
]


@pytest.mark.parametrize("i", range(len(TYPED)))
def test_typed_roundtrip(i):
    arr = TYPED[i]
    assert eq(rt(arr), arr)


def test_sliced_arrays():
    base = pa.array(list(range(10000)), type=pa.int64())
    sl = base.slice(1234, 567)
    assert rt(sl).equals(sl)
    base_s = pa.array([f"s{i}" for i in range(1000)])
    sl_s = base_s.slice(10, 77)
    assert rt(sl_s).equals(sl_s)


def test_nulls_with_garbage_slots_encode_deterministically():
    a = pa.array([1, None, 3], type=pa.int64())
    b = pa.array([1, None, 3], type=pa.int64())
    assert C.encode_column(a) == C.encode_column(b)


def test_list_child_count_strictness():
    arr = pa.array([[1, 2], [3]], type=pa.list_(pa.int32()))
    enc = bytearray(C.encode_column(arr))
    # Corrupt: claim 3 rows but keep child — framing must refuse garbage
    with pytest.raises(Exception):
        C.decode_column(bytes(enc[:-4]), 0, arr.type, len(arr))


def test_timestamp_tz():
    arr = pa.array([1, 2, 3], type=pa.timestamp("us", tz="UTC"))
    assert rt(arr).equals(arr)


NESTED = [
    pa.array([{"a": 1, "b": "x"}, {"a": 2, "b": None}, None],
             type=pa.struct([("a", pa.int64()), ("b", pa.string())])),
    pa.array([{"k1": 1.5}, {"k2": 2.5, "k3": 3.0}, None, {}],
             type=pa.map_(pa.string(), pa.float64())),
    pa.array([[{"x": 1}], [], [{"x": 2}, {"x": 3}]],
             type=pa.list_(pa.struct([("x", pa.int32())]))),
    pa.array([{"inner": [1, 2]}, {"inner": []}],
             type=pa.struct([("inner", pa.list_(pa.int32()))])),
]


@pytest.mark.parametrize("i", range(len(NESTED)))
def test_struct_map_roundtrip(i):
    arr = NESTED[i]
    assert rt(arr).to_pylist() == arr.to_pylist()


def test_decimal_roundtrip():
    from decimal import Decimal

    arr = pa.array([Decimal("123.45"), Decimal("-0.01"), None],
                   type=pa.decimal128(12, 2))
    assert rt(arr).to_pylist() == arr.to_pylist()
    big = pa.array([Decimal("999999999999999999")], type=pa.decimal128(18, 0))
    assert rt(big).to_pylist() == big.to_pylist()
    # precision > 18 takes the two-limb layout
    wide = pa.array([Decimal(10) ** 24, None, -(Decimal(10) ** 24),
                     Decimal("9" * 38), Decimal("-" + "9" * 38),
                     Decimal(0)],
                    type=pa.decimal128(38, 0))
    assert rt(wide).to_pylist() == wide.to_pylist()
    # precision > 38 takes the four-limb decimal256 layout
    huge = pa.array([Decimal("1")], type=pa.decimal256(50, 0))
    assert rt(huge).to_pylist() == huge.to_pylist()


def test_spark_struct_map_decimal_roundtrip_via_file():
    """Struct/map/decimal columns through the full .zseq file layer."""
    from zseq import zseqfile

    from decimal import Decimal

    tbl = pa.table({
        "id": pa.array([1, 2, 3], type=pa.int64()),
        "s": NESTED[0],
        "m": pa.array([{"a": 1}, None, {}], type=pa.map_(pa.string(),
                                                         pa.int64())),
        "d38": pa.array([Decimal(10) ** 25, None, -(Decimal(10) ** 25)],
                        type=pa.decimal128(38, 2)),
    })
    out = zseqfile.decode_table(zseqfile.encode_table(tbl))
    assert out.to_pylist() == tbl.to_pylist()


from hypothesis import given, settings
from hypothesis import strategies as hst


@settings(max_examples=60, deadline=None)
@given(hst.lists(
    hst.one_of(
        hst.none(),
        hst.fixed_dictionaries({
            "a": hst.one_of(hst.none(),
                            hst.integers(-(2**63), 2**63 - 1)),
            "b": hst.one_of(hst.none(), hst.text(max_size=12)),
        }),
    ),
    max_size=40,
))
def test_struct_roundtrip_property(rows):
    arr = pa.array(rows, type=pa.struct([("a", pa.int64()),
                                         ("b", pa.string())]))
    assert rt(arr).to_pylist() == arr.to_pylist()


@settings(max_examples=60, deadline=None)
@given(hst.lists(
    hst.one_of(
        hst.none(),
        hst.dictionaries(hst.text(max_size=6),
                         hst.integers(-(2**31), 2**31 - 1), max_size=5),
    ),
    max_size=30,
))
def test_map_roundtrip_property(rows):
    arr = pa.array(
        [None if r is None else list(r.items()) for r in rows],
        type=pa.map_(pa.string(), pa.int64()))
    assert rt(arr).to_pylist() == arr.to_pylist()


@settings(max_examples=60, deadline=None)
@given(hst.lists(
    hst.one_of(hst.none(),
               hst.integers(-(10**17), 10**17)),
    max_size=40,
))
def test_decimal_roundtrip_property(ints):
    from decimal import Decimal

    rows = [None if v is None else Decimal(v) / 100 for v in ints]
    arr = pa.array(rows, type=pa.decimal128(18, 2))
    assert rt(arr).to_pylist() == arr.to_pylist()


@settings(max_examples=80, deadline=None)
@given(hst.lists(
    hst.one_of(hst.none(),
               hst.integers(-(10 ** 38) + 1, 10 ** 38 - 1),
               # cluster around the limb boundary where hi flips between
               # 0/-1 (sign extension) and a real second limb
               hst.integers(2 ** 63 - 4, 2 ** 63 + 4),
               hst.integers(-(2 ** 63) - 4, -(2 ** 63) + 4)),
    max_size=40,
))
def test_decimal38_two_limb_roundtrip_property(ints):
    """decimal(38, x) over the FULL 38-digit unscaled range (two-limb
    encoding): bit-exact roundtrip incl. nulls, both scales."""
    import decimal
    from decimal import Decimal

    # the default context rounds to 28 significant digits — widen it so
    # the 38-digit unscaled values stay exact through scaleb
    with decimal.localcontext() as ctx:
        ctx.prec = 60
        for scale in (0, 4):
            rows = [None if v is None else Decimal(v).scaleb(-scale)
                    for v in ints]
            arr = pa.array(rows, type=pa.decimal128(38, scale))
            assert rt(arr).to_pylist() == arr.to_pylist()


def test_decimal_null_slots_with_garbage_bytes():
    """Arrow permits arbitrary bytes under null slots (compute kernels /
    IPC produce them); the 64-bit range check must not fire on them."""
    import decimal
    import numpy as np
    import pyarrow as pa
    from zseq import column as C

    t = pa.decimal128(18, 2)
    vals = np.zeros(6, dtype=np.int64)  # 3 values x (lo, hi)
    vals[0], vals[1] = 12345, 0          # 123.45
    vals[2], vals[3] = -77, 12345678     # null slot: garbage hi word
    vals[4], vals[5] = -500, -1          # -5.00 (sign-extended)
    validity = pa.array([True, False, True]).buffers()[1]
    arr = pa.Array.from_buffers(
        t, 3, [validity, pa.py_buffer(vals.tobytes())])
    blob = C.encode_column(arr, {}, "d")
    out, _ = C.decode_column(memoryview(blob), 0, t, 3)
    assert out.to_pylist() == [
        decimal.Decimal("123.45"), None, decimal.Decimal("-5.00")]


# ---------------------------------------------------------------------------
# Enum (sum type) columns: tags + sparse per-variant children
# (reference striped.rs:340-387 shred, :617-657 unshred, binary.rs:332-344)
# ---------------------------------------------------------------------------

def _enum_type():
    import pyarrow as pa
    return pa.union([pa.field("i", pa.int64()), pa.field("s", pa.string())],
                    mode="dense", type_codes=[0, 3])


def _mk_enum(values):
    """Build a canonical dense union from [('i', v) | ('s', v)] pairs."""
    import pyarrow as pa
    codes, offs, ci, cs = [], [], [], []
    for tag, v in values:
        if tag == "i":
            codes.append(0); offs.append(len(ci)); ci.append(v)
        else:
            codes.append(3); offs.append(len(cs)); cs.append(v)
    return pa.UnionArray.from_dense(
        pa.array(codes, pa.int8()), pa.array(offs, pa.int32()),
        [pa.array(ci, pa.int64()), pa.array(cs, pa.string())],
        field_names=["i", "s"], type_codes=[0, 3])


def test_enum_roundtrip_basic():
    from zseq import column as C
    u = _mk_enum([("i", 5), ("s", "x"), ("i", -1), ("s", None), ("i", 0)])
    blob = C.encode_column(u, {}, "e")
    out, end = C.decode_column(memoryview(blob), 0, _enum_type(), len(u))
    assert end == len(blob)
    assert out.to_pylist() == u.to_pylist()


def test_enum_strict_decode_refuses_foreign_tag():
    import pyarrow as pa
    from zseq import column as C
    u = _mk_enum([("i", 1), ("s", "a")])
    blob = C.encode_column(u, {}, "e")
    other = pa.union([pa.field("i", pa.int64()),
                      pa.field("s", pa.string())],
                     mode="dense", type_codes=[0, 4])  # 3 not in target
    with pytest.raises(ValueError, match="enum"):
        C.decode_column(memoryview(blob), 0, other, len(u))


def test_enum_encode_refuses_unknown_tag():
    import pyarrow as pa
    from zseq import column as C
    t = _enum_type()
    # tag 5 is not a declared variant
    u = pa.UnionArray.from_dense(
        pa.array([0, 5], pa.int8()), pa.array([0, 0], pa.int32()),
        [pa.array([1], pa.int64()), pa.array(["a"], pa.string())],
        field_names=["i", "s"], type_codes=[0, 3])
    del t
    with pytest.raises((ValueError, KeyError)):
        C.encode_column(u, {}, "e")


def test_enum_sparse_mode_encodes_as_dense_layout():
    """Sparse unions normalize to the SAME on-disk layout as dense —
    one format, two Arrow ingestion modes (was a refusal before)."""
    import pyarrow as pa
    from zseq import column as C
    u = pa.UnionArray.from_sparse(
        pa.array([0, 1], pa.int8()),
        [pa.array([1, 2], pa.int64()), pa.array(["a", "b"], pa.string())])
    blob = C.encode_column(u, {}, "e")
    out, _ = C.decode_column(memoryview(blob), 0, u.type, len(u))
    assert out.to_pylist() == u.to_pylist()


@settings(max_examples=60, deadline=None)
@given(hst.lists(
    hst.one_of(
        hst.tuples(hst.just("i"),
                   hst.integers(-2**63, 2**63 - 1)),
        hst.tuples(hst.just("s"),
                   hst.one_of(hst.none(), hst.text(max_size=20))),
    ),
    max_size=200,
))
def test_enum_roundtrip_hypothesis(values):
    from zseq import column as C
    u = _mk_enum(values)
    blob = C.encode_column(u, {}, "e")
    out, end = C.decode_column(memoryview(blob), 0, _enum_type(), len(u))
    assert end == len(blob)
    assert out.to_pylist() == u.to_pylist()


def test_enum_decode_refuses_duplicate_variant():
    """A corrupt chunk storing the same variant twice must fail with the
    clean ValueError, not a pyarrow crash on a None child."""
    import struct as _s
    import numpy as np
    import pyarrow as pa
    from zseq import column as C
    from zseq.codecs import intcodecs as IC

    tseg = IC.encode_ints(np.array([0, 0], np.int64))
    child = C.encode_column(pa.array([1, 2], pa.int64()), {}, "x")
    var = (_s.pack("<b", 0) + _s.pack("<H", 1) + b"i"
           + _s.pack("<I", len(child)) + child)
    blob = _s.pack("<BB", C.K_ENUM, 0) + tseg + _s.pack("<H", 2) + var + var
    with pytest.raises(ValueError, match="duplicate"):
        C.decode_column(memoryview(blob), 0, _enum_type(), 2)


def test_enum_decode_refuses_out_of_int8_tag():
    """A stored tag outside int8 must raise, not alias into variant 0."""
    import struct as _s
    import numpy as np
    import pyarrow as pa
    from zseq import column as C
    from zseq.codecs import intcodecs as IC

    tseg = IC.encode_ints(np.array([256, 0], np.int64))
    child = C.encode_column(pa.array([1, 2], pa.int64()), {}, "x")
    var = (_s.pack("<b", 0) + _s.pack("<H", 1) + b"i"
           + _s.pack("<I", len(child)) + child)
    child_s = C.encode_column(pa.array(["a"], pa.string()), {}, "y")
    var_s = (_s.pack("<b", 3) + _s.pack("<H", 1) + b"s"
             + _s.pack("<I", len(child_s)) + child_s)
    blob = (_s.pack("<BB", C.K_ENUM, 0) + tseg + _s.pack("<H", 2)
            + var + var_s)
    with pytest.raises(ValueError, match="int8"):
        C.decode_column(memoryview(blob), 0, _enum_type(), 2)


def test_decimal38_hi_limb_is_near_free_for_small_values():
    """The two-limb claim: when every value fits int64 the high limb is
    pure sign extension, so widening a column's declared type from
    decimal(18) to decimal(38) costs only a few constant-run bytes."""
    from decimal import Decimal

    vals = [Decimal(i * 97 - 5000) / 100 for i in range(5000)]
    narrow = C.encode_column(pa.array(vals, type=pa.decimal128(18, 2)))
    wide = C.encode_column(pa.array(vals, type=pa.decimal128(38, 2)))
    assert len(wide) - len(narrow) < 64, (len(narrow), len(wide))


def test_decimal38_null_slot_garbage_deterministic_and_zone_exact():
    """Two-limb chunks with garbage bytes under null slots: encoded
    bytes are identical regardless of the garbage (nulls zeroed before
    the codecs), and zone bounds cover only VALID rows (the garbage must
    neither widen them nor leak into pruning)."""
    import decimal

    from zseq import zseqfile
    from zseq.zseqfile import ZseqReader

    t = pa.decimal128(38, 0)
    big = (123 << 64) + 456

    def make(garbage_lo, garbage_hi):
        vals = np.zeros(6, dtype=np.int64)
        vals[0], vals[1] = big & (2 ** 64 - 1), big >> 64   # value
        vals[2], vals[3] = garbage_lo, garbage_hi           # null slot
        vals[4], vals[5] = 7, 0                             # value 7
        validity = pa.array([True, False, True]).buffers()[1]
        return pa.Array.from_buffers(
            t, 3, [validity, pa.py_buffer(vals.tobytes())])

    a = make(0, 0)
    b = make(-1, 2 ** 62)
    assert C.encode_column(a, {}, "d") == C.encode_column(b, {}, "d")
    assert rt(b).to_pylist() == [decimal.Decimal(big), None,
                                 decimal.Decimal(7)]
    # zone bounds from the FILE layer: [7, big] despite huge garbage
    tbl = pa.table({"d": b})
    buf = zseqfile.encode_table(tbl)
    r = ZseqReader(buf)
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("d", ">", big)])), schema=r.schema)
    assert r.blocks_skipped == 1 and out.num_rows == 0
    r2 = ZseqReader(buf)
    out2 = pa.Table.from_batches(
        list(r2.batches(predicate=[("d", ">=", 7)])), schema=r2.schema)
    assert r2.blocks_read == 1 and out2.num_rows == 3


# ---------------------------------------------------------------------------
# decimal256: four-limb layout (precision 39-76)
# ---------------------------------------------------------------------------

def test_decimal256_roundtrip_and_boundaries():
    import decimal
    from decimal import Decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 90
        vals = [Decimal(10) ** 24, None, -(Decimal(10) ** 24),
                Decimal("9" * 76), Decimal("-" + "9" * 76),
                Decimal(0), Decimal(2) ** 63, Decimal(2) ** 127,
                Decimal(2) ** 191, -(Decimal(2) ** 191) - 1]
        arr = pa.array(vals, type=pa.decimal256(76, 0))
        assert rt(arr).to_pylist() == arr.to_pylist()
        scaled = pa.array([None if v is None else v.scaleb(-4)
                           for v in vals], type=pa.decimal256(76, 4))
        assert rt(scaled).to_pylist() == scaled.to_pylist()


def test_decimal256_low_precision_refused():
    from decimal import Decimal

    with pytest.raises(ValueError, match="fits decimal128"):
        C.encode_column(pa.array([Decimal("1")], type=pa.decimal256(20, 0)))


@settings(max_examples=60, deadline=None)
@given(hst.lists(
    hst.one_of(hst.none(),
               hst.integers(-(10 ** 76) + 1, 10 ** 76 - 1),
               # limb boundaries: hi flips between sign extension and
               # a real higher limb at 2^63 / 2^127 / 2^191
               hst.integers(2 ** 63 - 3, 2 ** 63 + 3),
               hst.integers(-(2 ** 127) - 3, -(2 ** 127) + 3),
               hst.integers(2 ** 191 - 3, 2 ** 191 + 3)),
    max_size=30,
))
def test_decimal256_four_limb_roundtrip_property(ints):
    import decimal
    from decimal import Decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 90
        for scale in (0, 6):
            rows = [None if v is None else Decimal(v).scaleb(-scale)
                    for v in ints]
            arr = pa.array(rows, type=pa.decimal256(76, scale))
            assert rt(arr).to_pylist() == arr.to_pylist()


def test_decimal256_sign_extension_is_cheap():
    """Small values in a decimal256 column cost barely more than in a
    decimal128 one: limbs l1-l3 are constant sign extension and the
    int pipeline collapses them."""
    from decimal import Decimal

    vals = [Decimal(i * 97 - 5000) / 100 for i in range(5000)]
    narrow = C.encode_column(pa.array(vals, type=pa.decimal128(18, 2)))
    wide = C.encode_column(pa.array(vals, type=pa.decimal256(76, 2)))
    # measured: the three sign-extension limbs cost ~48 B of fixed
    # segment overhead each on a 5000-row chunk (40 KB of raw limb
    # data each) — constant per chunk, not per row
    assert len(wide) - len(narrow) < 256, (len(narrow), len(wide))


def test_decimal256_null_garbage_deterministic_and_zone_exact():
    """Four-limb chunks: encoded bytes independent of garbage under null
    slots; zone bounds exact over valid rows and pruned by predicates
    whose literals exceed int64 (pure-python zone comparisons)."""
    import decimal

    from zseq import zseqfile
    from zseq.zseqfile import ZseqReader

    t = pa.decimal256(76, 0)
    big = (123 << 192) + (45 << 128) + (6 << 64) + 7

    def limbs(v):
        u = v & (2 ** 256 - 1)
        return [(u >> (64 * i)) & (2 ** 64 - 1) for i in range(4)]

    def s64(u):
        return u - 2 ** 64 if u >= 2 ** 63 else u

    def make(garbage):
        vals = np.zeros(12, dtype=np.int64)
        vals[0:4] = [s64(x) for x in limbs(big)]
        vals[4:8] = [s64(x) for x in limbs(garbage)]   # null slot
        vals[8:12] = [s64(x) for x in limbs(7)]
        validity = pa.array([True, False, True]).buffers()[1]
        return pa.Array.from_buffers(
            t, 3, [validity, pa.py_buffer(vals.tobytes())])

    a, b = make(0), make((2 ** 255) - 12345)
    assert C.encode_column(a, {}, "d") == C.encode_column(b, {}, "d")
    assert rt(b).to_pylist() == [decimal.Decimal(big), None,
                                 decimal.Decimal(7)]
    tbl = pa.table({"d": b})
    buf = zseqfile.encode_table(tbl)
    r = ZseqReader(buf)
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("d", ">", big)])), schema=r.schema)
    assert r.blocks_skipped == 1 and out.num_rows == 0
    r2 = ZseqReader(buf)
    out2 = pa.Table.from_batches(
        list(r2.batches(predicate=[("d", ">=", 7)])), schema=r2.schema)
    assert r2.blocks_read == 1 and out2.num_rows == 3


def test_decimal256_negative_zone_bounds():
    """Lexicographic multi-limb extremes with negative values: min/max
    must be the true signed extremes, not per-limb artifacts."""
    from decimal import Decimal

    from zseq import zseqfile
    from zseq.zseqfile import ZseqReader

    lo, hi = -(10 ** 50) - 3, 10 ** 45 + 9
    arr = pa.array([Decimal(lo), Decimal(0), Decimal(hi)],
                   type=pa.decimal256(76, 0))
    buf = zseqfile.encode_table(pa.table({"d": arr}))
    r = ZseqReader(buf)
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("d", "<", lo)])), schema=r.schema)
    assert r.blocks_skipped == 1 and out.num_rows == 0
    r2 = ZseqReader(buf)
    out2 = pa.Table.from_batches(
        list(r2.batches(predicate=[("d", "<=", lo)])), schema=r2.schema)
    assert r2.blocks_read == 1 and out2.num_rows == 3


def test_decimal256_size_oracle_and_parity():
    """The zbra size oracle covers decimal256 (four-limb struct mirror)
    and zseq's encoding stays within it."""
    from decimal import Decimal

    from zseq import oracle

    vals = [Decimal(10) ** 45 + i * 7 for i in range(2000)]
    tbl = pa.table({"d": pa.array(vals, type=pa.decimal256(76, 0))})
    zbra = oracle.table_column_sizes(tbl)["d"]
    ours = len(C.encode_column(tbl.column("d").combine_chunks(), {}, "d"))
    assert zbra > 0
    assert ours <= zbra, (ours, zbra)


# ---------------------------------------------------------------------------
# Sparse unions: normalized to the dense on-disk layout on encode,
# rebuilt as sparse (null padding) on decode
# ---------------------------------------------------------------------------

def _mk_sparse(pairs):
    """Sparse union from [('i', int) | ('s', str)] pairs: full-length
    children, padding = nulls under the other tag."""
    codes = pa.array([0 if k == "i" else 1 for k, _ in pairs], pa.int8())
    ints = pa.array([v if k == "i" else None for k, v in pairs],
                    pa.int64())
    strs = pa.array([v if k == "s" else None for k, v in pairs],
                    pa.string())
    return pa.UnionArray.from_sparse(codes, [ints, strs],
                                     field_names=["i", "s"],
                                     type_codes=[0, 1])


def test_sparse_union_roundtrip():
    u = _mk_sparse([("i", 5), ("s", "x"), ("i", -1), ("s", None),
                    ("i", 0), ("s", "yy")])
    blob = C.encode_column(u, {}, "e")
    out, end = C.decode_column(memoryview(blob), 0, u.type, len(u))
    assert end == len(blob)
    assert out.type.equals(u.type)       # still sparse
    assert out.to_pylist() == u.to_pylist()


def test_sparse_union_padding_invisible():
    """Two logically-equal sparse unions with DIFFERENT padding values
    under the inactive tags encode byte-identically (padding is not
    data), and both equal the dense encoding of the same values."""
    a = _mk_sparse([("i", 7), ("s", "q")])
    # same logical rows, garbage padding: ints[1]=999, strs[0]='junk'
    codes = pa.array([0, 1], pa.int8())
    ints = pa.array([7, 999], pa.int64())
    strs = pa.array(["junk", "q"], pa.string())
    b = pa.UnionArray.from_sparse(codes, [ints, strs],
                                  field_names=["i", "s"],
                                  type_codes=[0, 1])
    ea, eb = C.encode_column(a, {}, "e"), C.encode_column(b, {}, "e")
    assert ea == eb
    out, _ = C.decode_column(memoryview(eb), 0, a.type, len(a))
    assert out.to_pylist() == a.to_pylist() == [7, "q"]


def test_sparse_union_sliced():
    u = _mk_sparse([("i", 1), ("s", "a"), ("i", 2), ("s", "b"),
                    ("i", 3)])
    sl = u.slice(1, 3)
    blob = C.encode_column(sl, {}, "e")
    out, _ = C.decode_column(memoryview(blob), 0, u.type, len(sl))
    # NB: compared against literals, not sl.to_pylist() — pyarrow's
    # to_pylist misreads SLICED sparse unions ([None,None,None]); the
    # encoder handles the slice correctly (rows 1..3 of the parent)
    assert out.to_pylist() == ["a", 2, "b"]


def test_sparse_union_size_parity_vs_oracle():
    from zseq import oracle

    u = _mk_sparse([("i", i) if i % 3 else ("s", f"w{i}")
                    for i in range(500)])
    tbl = pa.table({"e": u})
    zbra = oracle.table_column_sizes(tbl)["e"]
    ours = len(C.encode_column(u, {}, "e"))
    assert ours <= zbra, (ours, zbra)


def _wide_ints(n: int) -> pa.Array:
    return pa.array(np.random.default_rng(0).integers(-2**62, 2**62, n))


def _enum(child: pa.Array) -> pa.Array:
    n = len(child)
    return pa.UnionArray.from_dense(
        pa.array([0] * n, pa.int8()), pa.array(range(n), pa.int32()),
        [child, pa.array([], pa.string())], ["big", "small"])


@pytest.mark.parametrize("kind,field", [
    ("struct", "struct child chunk length"),
    ("map", "map key chunk length"),
    ("enum", "enum child chunk length"),
])
def test_child_chunk_length_past_u32_limit_is_refused(monkeypatch, kind,
                                                      field):
    """A child chunk is longer than any segment inside it, so a limit of
    its length - 1 trips only the chunk's own u32 field."""
    from zseq.codecs import intcodecs as IC

    child = _wide_ints(1000)
    arr = {"struct": lambda: pa.StructArray.from_arrays([child], ["c"]),
           "map": lambda: pa.MapArray.from_arrays(
               pa.array([0, 1000], pa.int32()), child,
               pa.array([0] * 1000, pa.int8())),
           "enum": lambda: _enum(child)}[kind]()
    limit = len(C.encode_column(child)) - 1
    monkeypatch.setattr(IC, "LEN_LIMIT", limit)
    with pytest.raises(ValueError, match=f"{field} .* limit of {limit:,}"):
        C.encode_column(arr)


def test_validity_byte_count_past_u32_limit_is_refused(monkeypatch):
    from zseq.codecs import intcodecs as IC

    arr = pa.array([None if i % 3 else i for i in range(1000)], pa.int64())
    monkeypatch.setattr(IC, "LEN_LIMIT", 124)
    with pytest.raises(ValueError,
                       match="validity byte count 125 .* limit of 124"):
        C.encode_column(arr)


# ---------------------------------------------------------------------------
# Byte pins: the decimal limb layouts and the temporal types encode to
# these exact chunks, stats and zone maps; a change to any of them is a
# format change. Eleven pins moved once, when a declined PACK wrap gained
# its FORBP retry: each of those chunks' first int segment became a
# smaller zstd_wrap of FORBP (dec12 15,389 -> 13,751 B, dur_s 15,389 ->
# 13,739, time64_ns 17,639 -> 15,439, ts_ms_utc 16,889 -> 14,845, the
# dec18/38/76 low limbs about 220 B smaller), with the same values.
# Twelve moved again when one sample ordered a bit-packed chunk's wrap
# layouts (the PACK's own wrap among them), every chunk smaller: first
# int segment dec12 13,751 -> 13,671, dur_s 13,739 -> 13,664, time64_ns
# 15,439 -> 15,425, ts_ms_utc 14,845 -> 14,840, ts_us 14,607 -> 9,519,
# the dec18/38/76 low limbs 19,770/19,789/19,783 -> 19,620/19,634/19,625,
# and the dec38/76 high-limb dictionary segments 3,682 -> 3,474 B and
# the like (dec76 chunk 31,100 -> 30,404); the slices likewise.
# ---------------------------------------------------------------------------

def _pin_arrays() -> dict[str, pa.Array]:
    """Decimals at 1, 2 and 4 limbs and the temporal types, each with
    nulls over garbage buffer bytes; the decimals also sliced."""
    rng = np.random.default_rng(17)
    n = 3000
    valid = rng.random(n) > 0.2
    vbits = pa.array(valid).buffers()[1]

    def build(t, vals):
        info = np.iinfo(vals.dtype)
        vals[~valid] = rng.integers(info.min, info.max, vals.shape,
                                    dtype=vals.dtype)[~valid]
        return pa.Array.from_buffers(t, n, [vbits, pa.py_buffer(vals)])

    out = {}
    for name, t, digits in (("dec12", pa.decimal128(12, 2), 12),
                            ("dec18", pa.decimal128(18, 0), 18),
                            ("dec38", pa.decimal128(38, 0), 38),
                            ("dec76", pa.decimal256(76, 10), 76)):
        limbs = np.empty((n, t.bit_width // 64), np.int64)
        limbs[:, 0] = rng.integers(-(10 ** min(digits, 18)) + 1,
                                   10 ** min(digits, 18), n)
        limbs[:, 1:] = limbs[:, :1] >> 63
        if digits > 18:  # every 7th value needs the high limbs
            limbs[::7, 1:] = rng.integers(-(2**40), 2**40,
                                          limbs[::7, 1:].shape)
        arr = build(t, limbs)
        out[name] = arr
        out[name + "_slice"] = arr.slice(5, n - 12)
    day = 86_400
    for name, t, vals in (
            ("ts_us", pa.timestamp("us"),
             1_700_000_000_000_000 + np.cumsum(rng.integers(0, 10**6, n))),
            ("ts_ms_utc", pa.timestamp("ms", tz="UTC"),
             rng.integers(0, 2**45, n)),
            ("date32", pa.date32(), rng.integers(0, 50_000, n)),
            ("date64", pa.date64(), rng.integers(0, 50_000, n) * day * 1000),
            ("time32_s", pa.time32("s"), rng.integers(0, day, n)),
            ("time64_ns", pa.time64("ns"), rng.integers(0, day * 10**9, n)),
            ("dur_s", pa.duration("s"), rng.integers(-(2**40), 2**40, n))):
        out[name] = build(t, vals.astype(f"i{t.bit_width // 8}"))
    return out


_PINS = {
    "date32":
        "d429d23a5ecf51fedbd8a49bf4285f9b2ecd27886366faf065b7efe9826d8b72",
    "date64":
        "1f87955c81b2673c4d916a4521c55fd0ae46166972fec3c2277c45b3f21d9ac8",
    "dec12":
        "a4d1b6ef05847107e7d1c5bf945381aa096eb23a77e00c5c973b0b03b60df2a1",
    "dec12_slice":
        "d9dc0b723735cb5c6269f628c6e260c0ed178900caff2a423f28b72f005484ae",
    "dec18":
        "19cfe15e5885620f5f8d42d079e81ae5a2d76e15fd726259d12f2d1749da3c03",
    "dec18_slice":
        "c25ee39b7f1230b7db16dec3e8ee080c8f9f0a4b615928eb1a33d67ea7e2896d",
    "dec38":
        "671d01a6bb2f1ce3fdd3835e534edd2e02b6fc8137ab760cb5360fd4826159d3",
    "dec38_slice":
        "e4338a5ad812b7c0792f203b8f90b99dca91efaa8ff65aaa5288b2a27be63eff",
    "dec76":
        "6fa5bbc2c68dbea0c3ea8fdd6ce0d0e66b6a4672d0c441ebbaa48ea2ae4dcbe6",
    "dec76_slice":
        "08b92e2cc145ed41c107595021a7fda51f1eb3e36d55ee3bea62d45a61730470",
    "dur_s":
        "24cac0e78fc833438353a04d3f15a03d6dfd3c35316f5bdf5135f934e2974820",
    "time32_s":
        "1074a925c112a102713e16182004af39f562caf04512fcf6ded177ef8dfd56f2",
    "time64_ns":
        "dc8264ac21cffc5f438c99180ba23096baaab45d0a567c38fc3e19ada3d386ba",
    "ts_ms_utc":
        "da829020c01272c62dc00f31ed437a56a08a5889b7d4424d4bef705b45b5aa0c",
    "ts_us":
        "6d09e18a80189661bc3956ba93035b238c8679a3279bfc14020f24f489fb4fd3",
}


@pytest.mark.parametrize("name", sorted(_PINS))
def test_decimal_and_temporal_chunks_match_pinned_bytes(name):
    import hashlib

    arr = _pin_arrays()[name]
    h = hashlib.sha256()
    for zone in (False, True):
        stats = {}
        chunk = C.encode_column(arr, stats, "c", zone=zone)
        h.update(chunk)
        h.update(repr(stats).encode())
        h.update(repr(C.chunk_stats(chunk, 0, len(arr))).encode())
        dec, pos = C.decode_column(chunk, 0, arr.type, len(arr))
        assert pos == len(chunk) and dec.to_pylist() == arr.to_pylist()
    assert h.hexdigest() == _PINS[name]


def test_dec12_keeps_the_whole_pack_wrap_its_rule_accepts(monkeypatch):
    """The dec12 pin array's first int segment: a 41-bit PACK of 3,000
    values (15,389 B) whose whole zstd is 0.887 of it. The 0.9 rule keeps
    that wrap (13,671 B); a 64 KiB prefix trial gating at 0.85 declined
    it and wrote a 13,751 B FORBP wrap instead."""
    from zseq.codecs import intcodecs as IC

    segs = []
    encode_ints = IC.encode_ints

    def recorded(values, codec=None, exclude=frozenset()):
        segs.append(encode_ints(values, codec, exclude))
        return segs[-1]

    monkeypatch.setattr(IC, "encode_ints", recorded)
    C.encode_column(_pin_arrays()["dec12"])
    [seg] = segs  # one limb, no nested segment
    assert seg[0] == IC.T_WRAP and len(seg) <= 13_671, len(seg)


def test_decimal18_value_past_64_bits_is_refused():
    """The one-limb layout stores only the low word, so a valid slot
    whose high word is not its sign extension cannot be stored."""
    vals = np.array([5, 0, 7, 1], dtype=np.int64)  # 7 + 2^64
    arr = pa.Array.from_buffers(pa.decimal128(18, 0), 2,
                                [None, pa.py_buffer(vals)])
    with pytest.raises(ValueError, match="exceeds 64-bit range"):
        C.encode_column(arr)


def test_interval_type_is_refused():
    """``pa.types.is_temporal`` holds for intervals, but they have no
    int storage layout here."""
    arr = pa.array([pa.MonthDayNano([1, 2, 3]), None],
                   pa.month_day_nano_interval())
    with pytest.raises(NotImplementedError, match="month_day_nano"):
        C.encode_column(arr)
