"""Codec-primitive property tests, mirroring the reference's proptest suite
(/root/reference/zbra-core/src/compression.rs:378-406, 1000/256 cases) and
its checked-in shrunk regression seeds
(/root/reference/zbra-core/proptest-regressions/compression.txt)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from zseq.codecs import primitives as P

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
U64 = st.integers(min_value=0, max_value=2**64 - 1)

# Shrunk failing cases checked into the reference repo — midpoint-overflow
# neighborhoods (proptest-regressions/compression.txt:7-11).
REGRESSION_SEEDS = [
    [4611686018427387904],
    [0, -1152921504606846976],
    [0, 0, -2049638230412172401],
    [2**63 - 1, -(2**63)],
    [-(2**63), -(2**63), 2**63 - 1],
    [0],
    [],
]


def _arr(values):
    return np.array(values, dtype=np.int64)


@pytest.mark.parametrize("seed", REGRESSION_SEEDS)
def test_regression_seeds_full_pipeline(seed):
    arr = _arr(seed)
    enc = P.zbra_compress_int_array(arr)
    dec = P.zbra_decompress_int_array(enc, arr.size)
    assert np.array_equal(dec, arr)


@pytest.mark.parametrize("seed", REGRESSION_SEEDS)
def test_regression_seeds_for(seed):
    arr = _arr(seed)
    mid, deltas = P.for_encode(arr)
    assert np.array_equal(P.for_decode(mid, deltas), arr)


@settings(max_examples=300, deadline=None)
@given(st.lists(I64, max_size=100))
def test_for_property(values):
    arr = _arr(values)
    mid, deltas = P.for_encode(arr)
    assert np.array_equal(P.for_decode(mid, deltas), arr)


@settings(max_examples=300, deadline=None)
@given(st.lists(I64, max_size=100))
def test_zigzag_property(values):
    arr = _arr(values)
    zz = P.zigzag_encode(arr)
    assert np.array_equal(P.zigzag_decode(zz), arr)


@settings(max_examples=300, deadline=None)
@given(st.lists(U64, max_size=100))
def test_bp64_property(values):
    arr = np.array(values, dtype=np.uint64)
    packed = P.bp64_pack(arr)
    assert np.array_equal(P.bp64_unpack(packed, arr.size), arr)


@settings(max_examples=300, deadline=None)
@given(st.lists(I64, max_size=100))
def test_full_pipeline_property(values):
    arr = _arr(values)
    enc = P.zbra_compress_int_array(arr)
    dec = P.zbra_decompress_int_array(enc, arr.size)
    assert np.array_equal(dec, arr)
    assert P.zbra_compressed_size(arr) == len(enc)


def test_zigzag_small_values():
    # docs/compression-pipeline.md semantics: -1 -> 1, 1 -> 2 etc.
    arr = _arr([0, -1, 1, -2, 2])
    assert list(P.zigzag_encode(arr)) == [0, 1, 2, 3, 4]


def test_bp64_width_fallback():
    """The reference's 32-bit efficiency cliff
    (compression.rs:143-149; tests/compression-pipeline.rs:109-116):
    <=32-bit values compress >2x, >32-bit values fall back to ~1x."""
    small = np.arange(64, dtype=np.uint64)  # 6-bit
    packed = P.bp64_pack(small)
    assert len(packed) < 64 * 8 / 2
    big = (np.arange(64, dtype=np.uint64) + (1 << 40))
    packed_big = P.bp64_pack(big)
    assert len(packed_big) == 1 + 64 * 8  # raw fallback


def test_bp64_truncated_is_strict():
    arr = np.arange(100, dtype=np.uint64)
    packed = P.bp64_pack(arr)
    with pytest.raises(ValueError):
        P.bp64_unpack(packed[: len(packed) // 2], arr.size)


def test_hourly_timestamps_ratio():
    """Documented-claims test (tests/compression-pipeline.rs:226-229,
    269-278): a week of hourly ms timestamps near year 2100 — FOR brings
    42-bit raw values to <=30-bit deltas and the pipeline beats 1.5x."""
    base = 4102444800000 - 7 * 24 * 3600 * 1000
    ts = base + np.arange(168, dtype=np.int64) * 3600 * 1000
    assert int(ts.max()).bit_length() >= 42
    mid, deltas = P.for_encode(ts)
    zz = P.zigzag_encode(deltas)
    assert int(zz.max()).bit_length() <= 30
    enc = P.zbra_compress_int_array(ts)
    assert 168 * 8 / len(enc) > 1.5


# ---------------------------------------------------------------------------
# Round-6 optimization: the tree-combine pack_width fast path must stay
# byte-identical to the lane reference (_pack_width_lanes) for every
# width, size, and input dtype it accepts.
# ---------------------------------------------------------------------------

def _pack_width_lanes(u: np.ndarray, width: int) -> bytes:
    """Reference lane implementation (any width), in one piece: groups
    of 8 values go into little-endian uint64 lanes with one strided pass
    per value position. The byte-layout oracle of ``pack_width``."""
    n = u.size
    if n == 0 or width == 0:
        return b""
    ngroups = (n + 7) // 8
    g = np.zeros(ngroups * 8, dtype=np.uint64)
    g[:n] = u
    g = g.reshape(ngroups, 8)
    nlanes = (8 * width + 63) // 64
    lanes = np.zeros((ngroups, nlanes), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in range(8):
            lane, off = divmod(k * width, 64)
            lanes[:, lane] |= g[:, k] << np.uint64(off)
            if off + width > 64:
                lanes[:, lane + 1] |= g[:, k] >> np.uint64(64 - off)
    by = lanes.view("<u8").view(np.uint8).reshape(ngroups, nlanes * 8)
    out = np.ascontiguousarray(by[:, :width]).reshape(-1)
    return out[: (n * width + 7) // 8].tobytes()


@pytest.mark.parametrize("width", list(range(1, 36)) + [40, 63, 64])
def test_pack_width_tree_matches_lanes(width):
    rng = np.random.default_rng(width)
    hi = min(1 << width, 2**63)
    for n in (0, 1, 7, 8, 9, 63, 64, 65, 1024, 1025, 4096):
        u = rng.integers(0, hi, size=n, dtype=np.uint64)
        got = P.pack_width(u, width)
        want = _pack_width_lanes(u, width)
        assert got == want, (width, n)
        if n:
            assert np.array_equal(P.unpack_width(got, n, width), u)


@pytest.mark.parametrize("width,dt", [(5, np.uint8), (8, np.uint8),
                                      (11, np.uint16), (16, np.uint16),
                                      (21, np.uint32), (31, np.uint32),
                                      (32, np.uint32)])
def test_pack_width_narrow_dtype_input(width, dt):
    rng = np.random.default_rng(width)
    u = rng.integers(0, 1 << width, size=1000, dtype=np.uint64)
    assert P.pack_width(u.astype(dt), width) == _pack_width_lanes(u, width)


@pytest.mark.parametrize("width", range(1, 65))
def test_pack_width_pieces_match_lanes(width):
    """Packed in pieces of PACK_PIECE values, into one new buffer or into
    a given ``out``, the bytes are the one-piece lane oracle's: on both
    sides of a piece boundary and with a partial last group."""
    rng = np.random.default_rng(200 + width)
    hi = 1 << width
    for n in (0, 7, 8, 65_535, 65_536, 65_537, 200_003):
        u = rng.integers(0, hi, size=n, dtype=np.uint64) if width < 64 \
            else rng.integers(0, 2**64, size=n, dtype=np.uint64)
        want = _pack_width_lanes(u, width)
        assert P.pack_width(u, width) == want, (width, n)
        out = np.full(len(want), 0xA5, dtype=np.uint8)
        assert P.pack_width(u, width, out=out) is out
        assert out.tobytes() == want, (width, n)
    with pytest.raises(ValueError, match="out must hold"):
        P.pack_width(u, width, out=np.empty(len(want) + 1, np.uint8))


# ---------------------------------------------------------------------------
# One-pass unpack (strided windows straight to uint32) must match the lane
# reference at every width it serves, whatever buffer the payload sits in.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("width", range(1, 33))
def test_unpack_width_matches_lanes(width):
    rng = np.random.default_rng(100 + width)
    for n in (0, 1, 7, 8, 9, 1023, 1024, 1025, 65537):
        u = rng.integers(0, 1 << width, size=n, dtype=np.uint64)
        packed = P.pack_width(u, width)
        want = P._unpack_width_lanes(packed, n, width)
        assert np.array_equal(want, u)
        # exact-size bytes; a slice followed by 0xFF bytes (windows past
        # the payload must not leak them); a slice at an odd offset
        ff = memoryview(packed + b"\xff" * 16)[:len(packed)]
        odd = memoryview(b"\x00" + packed + b"\x00")[1:len(packed) + 1]
        for buf in (packed, ff, odd):
            got = P.unpack_width(buf, n, width)
            assert got.dtype == np.uint32
            assert np.array_equal(got, want), (width, n)
        for dt in (np.uint32, np.uint64):
            out = np.full(n + 2, 7, dtype=dt)
            res = P.unpack_width(odd, n, width, out=out[1:n + 1])
            assert np.shares_memory(res, out) or n == 0
            assert np.array_equal(out[1:n + 1], want)
            assert out[0] == 7 and out[-1] == 7  # nothing written outside
        if n:
            with pytest.raises(ValueError):
                P.unpack_width(packed[:-1], n, width)
