"""Roundtrip + strictness tests for every int codec and the auto-selector."""

import itertools
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from zseq import select
from zseq.codecs import bytescodecs as BC
from zseq.codecs import intcodecs as IC

ALL_CODECS = [IC.T_RAW, IC.T_ZBRA, IC.T_PACK, IC.T_FORBP, IC.T_DELTA,
              IC.T_DICT, IC.T_RLE, IC.T_WSYM]

CASES = {
    "sequential": np.arange(10000, dtype=np.int64) * 3 + 7,
    "random_wide": np.random.default_rng(1).integers(-(2**62), 2**62, 3000),
    "small_range": np.random.default_rng(2).integers(0, 250, 5000),
    "repetitive": np.repeat(np.random.default_rng(3).integers(0, 5, 200), 50),
    "constant": np.full(777, -42, dtype=np.int64),
    "clustered_ts": 1640995200000
    + np.random.default_rng(4).integers(0, 3600, 8000).astype(np.int64),
    "int64_edges": np.array(
        [2**63 - 1, -(2**63), 0, -1, 1, 4611686018427387904,
         -1152921504606846976], dtype=np.int64),
    "single": np.array([5], dtype=np.int64),
    "two": np.array([-(2**63), 2**63 - 1], dtype=np.int64),
}


def _byte_width_inputs(lo: int) -> dict[int, np.ndarray]:
    """Arrays whose PACK width is exactly 8, 16 and 32 bits above ``lo``
    (both extremes present), read in place by the byte-width decode."""
    rng = np.random.default_rng(8)
    return {w: lo + np.concatenate(
        ([0, 2**w - 1], rng.integers(0, 2**w, 3000))).astype(np.int64)
        for w in (8, 16, 32)}


# int64 domain: the 32-bit case sits past the int32 range
for _w, _a in _byte_width_inputs(2**40).items():
    CASES[f"pack_width{_w}"] = _a


@pytest.mark.parametrize("name", CASES)
@pytest.mark.parametrize("codec", ALL_CODECS)
def test_forced_codec_roundtrip(name, codec):
    arr = CASES[name]
    if codec == IC.T_DELTA and arr.size < 2:
        pytest.skip("delta needs >=2 values")
    enc = IC.encode_ints(arr, codec=codec)
    dec, pos = IC.decode_ints(enc, 0, arr.size)
    assert pos == len(enc)
    assert np.array_equal(dec, arr)


@pytest.mark.parametrize("name", CASES)
def test_auto_roundtrip_and_never_worse_than_raw_plus_slack(name):
    arr = CASES[name]
    enc = IC.encode_ints(arr)
    dec, _ = IC.decode_ints(enc, 0, arr.size)
    assert np.array_equal(dec, arr)
    assert len(enc) <= arr.size * 8 + 64 + arr.size  # sane upper bound


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                max_size=300))
def test_auto_property(values):
    arr = np.array(values, dtype=np.int64)
    enc = IC.encode_ints(arr)
    dec, pos = IC.decode_ints(enc, 0, arr.size)
    assert pos == len(enc)
    assert np.array_equal(dec, arr)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200),
    st.sampled_from(ALL_CODECS),
)
def test_every_codec_property(values, codec):
    arr = np.array(values, dtype=np.int64)
    if codec == IC.T_DELTA and arr.size < 2:
        return
    enc = IC.encode_ints(arr, codec=codec)
    dec, _ = IC.decode_ints(enc, 0, arr.size)
    assert np.array_equal(dec, arr)


def test_selector_picks_sensibly():
    assert IC.encode_ints(CASES["constant"])[0] == IC.T_CONST
    assert IC.encode_ints(CASES["sequential"])[0] == IC.T_DELTA
    assert IC.encode_ints(CASES["repetitive"])[0] == IC.T_RLE
    # small-range data must land on something bit-packing-shaped
    assert IC.encode_ints(CASES["small_range"])[0] in (
        IC.T_FORBP, IC.T_PACK, IC.T_ZBRA)


def test_selected_size_beats_zbra_on_all_compressible_cases():
    """The engine's whole point: per-column output <= the reference
    pipeline's bytes on the same data (within segment-header slack)."""
    for name, arr in CASES.items():
        ours = len(IC.encode_ints(arr))
        zbra = len(IC.encode_ints(arr, codec=IC.T_ZBRA))
        assert ours <= zbra + 16, (name, ours, zbra)


def test_truncated_segment_raises():
    enc = IC.encode_ints(np.arange(1000))
    with pytest.raises(ValueError):
        IC.decode_ints(enc[: len(enc) - 5], 0, 1000)


def test_rle_bad_lengths_raises():
    import struct

    vals = IC.encode_ints(np.array([1, 2]), codec=IC.T_RAW)
    lens = IC.encode_ints(np.array([3, 4]), codec=IC.T_RAW)
    payload = struct.pack("<I", 2) + vals + lens
    seg = IC.HEADER.pack(IC.T_RLE, len(payload)) + payload
    with pytest.raises(ValueError):
        IC.decode_ints(seg, 0, 5)


def test_stats_and_prediction_shapes():
    arr = CASES["clustered_ts"]
    st_ = select.int_stats(arr)
    assert st_.n == arr.size
    sizes = select.predict_int_sizes(st_)
    assert IC.T_FORBP in sizes and sizes[IC.T_FORBP] > 0


def test_segment_zone_short_payload_returns_none():
    """Corrupt/short payloads must disable pruning (None), not silently
    yield wrong bounds that would skip live blocks."""
    import struct as _s
    import numpy as np
    from zseq.codecs import intcodecs as IC

    vals = np.arange(1000, dtype=np.int64) * 3
    seg = IC.encode_ints(vals, codec=IC.T_FORBP)
    assert IC.segment_zone(seg, 0, vals.size) is not None
    tag, plen = IC.HEADER.unpack_from(seg, 0)
    # keep only the mini-count, drop the per-mini headers
    short = IC.HEADER.pack(tag, 2) + bytes(seg[IC.HEADER.size:
                                              IC.HEADER.size + 2])
    assert IC.segment_zone(short, 0, vals.size) is None
    for t in (IC.T_CONST, IC.T_PACK, IC.T_DELTA, IC.T_DICT, IC.T_WRAP):
        assert IC.segment_zone(IC.HEADER.pack(t, 0), 0, 10) is None


def test_selector_not_fooled_by_sub_stride_oscillation():
    """Adjacent ±big oscillation with period smaller than the strided
    sample step: per-window adjacent deltas must expose the true delta
    width so DELTA's predicted size isn't a fantasy (strided diffs used
    to read it as smooth)."""
    import numpy as np

    n = 2_000_000
    base = np.arange(n, dtype=np.int64) // 1000      # slow upward drift
    osc = np.where(np.arange(n) % 2 == 0, 0, 1_000_000)
    arr = base + osc
    st = select.int_stats(arr)
    assert st.delta_bits >= 20, st.delta_bits   # ~2e6 zigzag ≈ 21 bits
    chosen = select.select_int_codec(arr)
    assert chosen != IC.T_DELTA, IC.INT_CODEC_NAMES[chosen]
    # and the honest pick must still roundtrip
    enc = IC.encode_ints(arr)
    dec, _ = IC.decode_ints(enc, 0, n)
    assert np.array_equal(dec, arr)


def test_const_strict_payload_size():
    """T_CONST payloads must be exactly 8 bytes — a truncated payload
    would silently decode to a wrong value."""
    import struct as _st

    seg = IC.encode_ints(np.full(5, 42, dtype=np.int64))
    tag, plen = _st.unpack_from("<BI", seg, 0)
    assert tag == IC.T_CONST and plen == 8
    bad = bytes([tag]) + _st.pack("<I", 3) + seg[5:8]
    with pytest.raises(ValueError, match="const"):
        IC.decode_ints(bad, 0, 5)


# ---------------------------------------------------------------------------
# Round-6 optimization: the int32 decode path (decode_ints dtype=np.int32)
# must match the int64 path truncated with astype(int32) for every codec,
# and roundtrip int32 inputs exactly.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("tag", [None, IC.T_RAW, IC.T_ZBRA, IC.T_PACK,
                                 IC.T_FORBP, IC.T_DELTA, IC.T_DICT,
                                 IC.T_RLE, IC.T_WSYM])
def test_decode_ints_narrow_matches_int64(tag, monkeypatch):
    rng = np.random.default_rng(17)
    byte_width = _byte_width_inputs(-(2**31))
    for a in (rng.integers(-(2**31), 2**31, 5000),
              rng.integers(0, 200, 5000),
              np.repeat(rng.integers(0, 9, 200), rng.integers(1, 30, 200)),
              np.sort(rng.integers(-(2**31), 2**31, 1025)),
              np.array([-(2**31), 2**31 - 1, 0, -1]),
              rng.integers(-3, 3, 2),
              *byte_width.values()):
        a32 = a.astype(np.int32)
        seg = IC.encode_ints(a32, codec=tag)
        d64, p64 = IC.decode_ints(seg, 0, a32.size)
        d32, p32 = IC.decode_ints(seg, 0, a32.size, np.int32)
        assert p64 == p32
        assert d32.dtype == np.int32
        assert np.array_equal(d32, d64.astype(np.int32))
        assert np.array_equal(d32, a32)
        if tag == IC.T_FORBP:
            # mini sizes whose minis are not byte-aligned for most widths
            # take the per-mini branch of both decoders
            for mini in (5, 13):
                with monkeypatch.context() as m:
                    m.setattr(IC, "MINI", mini)
                    payload = memoryview(IC._enc_forbp(a32))
                assert struct.unpack_from("<H", payload)[0] == mini
                w64 = IC._dec_forbp(payload, a32.size)
                w32 = IC._dec_forbp(payload, a32.size, narrow=True)
                assert w32.dtype == np.int32
                assert np.array_equal(w32, w64.astype(np.int32))
                assert np.array_equal(w32, a32)
    if tag == IC.T_PACK:
        # byte widths are read in place, without the bit-unpack kernel
        def no_unpack(*_args, **_kw):
            raise AssertionError("unpack_width called for a byte width")

        monkeypatch.setattr(IC.P, "unpack_width", no_unpack)
        for w, a in byte_width.items():
            a32 = a.astype(np.int32)
            seg = IC.encode_ints(a32, codec=IC.T_PACK)
            assert seg[IC.HEADER.size + 8] == w
            d64, _ = IC.decode_ints(seg, 0, a32.size)
            d32, _ = IC.decode_ints(seg, 0, a32.size, np.int32)
            assert np.array_equal(d64, a) and np.array_equal(d32, a32)


def test_decode_ints_narrow_const():
    seg = IC.encode_ints(np.full(100, -7, dtype=np.int32),
                         codec=IC.T_CONST)
    d32, _ = IC.decode_ints(seg, 0, 100, np.int32)
    assert d32.dtype == np.int32 and (d32 == -7).all()


# ---------------------------------------------------------------------------
# Byte-aligned wrap retry: a PACK at a non-byte width hides repeats from
# zstd (LZ matches whole bytes); a declined wrap is retried at the next
# byte width, zstd'd whole.
# ---------------------------------------------------------------------------

def _phase_shifted_repeats() -> np.ndarray:
    """4096-value rows cut from one 31-bit pseudo-random sequence. Row k
    starts at 1000k + 1 + k % 7 (never a multiple of 8), so any two rows
    that share values hold them 1-6 (mod 8) positions apart in the stream:
    packed at 31 bits, every repeat starts at another bit phase."""
    base = np.random.default_rng(31).integers(0, 2**31, 260_000)
    rows = [base[1000 * k + 1 + k % 7:][:4096] for k in range(256)]
    return np.concatenate(rows).astype(np.int32)


@pytest.mark.parametrize("lo", [0, 2**40], ids=["int32", "int64"])
def test_wrap_retry_at_byte_width_finds_phase_shifted_repeats(lo):
    a = _phase_shifted_repeats()
    if lo:
        a = a.astype(np.int64) + lo
    pack = IC.encode_ints(a, codec=IC.T_PACK)
    assert pack[IC.HEADER.size + 8] == 31
    seg = IC.encode_ints(a)
    assert seg[0] == IC.T_WRAP
    assert len(seg) <= 0.5 * len(pack), (len(seg), len(pack))
    d64, pos = IC.decode_ints(seg, 0, a.size)
    assert pos == len(seg)
    assert np.array_equal(d64, a)
    if not lo:
        d32, _ = IC.decode_ints(seg, 0, a.size, np.int32)
        assert np.array_equal(d32, a)
    # zone bounds come from the 31-bit PACK, not the 32-bit inner segment
    assert IC.segment_zone(seg, 0, a.size) == IC.segment_zone(pack, 0, a.size)


def test_wrap_retry_does_not_grow_random_values():
    a = np.random.default_rng(17).integers(0, 2**17, 200_000).astype(np.int32)
    pack = IC.encode_ints(a, codec=IC.T_PACK)
    assert pack[IC.HEADER.size + 8] == 17
    assert IC.encode_ints(a) == pack


# ---------------------------------------------------------------------------
# The one-pass unpack returns uint32 and writes into the caller's array:
# int64 consumers must widen explicitly (under numpy 1.x, a uint32 array
# plus a uint64 scalar stays uint32, and a later view(int64) halves it).
# ---------------------------------------------------------------------------

def _pinned_width(width: int, lo: int = -(2**31),
                  n: int = 3 * IC.MINI + 77) -> np.ndarray:
    """int64 values with every FORBP mini (the partial tail too) and the
    whole array spanning exactly ``width`` bits above ``lo``."""
    u = np.random.default_rng(width).integers(0, 1 << width, n)
    u[::IC.MINI] = 0
    u[1::IC.MINI] = (1 << width) - 1
    return u + lo


@pytest.mark.parametrize("tag", [IC.T_PACK, IC.T_FORBP])
@pytest.mark.parametrize("width", range(1, 33))
def test_forced_width_decodes_to_int64_and_int32(tag, width):
    # lo = 0 keeps every min small enough for the numpy 1.x trap
    for lo in (0, -(2**31)):
        a = _pinned_width(width, lo)
        fits32 = a.max() < 2**31
        for arr in (a, a.astype(np.int32)) if fits32 else (a,):
            seg = IC.encode_ints(arr, codec=tag)
            if tag == IC.T_PACK:
                assert seg[IC.HEADER.size + 8] == width
            else:
                heads = np.frombuffer(seg, np.uint8, 4 * 9,
                                      IC.HEADER.size + 2)
                assert (heads.reshape(4, 9)[:, 8] == width).all()
            for dt in (np.int64, np.int32):
                got, pos = IC.decode_ints(seg, 0, a.size, dt)
                assert pos == len(seg)
                assert got.dtype == dt and got.shape == (a.size,)
                assert np.array_equal(got, a.astype(dt))


@pytest.mark.parametrize("tag", [IC.T_PACK, IC.T_FORBP])
def test_narrow_decode_never_takes_lane_path(tag, monkeypatch):
    """An int32 PACK/FORBP column at widths <= 32 decodes with the
    one-pass kernel, reached through ``P.unpack_width``."""
    def no_lanes(*_args, **_kw):
        raise AssertionError("lane unpack called for a width <= 32")

    calls = []
    unpack = IC.P.unpack_width

    def counted(*args, **kw):
        calls.append(args[2])
        return unpack(*args, **kw)

    monkeypatch.setattr(IC.P, "_unpack_width_lanes", no_lanes)
    monkeypatch.setattr(IC.P, "unpack_width", counted)
    for width in range(1, 33):
        a32 = _pinned_width(width).astype(np.int32)
        seg = IC.encode_ints(a32, codec=tag)
        got, _ = IC.decode_ints(seg, 0, a32.size, np.int32)
        assert np.array_equal(got, a32)
        assert (width in calls) == (tag == IC.T_FORBP
                                    or width not in IC._BYTE_WIDTHS)


# ---------------------------------------------------------------------------
# The auto path of a bit-packed chunk builds only what it tries or keeps.
# Oracle: the same rule with every candidate built whole and zstd'd whole,
# in the same order, from compositions kept here verbatim.
# ---------------------------------------------------------------------------

def _eager_wrap(seg: bytes, count: int) -> bytes:
    if len(seg) < 128:
        return seg
    trial = seg if len(seg) <= 65536 else memoryview(seg)[:65536]
    comp_trial = BC.zstd_compress(trial)
    if len(comp_trial) > 0.85 * len(trial):
        return seg
    comp = comp_trial if trial is seg else BC.zstd_compress(seg)
    return IC._wrapped(seg, count, len(seg), comp, len(seg)) or seg


def _eager_repack(arr: np.ndarray, seg: bytes, wide: int) -> np.ndarray:
    head = IC.HEADER.size + 9
    inner = np.empty(head + arr.size * (wide // 8), dtype=np.uint8)
    inner[:head] = np.frombuffer(seg, np.uint8, head)
    IC.HEADER.pack_into(inner, 0, IC.T_PACK, inner.size - IC.HEADER.size)
    inner[head - 1] = wide
    lo = int.from_bytes(seg[IC.HEADER.size : head - 1], "little", signed=True)
    with np.errstate(over="ignore"):
        np.subtract(arr, arr.dtype.type(lo),
                    out=inner[head:].view(f"<u{wide // 8}"),
                    casting="unsafe")
    return inner


def _eager_sample(arr: np.ndarray) -> np.ndarray:
    """The chunk itself up to 64 minis, else 16 evenly spaced windows of
    4 whole minis."""
    nfull = arr.size // IC.MINI
    return arr if nfull <= 64 else np.concatenate([
        arr[s * IC.MINI:(s + 4) * IC.MINI]
        for s in (i * (nfull - 4) // 15 for i in range(16))])


def _predicted(build, arr: np.ndarray, sample: np.ndarray) -> float:
    """zstd of the sample's layout, scaled to the chunk's layout."""
    inner = build(sample)
    return len(BC.zstd_compress(inner)) * len(build(arr)) / len(inner)


def _zone_len(seg: bytes, count: int) -> int:
    return 21 if IC.segment_zone(seg, 0, count) else 5


def _eager_auto_pack(arr: np.ndarray) -> bytes:
    """A PACK chunk: its sample laid out as the PACK, the byte-width
    re-pack (none at a byte width) and FORBP (``_composed_forbp``), the
    layouts ordered by predicted zstd bytes (ties in that order), the
    PACK only where its prediction passes the 0.9 rule; each built whole
    and zstd'd whole in that order until one wraps against the PACK."""
    pack = _composed_pack(arr)
    if len(pack) < 128:
        return pack
    lo, width = int(arr.min()), pack[IC.HEADER.size + 8]
    wide = next(b for b in IC._BYTE_WIDTHS if b >= width)
    sample = _eager_sample(arr)
    builds = [lambda v: _composed_pack(v, lo, width)]
    if wide != width:
        builds.append(lambda v: _eager_repack(v, pack, wide))
    builds.append(_composed_forbp)
    ests = [_predicted(b, arr, sample) for b in builds]
    order = sorted(range(len(builds)), key=ests.__getitem__)
    if IC.HEADER.size + _zone_len(pack, arr.size) + ests[0] \
            >= 0.9 * len(pack):
        order.remove(0)
    for i in order:
        inner = builds[i](arr)
        got = IC._wrapped(pack, arr.size, len(inner),
                          BC.zstd_compress(inner), len(pack))
        if got:
            return got
    return pack


def _eager_auto_forbp(arr: np.ndarray) -> bytes:
    """A FORBP chunk: the byte-width re-pack is built whole and wrapped
    first only where its sample predicts it beats FORBP's sample and
    passes the 0.9 rule against FORBP; else FORBP's own wrap check."""
    seg, pack = _composed_forbp(arr), _composed_pack(arr)
    wide = next(b for b in IC._BYTE_WIDTHS if b >= pack[IC.HEADER.size + 8])
    if len(seg) >= 128:
        sample = _eager_sample(arr)
        rest = _predicted(lambda v: _eager_repack(v, pack, wide), arr,
                          sample)
        if rest < _predicted(_composed_forbp, arr, sample) and \
                IC.HEADER.size + _zone_len(seg, arr.size) + rest \
                < 0.9 * len(seg):
            inner = _eager_repack(arr, pack, wide)
            got = IC._wrapped(seg, arr.size, len(inner),
                              BC.zstd_compress(inner), len(seg))
            if got:
                return got
    return _eager_wrap(seg, arr.size)


def _trial_values(width: int) -> int:
    """Values whose PACK body fills 64 KiB, the reach of the prefix
    trial a PACK's wrap once took."""
    return 8 * -(-(65536 - IC.HEADER.size - 9) // width)


def _regime_input(regime: str, width: int, lo: int, dt) -> np.ndarray:
    """Values spanning exactly ``width`` bits above ``lo``, shaped so the
    auto PACK lands in ``regime``: "accepted" (a 64-value tile repeated:
    the PACK's own wrap wins), "retry" (a random block of more than 64
    KiB of PACK body, then again shifted by 3 values: where the width is
    not a multiple of 8 the repeat lies at other bit phases of the PACK,
    and the byte-width re-pack or FORBP wraps it) or "declined"
    (random)."""
    rng = np.random.default_rng(width)
    m = _trial_values(width) + 8
    if regime == "accepted":
        u = np.tile(rng.integers(0, 1 << width, 64, dtype=np.uint64), m // 32)
    elif regime == "retry":
        b = rng.integers(0, 1 << width, m, dtype=np.uint64)
        u = np.concatenate([b, b[3:]])
    else:
        u = rng.integers(0, 1 << width, 2 * m, dtype=np.uint64)
    u[:2] = 0, (1 << width) - 1
    return (u.astype(np.int64) + lo).astype(dt)


def _regime_of(seg: bytes, pack_len: int) -> str:
    if seg[0] == IC.T_PACK:
        return "declined"
    (inner_len,) = struct.unpack_from("<I", seg, IC.HEADER.size)
    return "accepted" if inner_len == pack_len else "retry"


@pytest.mark.parametrize("dt,lo,widths", [
    (np.int32, -(2**31), range(1, 33)),
    (np.int64, -(2**62), range(1, 64)),
], ids=["int32", "int64"])
@pytest.mark.parametrize("regime", ["accepted", "retry", "declined"])
def test_lazy_pack_matches_eager_composition(dt, lo, widths, regime,
                                             monkeypatch):
    monkeypatch.setattr(select, "select_int_codec",
                        lambda arr, exclude=frozenset(): IC.T_PACK)
    for width in widths:
        a = _regime_input(regime, width, lo, dt)
        want = _eager_auto_pack(a)
        assert IC.encode_ints(a) == want, (width, regime)
        pack_len = len(IC.encode_ints(a, codec=IC.T_PACK))
        got = _regime_of(want, pack_len)
        # at width 1 the 8-bit re-pack is 8x the PACK, more than zstd
        # wins back, and FORBP's 1-bit minis keep the PACK's bit phases;
        # at a multiple of 8 bits the repeat 3 values on lies on whole
        # bytes of the PACK itself, which its whole-chunk zstd sees
        if regime == "retry" and width == 1:
            assert got == "declined"
        elif regime == "retry" and width % 8 == 0:
            assert got == "accepted", width
        else:
            assert got == regime, (width, got)


def test_winning_repack_or_forbp_never_builds_the_pack_body(monkeypatch):
    """A chunk whose re-pack wins builds the PACK's layout of its sample
    only: no PACK body of the whole chunk is packed."""
    a = _phase_shifted_repeats()
    a = np.concatenate([a, a[5:]])  # 2M values
    assert a.size >= 1 << 20
    sizes = []
    build = IC._pack_seg

    def recorded(vals, lo, width):
        sizes.append(vals.size)
        return build(vals, lo, width)

    monkeypatch.setattr(IC, "_pack_seg", recorded)
    seg = IC.encode_ints(a)
    assert _regime_of(seg, IC.HEADER.size + 9 + (a.size * 31 + 7) // 8) \
        == "retry"
    assert sizes and max(sizes) <= 64 * IC.MINI, sizes
    monkeypatch.setattr(IC, "_pack_seg", build)
    assert seg == _eager_auto_pack(a)


def _additive_rows(nrows: int) -> np.ndarray:
    """1024-value rows, each one pattern plus a constant of its own: the
    pattern spans 31 bits, so the PACK and every FORBP mini are 31 bits
    wide, and a row repeats another only up to its constant."""
    rng = np.random.default_rng(20)
    row = rng.integers(0, 3 << 29, IC.MINI)
    row[:2] = 0, 3 << 29
    consts = rng.integers(0, 1 << 29, (nrows, 1))
    return (row + consts).reshape(-1).astype(np.int32)


def _shifted_rows(width: int, nrows: int) -> np.ndarray:
    """4096-value rows cut from one ``width``-bit pseudo-random sequence
    at 1000k + 1 + k % 7, as ``_phase_shifted_repeats``: at an odd width
    no repeat starts on a byte in the PACK or in FORBP's minis."""
    base = np.random.default_rng(width).integers(0, 2**width,
                                                 1000 * nrows + 4096)
    rows = [base[1000 * k + 1 + k % 7:][:4096] for k in range(nrows)]
    return np.concatenate(rows).astype(np.int32)


def _inner_tag(seg) -> int:
    skip = IC.HEADER.size + 5 + (16 if seg[IC.HEADER.size + 4] else 0)
    (raw_len,) = struct.unpack_from("<I", seg, IC.HEADER.size)
    return BC.zstd_decompress(memoryview(seg)[skip:], raw_len)[0]


# up to 64 minis the chunk is the retry's sample; past that it samples
_RETRY_PATHS = pytest.mark.parametrize("nrows", [60, 300],
                                       ids=["own-sample", "sampled"])


@_RETRY_PATHS
def test_retry_takes_forbp_on_rows_repeated_up_to_a_constant(nrows):
    """The fixture's tail-block shape: the wrap trial and the 32-bit
    re-pack see no repeat, FORBP's per-mini minimum brings them back."""
    a = _additive_rows(nrows)
    pack = IC.encode_ints(a, codec=IC.T_PACK)
    assert pack[IC.HEADER.size + 8] == 31
    seg = IC.encode_ints(a)
    assert seg[0] == IC.T_WRAP and _inner_tag(seg) == IC.T_FORBP
    repack = IC.HEADER.size + 21 + len(BC.zstd_compress(
        _eager_repack(a, pack, 32)))
    assert 4 * len(seg) <= min(repack, len(pack)), (len(seg), repack)
    assert seg == _eager_auto_pack(a)
    got, pos = IC.decode_ints(seg, 0, a.size, np.int32)
    assert pos == len(seg) and np.array_equal(got, a)


@pytest.mark.parametrize("nrows", [14, 64], ids=["own-sample", "sampled"])
def test_retry_keeps_the_byte_width_repack_on_shifted_repeats(nrows):
    """11-bit rows repeated far apart at shifted offsets: FORBP keeps the
    PACK's bit phases, so the chunk keeps the 16-bit re-pack's bytes."""
    a = _shifted_rows(11, nrows)
    pack = IC.encode_ints(a, codec=IC.T_PACK)
    assert pack[IC.HEADER.size + 8] == 11
    inner = _eager_repack(a, pack, 16)
    want = IC._wrapped(pack, a.size, inner.size, BC.zstd_compress(inner),
                       len(pack))
    assert want is not None
    assert IC.encode_ints(a) == want


@_RETRY_PATHS
def test_retry_skips_a_forbp_candidate_past_the_u32_limit(nrows,
                                                          monkeypatch):
    """With the u32 limit just under the FORBP candidate's length, the
    chunk falls back to the byte-width re-pack, which is longer still
    and so skipped too: the PACK is written, nothing is refused."""
    a = _additive_rows(nrows)
    pack = IC.encode_ints(a, codec=IC.T_PACK)
    forbp = IC.encode_ints(a, codec=IC.T_FORBP)
    assert len(pack) < len(forbp) < IC.HEADER.size + 9 + 4 * a.size
    monkeypatch.setattr(IC, "LEN_LIMIT", len(forbp) - 1)
    assert IC.encode_ints(a) == pack


def _grouped_rows(nrows: int) -> np.ndarray:
    """1024-value rows cut from one 11-bit pseudo-random sequence at
    100k + 1 + k % 7, each group of 4 rows raised by its own multiple of
    2**13. Every FORBP mini spans about 11 bits against the chunk's 15,
    so the selector takes FORBP. A row repeats most of the row before it
    at a shift that is not a multiple of 8 values: other bit phases in
    FORBP's minis, whole lanes in the 16-bit re-pack."""
    base = np.random.default_rng(11).integers(0, 2**11, 100 * nrows + 1024)
    rows = np.stack([base[100 * k + 1 + k % 7:][:1024] for k in range(nrows)])
    return (rows + (np.arange(nrows) // 4 % 4 << 13)[:, None]).reshape(
        -1).astype(np.int32)


@_RETRY_PATHS
def test_forbp_chunk_wraps_its_byte_width_repack_first(nrows, monkeypatch):
    """The re-pack's wrap is kept, smaller than FORBP's own, under the
    zone of FORBP's minis; past 64 minis no FORBP body of the whole chunk
    is packed."""
    a = _grouped_rows(nrows)
    assert select.select_int_codec(a) == IC.T_FORBP
    forbp = IC.encode_ints(a, codec=IC.T_FORBP)
    sizes = []
    build = IC._forbp_seg

    def recorded(vals, layout):
        sizes.append(vals.size)
        return build(vals, layout)

    monkeypatch.setattr(IC, "_forbp_seg", recorded)
    seg = IC.encode_ints(a)
    assert seg[0] == IC.T_WRAP and _inner_tag(seg) == IC.T_PACK
    assert len(seg) < 0.75 * len(_eager_wrap(forbp, a.size))
    assert IC.segment_zone(seg, 0, a.size) == \
        IC.segment_zone(forbp, 0, a.size)
    assert max(sizes) <= 64 * IC.MINI, sizes
    monkeypatch.setattr(IC, "_forbp_seg", build)
    assert seg == _eager_auto_forbp(a)
    got, pos = IC.decode_ints(seg, 0, a.size, np.int32)
    assert pos == len(seg) and np.array_equal(got, a)


@_RETRY_PATHS
def test_forbp_chunk_skips_a_repack_past_the_u32_limit(nrows, monkeypatch):
    """With the u32 limit between the FORBP segment's length and the
    re-pack's, the chunk writes FORBP's own wrap check, nothing
    refused."""
    a = _grouped_rows(nrows)
    forbp = IC.encode_ints(a, codec=IC.T_FORBP)
    want = _eager_wrap(forbp, a.size)
    repack = IC.HEADER.size + 9 + 2 * a.size
    assert len(forbp) < repack
    monkeypatch.setattr(IC, "LEN_LIMIT", (len(forbp) + repack) // 2)
    assert IC.encode_ints(a) == want


@pytest.mark.parametrize("shape", ["mixed", "additive", "random"])
def test_auto_forbp_matches_eager_composition(shape, monkeypatch):
    """With the selector pinned to FORBP, shapes whose re-pack the sample
    does not predict to win write FORBP's own wrap check byte for byte,
    as the eager oracle does."""
    a = {"mixed": lambda: _mixed_minis(200_000, np.int32),
         "additive": lambda: _additive_rows(100),
         "random": lambda: np.random.default_rng(4).integers(
             0, 2**17, 150_000).astype(np.int32)}[shape]()
    monkeypatch.setattr(select, "select_int_codec",
                        lambda arr, exclude=frozenset(): IC.T_FORBP)
    seg = IC.encode_ints(a)
    assert seg == _eager_auto_forbp(a)
    assert seg[0] == IC.T_FORBP or _inner_tag(seg) == IC.T_FORBP


def test_side_by_side_duplicate_docs_wrap_the_byte_width_repack():
    """The 2,000-doc Zipf table (seed 7) with each row taken twice in a
    row, 621,084 tokens: a 17-bit PACK hides the second copy at other bit
    phases, so the PACK's own wrap wrote 1.349 B/value. The sample orders
    the 32-bit re-pack's wrap first. References on the same tokens:
    forced width_sym 0.992 and DICT 0.807 B/value (DICT stays out of the
    auto candidates: ``np.unique`` on a fixture token block costs more
    than its whole auto encode)."""
    from perfbench import corpus as C

    tbl = C.make_table("zipf", 7, 0, 2000)
    arr = _tokens(tbl.take(np.repeat(np.arange(2000), 2)))
    assert arr.size == 621_084
    seg = IC.encode_ints(arr)
    assert seg[0] == IC.T_WRAP and len(seg) <= 0.93 * arr.size, len(seg)
    assert len(seg) < len(IC.encode_ints(arr, codec=IC.T_WSYM))
    got, pos = IC.decode_ints(seg, 0, arr.size, np.int32)
    assert pos == len(seg) and np.array_equal(got, arr)


# ---------------------------------------------------------------------------
# FORBP built once into one buffer, in pieces: byte-identical to the
# composition it replaced (a payload of joined per-run bodies behind
# _seg's header), and bounded in memory.
# ---------------------------------------------------------------------------

def _composed_forbp(arr: np.ndarray) -> bytes:
    """FORBP composed as the encoder before the one-buffer build did it:
    every delta of the block at once, one bytes object per run of
    equal-width minis, their join, and the segment header concatenated
    in front. Per-mini plain loops: it shares only ``pack_width`` with
    ``_forbp_seg``."""
    mini, n = IC.MINI, arr.size
    nminis, nfull = (n + mini - 1) // mini, n // mini
    udt = np.uint32 if arr.dtype == np.int32 else np.uint64
    mins = np.empty(nminis, dtype=np.int64)
    widths = np.empty(nminis, dtype=np.int64)
    deltas = []
    for m in range(nminis):
        blk = arr[m * mini:(m + 1) * mini]
        lo = blk.min()
        with np.errstate(over="ignore"):
            deltas.append((blk - lo).view(udt))
        mins[m] = lo
        widths[m] = int(deltas[-1].max()).bit_length()
    heads = np.empty((nminis, 9), dtype=np.uint8)
    heads[:, :8] = mins.astype("<i8").view(np.uint8).reshape(nminis, 8)
    heads[:, 8] = widths
    bodies = []
    m = 0
    while m < nminis:
        w, e = int(widths[m]), m + 1
        while e < nfull and widths[e] == w:
            e += 1
        d = np.concatenate(deltas[m:e])
        if w == 64:
            bodies.append(d.astype("<u8").tobytes())
        elif w and (mini * w % 8 == 0 or e - m == 1):
            bodies.append(IC.P.pack_width(d, w))
        elif w:
            bodies.extend(IC.P.pack_width(x, w)
                          for x in deltas[m:e])
        m = e
    payload = struct.pack("<H", mini) + heads.tobytes() + b"".join(bodies)
    return IC.HEADER.pack(IC.T_FORBP, len(payload)) + payload


def _mixed_minis(n: int, dtype, seed: int = 0) -> np.ndarray:
    """Random values whose width changes every few minis: runs of 1-4
    minis, each at a width of 0-31 bits above a random base."""
    rng = np.random.default_rng(seed)
    out = np.empty(n, dtype=np.int64)
    i = 0
    while i < n:
        j = min(n, i + IC.MINI * int(rng.integers(1, 5)))
        w = int(rng.integers(0, 32))
        out[i:j] = rng.integers(-(2**30), 2**30) + rng.integers(
            0, 1 << w, j - i)
        i = j
    return out.astype(dtype)


@pytest.mark.parametrize("mini", [1024, 5, 13])
@pytest.mark.parametrize("dt", [np.int32, np.int64])
def test_forbp_one_buffer_matches_composition(dt, mini, monkeypatch):
    monkeypatch.setattr(IC, "MINI", mini)
    info = np.iinfo(dt)
    rng = np.random.default_rng(mini)
    for n in (1, mini - 1, mini, 70 * mini + 3, 70_001):
        for a in (_mixed_minis(n, dt, n),
                  rng.integers(info.min, info.max, n, dtype=dt,
                               endpoint=True),
                  np.full(n, info.min, dtype=dt)):
            seg = IC.encode_ints(a, codec=IC.T_FORBP)
            assert seg == _composed_forbp(a), (n, a[:4])
            assert bytes(IC._enc_forbp(a)) == seg[IC.HEADER.size:]
            got, pos = IC.decode_ints(seg, 0, n, dt)
            assert pos == len(seg) and np.array_equal(got, a)


def test_forbp_encode_peak_memory_is_bounded(monkeypatch):
    """A 4M-value int32 block of mixed mini widths. Its FORBP segment
    peaks within 1.25x the segment plus 4 MiB while it is built: deltas
    exist for one pack piece of minis at a time, and the segment is one
    buffer. The auto encode, with the selector pinned to FORBP, adds the
    zstd wrap check: its prefix trial passes on the compressible heads,
    and the whole-segment zstd output (about the segment's size, as the
    bodies are random) then lives beside the segment, so that path peaks
    within 2.25x plus 4 MiB; a losing wrap is not built. Every delta of
    the block at once (4 B/value), a bytes object per run, their join and
    the header concatenation peaked at 5.0x; the wrap check then made two
    more copies of its output."""
    import tracemalloc

    a = _mixed_minis(4_000_000, np.int32)
    monkeypatch.setattr(select, "select_int_codec",
                        lambda arr, exclude=frozenset(): IC.T_FORBP)
    peaks = []
    tracemalloc.start()
    try:
        for codec in (IC.T_FORBP, None):
            tracemalloc.reset_peak()
            base = tracemalloc.get_traced_memory()[0]
            seg = IC.encode_ints(a, codec=codec)
            peaks.append(tracemalloc.get_traced_memory()[1] - base)
            del seg
    finally:
        tracemalloc.stop()
    seg = IC.encode_ints(a)
    assert seg[0] == IC.T_FORBP
    assert seg == IC.encode_ints(a, codec=IC.T_FORBP)
    built, auto = peaks
    assert built <= 1.25 * len(seg) + (4 << 20), (built, len(seg))
    assert auto <= 2.25 * len(seg) + (4 << 20), (auto, len(seg))


def _spanning(width: int, dt, n: int) -> np.ndarray:
    """``n`` random values of ``dt`` spanning exactly ``width`` bits above
    the dtype's minimum."""
    u = np.random.default_rng(width).integers(
        0, 2**64 - 1, n, dtype=np.uint64, endpoint=True)
    u >>= np.uint64(64 - width)
    u[0], u[1] = 0, (1 << width) - 1
    if dt == np.int32:
        return (u.astype(np.uint32) + np.uint32(2**31)).view(np.int32)
    return (u + np.uint64(2**63)).view(np.int64)


def _composed_pack(a: np.ndarray, lo: int | None = None,
                   width: int | None = None) -> bytes:
    """The PACK segment as a head plus ``pack_width`` over every delta of
    the block at once, in the frame (``lo``, ``width``), by default the
    block's own."""
    if lo is None:
        lo = int(a.min())
        width = (int(a.max()) - lo).bit_length()
    with np.errstate(over="ignore"):
        d = (a - a.dtype.type(lo)).view(
            np.uint32 if a.dtype == np.int32 else np.uint64)
    body = d.astype("<u8").tobytes() if width == 64 \
        else bytes(IC.P.pack_width(d, width))
    payload = lo.to_bytes(8, "little", signed=True) + bytes([width]) + body
    return IC.HEADER.pack(IC.T_PACK, len(payload)) + payload


@pytest.mark.parametrize("width", range(1, 65))
def test_pack_one_buffer_matches_composition(width):
    for dt, n in itertools.product(
            (np.int32, np.int64) if width <= 32 else (np.int64,),
            (7, 65_535, 65_536, 65_537, 200_003)):
        a = _spanning(width, dt, n)
        seg = IC.encode_ints(a, codec=IC.T_PACK)
        assert seg == _composed_pack(a), (dt, n)
        assert bytes(IC._enc_pack(a)) == seg[IC.HEADER.size:]
        got, pos = IC.decode_ints(seg, 0, n, dt)
        assert pos == len(seg) and np.array_equal(got, a)


def test_pack_encode_peak_memory_is_bounded():
    """A forced PACK of 4M random 31-bit int32 values peaks within 1.25x
    its segment plus 4 MiB: deltas exist for one pack piece at a time,
    and the segment is one buffer. Every delta of the block at once, the
    packed body and its concatenation behind the head peaked at 2.09x."""
    import tracemalloc

    a = np.random.default_rng(0).integers(0, 2**31, 4_000_000,
                                          dtype=np.int32)
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        seg = IC.encode_ints(a, codec=IC.T_PACK)
        peak = tracemalloc.get_traced_memory()[1] - base
    finally:
        tracemalloc.stop()
    assert seg[IC.HEADER.size + 8] == 31
    assert peak <= 1.25 * len(seg) + (4 << 20), (peak, len(seg))


# ---------------------------------------------------------------------------
# The width-symbol codec (T_WSYM): per-value bit-length symbols, zstd'd,
# plus the mantissa bits below each leading 1 in one bitstream.
# ---------------------------------------------------------------------------

def _span_values(bits: int, lo: int, dtype, n: int = 3000) -> np.ndarray:
    """``n`` values in [lo, lo + 2**bits - 1], both ends present, with
    every bit length up to ``bits`` represented (shifted-down randoms)."""
    rng = np.random.default_rng(bits)
    u = rng.integers(0, 2**63, n, dtype=np.uint64) << np.uint64(1)
    u |= rng.integers(0, 2, n, dtype=np.uint64)
    u = u >> np.uint64(64 - bits) if bits else u * np.uint64(0)
    u >>= rng.integers(0, max(bits, 1), n).astype(np.uint64)
    u[:2] = (0, (1 << bits) - 1)
    with np.errstate(over="ignore"):
        v = (u + np.uint64(lo % 2**64)).view(np.int64)
    return v.astype(dtype)


@pytest.mark.parametrize("bits", range(65))
def test_wsym_roundtrip_every_span(bits):
    """int64 input over spans of 0-64 bits, and int32 input over spans
    up to 32 bits, decoded both wide and narrow (int32, mod 2^32)."""
    cases = [_span_values(bits, -(2**63), np.int64),
             _span_values(bits, 12345 - 2**62 if bits < 62 else -(2**63),
                          np.int64)]
    if bits <= 32:
        cases.append(_span_values(bits, -(2**31), np.int32))
        cases.append(_span_values(bits, -7, np.int32) if bits < 31
                     else _span_values(bits, -(2**31), np.int32))
    for arr in cases:
        seg = IC.encode_ints(arr, codec=IC.T_WSYM)
        assert seg[0] == IC.T_WSYM
        if arr.dtype == np.int32:  # the narrow encode writes the same bytes
            assert seg == IC.encode_ints(arr.astype(np.int64),
                                         codec=IC.T_WSYM)
        d64, pos = IC.decode_ints(seg, 0, arr.size)
        assert pos == len(seg)
        assert np.array_equal(d64, arr.astype(np.int64))
        d32, _ = IC.decode_ints(seg, 0, arr.size, np.int32)
        assert d32.dtype == np.int32
        assert np.array_equal(d32, arr.astype(np.int32))
        assert IC.segment_zone(seg, 0, arr.size) == (int(arr.min()),
                                                     int(arr.max()))


@pytest.mark.parametrize("arr", [
    np.array([-5], dtype=np.int64),
    np.array([7], dtype=np.int32),
    np.full(1000, -3, dtype=np.int32),
    np.arange(-50, 50, dtype=np.int64),
    np.random.default_rng(5).integers(-(2**40), -(2**40) + 1000, 2048),
], ids=["n1_neg", "n1", "all_equal", "negative_lo", "row_2048"])
def test_wsym_edge_arrays(arr):
    seg = IC.encode_ints(arr, codec=IC.T_WSYM)
    dec, pos = IC.decode_ints(seg, 0, arr.size)
    assert pos == len(seg) and np.array_equal(dec, arr.astype(np.int64))
    assert IC.segment_zone(seg, 0, arr.size) == (int(arr.min()),
                                                 int(arr.max()))


def test_wsym_auto_keeps_const_for_all_equal():
    assert IC.encode_ints(np.full(1000, -3, dtype=np.int32))[0] == IC.T_CONST


def test_wsym_windows_carry_offsets_across_blocks(monkeypatch):
    """Small windows: a value's mantissa starts in one window's last word
    and the next window begins mid-word, in both directions."""
    default = IC._WSYM_WINDOW
    for arr in (_span_values(17, 0, np.int32, 1001),
                _span_values(40, -(2**50), np.int64, 1001),
                _span_values(63, -(2**63), np.int64, 1001)):
        whole = IC.encode_ints(arr, codec=IC.T_WSYM)  # one window
        monkeypatch.setattr(IC, "_WSYM_WINDOW", 64)
        assert IC.encode_ints(arr, codec=IC.T_WSYM) == whole
        dec, _ = IC.decode_ints(whole, 0, arr.size)
        assert np.array_equal(dec, arr.astype(np.int64))
        monkeypatch.setattr(IC, "_WSYM_WINDOW", default)


def test_wsym_truncated_and_trailing_payload_raise():
    arr = _span_values(17, 100, np.int32)
    seg = IC.encode_ints(arr, codec=IC.T_WSYM)
    payload = seg[IC.HEADER.size:]

    def with_payload(p):
        return IC.HEADER.pack(IC.T_WSYM, len(p)) + p

    for bad in (payload[:-1], payload + b"\x00", payload[:10],
                payload[:IC._WSYM_HEAD.size + 3]):
        with pytest.raises(ValueError):
            IC.decode_ints(with_payload(bad), 0, arr.size)
    with pytest.raises(ValueError):  # the segment says more than it has
        IC.decode_ints(seg[:-1], 0, arr.size)
    with pytest.raises(ValueError):  # symbols for fewer values
        IC.decode_ints(seg, 0, arr.size + 1)


def test_wsym_symbol_wider_than_span_raises():
    arr = _span_values(17, 0, np.int32)
    seg = bytearray(IC.encode_ints(arr, codec=IC.T_WSYM))
    lo, hi, slen = IC._WSYM_HEAD.unpack_from(seg, IC.HEADER.size)
    IC._WSYM_HEAD.pack_into(seg, IC.HEADER.size, lo, lo + 2**10, slen)
    with pytest.raises(ValueError, match="wider"):
        IC.decode_ints(bytes(seg), 0, arr.size)


def _tokens(tbl):
    return tbl.column("tokens").combine_chunks().flatten().to_numpy()


def test_selection_keeps_zstd_wrap_on_fixture_chunk(monkeypatch):
    """A fixture chunk keeps its zstd_wrap segment byte for byte, as
    with the width-symbol codec out of reach (a zero margin), and the
    width-symbol encoder never runs."""
    from zseq import synth

    arr = _tokens(synth.tokens_table_arrow(20_000))
    monkeypatch.setattr(select, "WSYM_MARGIN", 0)
    before = IC.encode_ints(arr)
    monkeypatch.undo()

    def no_trial(_arr):
        raise AssertionError("width-symbol trial ran on a fixture chunk")

    monkeypatch.setitem(IC._ENCODERS, IC.T_WSYM, no_trial)
    seg = IC.encode_ints(arr)
    assert seg[0] == IC.T_WRAP and seg == before


def test_selection_picks_wsym_on_zipf_chunk():
    from perfbench import corpus as C

    arr = _tokens(C.make_table("zipf", 7, 0, 2000))
    seg = IC.encode_ints(arr)
    assert seg[0] == IC.T_WSYM
    assert len(seg) < select.WSYM_MARGIN * len(
        IC.encode_ints(arr, exclude=frozenset({IC.T_WSYM, IC.T_DELTA})))
    dec, _ = IC.decode_ints(seg, 0, arr.size, np.int32)
    assert np.array_equal(dec, arr)


def test_wsym_chunk_builds_only_its_segment(monkeypatch):
    """A chunk the selector predicts as width_sym builds no other
    full-chunk segment: every other encoder runs on the selector's
    prefix at most, and no zstd wrap is tried."""
    from perfbench import corpus as C

    arr = _tokens(C.make_table("zipf", 7, 0, 2000))
    calls = []
    for tag, enc in list(IC._ENCODERS.items()):
        def recorded(a, tag=tag, enc=enc):
            calls.append((tag, a.size))
            return enc(a)

        monkeypatch.setitem(IC._ENCODERS, tag, recorded)
    forbp = IC._forbp_seg  # FORBP's segment is built outside _ENCODERS

    def recorded_forbp(a, layout):
        calls.append((IC.T_FORBP, a.size))
        return forbp(a, layout)

    monkeypatch.setattr(IC, "_forbp_seg", recorded_forbp)

    def no_wrap(*_):
        raise AssertionError("zstd wrap tried on a width_sym chunk")

    monkeypatch.setattr(IC, "_maybe_wrap", no_wrap)
    assert IC.encode_ints(arr)[0] == IC.T_WSYM
    assert [t for t, size in calls if size == arr.size] == [IC.T_WSYM]
    assert all(size <= select.SAMPLE for t, size in calls
               if t != IC.T_WSYM), calls


def test_u32_limit_checks_only_the_segment_built(monkeypatch):
    """With the u32 limit between a Zipf chunk's width_sym and FORBP
    payload lengths, the auto encode writes the width_sym segment: no
    FORBP candidate is built to be refused and thrown away."""
    from perfbench import corpus as C

    arr = _tokens(C.make_table("zipf", 7, 0, 2000))
    wsym = len(IC.encode_ints(arr, codec=IC.T_WSYM)) - IC.HEADER.size
    forbp = len(IC.encode_ints(arr, codec=IC.T_FORBP)) - IC.HEADER.size
    assert wsym < forbp
    monkeypatch.setattr(IC, "LEN_LIMIT", (wsym + forbp) // 2)
    seg = IC.encode_ints(arr)
    assert seg[0] == IC.T_WSYM
    with pytest.raises(ValueError, match="segment payload length"):
        IC.encode_ints(arr, codec=IC.T_FORBP)


def test_wsym_estimate_tracks_encoded_size():
    from perfbench import corpus as C

    arr = _tokens(C.make_table("zipf", 7, 0, 2000))
    got = len(IC.encode_ints(arr, codec=IC.T_WSYM)) * 8 / arr.size
    assert abs(select.wsym_bits(arr, int(arr.min())) - got) < 0.1 * got


def test_wsym_never_nested():
    """Nested segments (exclude non-empty) never trial the symbol codec,
    and a forced WSYM segment is never wrapped."""
    from perfbench import corpus as C

    arr = _tokens(C.make_table("zipf", 7, 0, 500))
    assert IC.encode_ints(arr, exclude=frozenset({IC.T_DELTA}))[0] \
        != IC.T_WSYM
    assert IC.encode_ints(arr, codec=IC.T_WSYM)[0] == IC.T_WSYM


def test_no_column_grows_over_old_selection_on_parity_tables(monkeypatch):
    """Every table of tests/test_size_parity.py: no column's chunk is
    larger under the selection with the width-symbol codec than without
    it (a zero margin puts it out of reach)."""
    from test_size_parity import parity_tables

    from zseq import column as COL

    def sizes():
        return {(t, c): len(COL.encode_column(
                    tbl.column(c).combine_chunks()))
                for t, tbl in parity_tables().items()
                for c in tbl.column_names}

    new = sizes()
    monkeypatch.setattr(select, "WSYM_MARGIN", 0)
    old = sizes()
    assert new.keys() == old.keys() and len(new) > 10
    grew = {k: (new[k], old[k]) for k in new if new[k] > old[k]}
    assert not grew


# sha256 of clustered parts, pinned to the bytes the selector wrote when
# the width-symbol codec was a trial encode after the auto path's
# segment: predicting it from the sample changed no block's codec. The
# fixture pin moved twice since. When a declined PACK wrap gained its
# FORBP retry, only the tail block's tokens chunk changed (2,801,037 ->
# 727,748 B, still zstd_wrap). When a FORBP chunk's byte-width re-pack
# could wrap first, block 0's tokens chunk became a wrapped 16-bit
# re-pack (131,365 -> 89,430 B) and two `source` dictionary index
# segments shrank (part 1,724,359 -> 1,682,409 B).
PART_SHA256 = {
    "fixture":
        "17e3afab039e80315b8afc86b2772e6431b2905e1a7800cb0e24e4d449ab9d01",
    "zipf":
        "cfdd3f6f8d9f6bfc3bd5c49277aa794b5b9ec19cf1c35f11ff1e341677722ec7",
}


def test_fixture_part_bytes_unchanged_by_wsym_trial(tmp_path):
    """A clustered fixture part at 160K rows per part (the size-parity
    module's tail-block case; its tokens zstd_wrap) and a 2,000-row
    Zipf part (its tokens width_sym) encode to pinned bytes."""
    import hashlib
    import os

    from perfbench import corpus as C
    from zseq import encode, synth

    for name, tbl in (("fixture", synth.tokens_table_arrow(160_000)),
                      ("zipf", C.make_table("zipf", 7, 0, 2000))):
        out = str(tmp_path / name)
        os.makedirs(out)
        row = encode._encode_table_to_file(tbl, out, 0, tbl.schema, True,
                                           1 << 16, 0.0)
        with open(os.path.join(out, row["file"]), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == \
                PART_SHA256[name], name


def test_corrupt_zstd_frames_raise_value_error():
    """Seeded single-byte flips inside the zstd frame of an auto-encoded
    ``zstd_wrap`` int segment and of a ``bin_zstd`` segment: each decode
    raises the strict-decode ``ValueError`` or, as the frames carry no
    checksum, returns wrong values; pyarrow's ``OSError`` never escapes."""
    from zseq import synth

    ints = _tokens(synth.tokens_table_arrow(1000))
    iseg = IC.encode_ints(ints)
    assert iseg[0] == IC.T_WRAP
    # the frame follows raw_len u32, the zone flag and the 16-byte zone
    ifrom = IC.HEADER.size + 5 + (16 if iseg[IC.HEADER.size + 4] else 0)
    words = [f"doc {i % 977} {'x' * (i % 13)} text" for i in range(20_000)]
    lengths = np.array([len(w) for w in words])
    data = np.frombuffer("".join(words).encode(), np.uint8)
    bseg = BC.encode_binary(lengths, data, codec=BC.T_BIN_ZSTD)
    # the frame follows the lengths segment and the raw size u64
    _, pos = IC.decode_ints(bseg[IC.HEADER.size:], 0, lengths.size)
    bfrom = IC.HEADER.size + pos + 8
    rng = np.random.default_rng(5)
    cases = (
        (iseg, ifrom, ints, lambda b: IC.decode_ints(b, 0, ints.size)[0]),
        (bseg, bfrom, data,
         lambda b: BC.decode_binary(b, 0, lengths.size)[1]),
    )
    for seg, lo, want, decode in cases:
        refused = 0
        for p in rng.integers(lo, len(seg), 200):
            bad = bytearray(seg)
            bad[p] ^= int(rng.integers(1, 256))
            try:
                got = decode(bytes(bad))
            except ValueError:
                refused += 1
                continue
            assert got.shape != want.shape or not np.array_equal(got, want)
        assert refused  # some flips break the frame itself


def test_segment_payload_past_u32_limit_is_refused(monkeypatch):
    """A payload length past the u32 header field is a ValueError naming
    the field, not a struct.error (the limit is patched: no 4 GiB)."""
    arr = np.arange(5000, dtype=np.int64) % 1000
    monkeypatch.setattr(IC, "LEN_LIMIT", 100)
    for codec in (IC.T_RAW, IC.T_PACK, None):
        with pytest.raises(ValueError,
                           match="segment payload length .* limit of 100"):
            IC.encode_ints(arr, codec=codec)
    with pytest.raises(ValueError, match="segment payload length"):
        BC.encode_binary(np.array([100, 100]),
                         np.arange(200, dtype=np.uint8))


@pytest.mark.parametrize("codec,field", [(IC.T_DICT, "dict cardinality"),
                                         (IC.T_RLE, "rle run count")])
def test_int_count_field_past_u32_limit_is_refused(monkeypatch, codec,
                                                   field):
    arr = np.repeat(np.arange(300, dtype=np.int64) * 1_000_003, 7)
    monkeypatch.setattr(IC, "LEN_LIMIT", 299)
    with pytest.raises(ValueError, match=f"{field} 300 .* limit of 299"):
        IC.encode_ints(arr, codec=codec)


def test_wsym_stream_length_past_u32_limit_is_refused(monkeypatch):
    """The symbol stream is shorter than its segment, so a limit of its
    length - 1 trips only the width-symbol header's u32 field."""
    arr = np.random.default_rng(1).zipf(1.3, 5000).astype(np.int64)
    seg = IC.encode_ints(arr, codec=IC.T_WSYM)
    (slen,) = struct.unpack_from("<I", seg, IC.HEADER.size + 16)
    monkeypatch.setattr(IC, "LEN_LIMIT", slen - 1)
    with pytest.raises(ValueError, match="width-symbol stream length"):
        IC.encode_ints(arr, codec=IC.T_WSYM)


def test_binary_const_length_past_u32_limit_is_refused(monkeypatch):
    monkeypatch.setattr(IC, "LEN_LIMIT", 100)
    with pytest.raises(ValueError, match="const value length 200"):
        BC.encode_binary(np.array([200, 200]), np.full(400, 7, np.uint8),
                         codec=BC.T_BIN_CONST)


def test_binary_dict_cardinality_past_u32_limit_is_refused(monkeypatch):
    strs = [b"v%03d" % (i % 300) for i in range(3000)]
    data = np.frombuffer(b"".join(strs), np.uint8)
    lens = np.array([len(v) for v in strs], dtype=np.int64)
    monkeypatch.setattr(IC, "LEN_LIMIT", 299)
    with pytest.raises(ValueError, match="dict cardinality 300"):
        BC.encode_binary(lens, data, codec=BC.T_BIN_DICT)


def test_wrapped_inner_length_past_u32_limit_is_refused(monkeypatch):
    arr = np.arange(5000, dtype=np.int64) % 1000
    seg = IC.encode_ints(arr, codec=IC.T_PACK)
    monkeypatch.setattr(IC, "LEN_LIMIT", len(seg) - 1)
    with pytest.raises(ValueError, match="wrapped segment length"):
        IC._wrapped(seg, arr.size, len(seg), b"", len(seg))
