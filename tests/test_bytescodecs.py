"""Binary-column codec roundtrips + selection behavior."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from zseq.codecs import bytescodecs as BC

ALL = [BC.T_BIN_RAW, BC.T_BIN_ZSTD, BC.T_BIN_DICT, BC.T_BIN_FSST]


def _col(strs):
    data = np.frombuffer(b"".join(strs), dtype=np.uint8)
    lens = np.array([len(s) for s in strs], dtype=np.int64)
    return lens, data


CASES = {
    "ids": [f"doc_{i:08d}".encode() for i in range(3000)],
    "categorical": [b"web", b"books", b"code", b"wiki"] * 500,
    "const": [b"same"] * 500,
    "empty": [],
    "empties": [b"", b"", b""],
    "binary": [bytes([i % 256, 255, 0]) for i in range(500)],
}


@pytest.mark.parametrize("name", CASES)
@pytest.mark.parametrize("codec", ALL + [None])
def test_roundtrip(name, codec):
    lens, data = _col(CASES[name])
    enc = BC.encode_binary(lens, data, codec=codec)
    l2, d2, pos = BC.decode_binary(enc, 0, lens.size)
    assert pos == len(enc)
    assert np.array_equal(l2, lens)
    assert np.array_equal(d2, data)


def test_const_detection():
    lens, data = _col([b"same"] * 500)
    enc = BC.encode_binary(lens, data)
    assert enc[0] == BC.T_BIN_CONST
    assert len(enc) < 40


def test_dict_on_categorical():
    lens, data = _col([b"web", b"books", b"code", b"wiki"] * 2000)
    enc = BC.encode_binary(lens, data)
    raw = int(data.size)
    assert raw / len(enc) > 5


@settings(max_examples=100, deadline=None)
@given(st.lists(st.binary(max_size=30), max_size=50),
       st.sampled_from(ALL + [None]))
def test_roundtrip_property(strs, codec):
    lens, data = _col(strs)
    enc = BC.encode_binary(lens, data, codec=codec)
    l2, d2, _ = BC.decode_binary(enc, 0, lens.size)
    assert np.array_equal(l2, lens)
    assert np.array_equal(d2, data)


def test_zstd_matches_reference_level():
    # The reference compresses string payloads with zstd level 3
    # (compression.rs:34-41); our zstd path must roundtrip arbitrary bytes.
    blob = bytes(range(256)) * 100
    comp = BC.zstd_compress(np.frombuffer(blob, np.uint8))
    assert BC.zstd_decompress(comp, len(blob)) == blob


def test_zstd_level_configurable_roundtrip():
    """Levels 1/9/22 (reference compression.rs:14-23) all roundtrip; the
    module default is restored afterwards."""
    import numpy as np
    from zseq.codecs import bytescodecs as BC

    text = ("the quick brown fox " * 400).encode()
    lengths = np.full(40, len(text) // 40, dtype=np.int64)
    data = np.frombuffer(text[: int(lengths.sum())], np.uint8)
    sizes = {}
    try:
        for lvl in (1, 9, 22):
            BC.set_zstd_level(lvl)
            enc = BC.encode_binary(lengths, data, codec=BC.T_BIN_ZSTD)
            l2, d2, _ = BC.decode_binary(enc, 0, lengths.size)
            assert np.array_equal(l2, lengths)
            assert bytes(d2) == bytes(data)
            sizes[lvl] = len(enc)
        # decode works across levels: encode @22, decode with default
        BC.set_zstd_level(22)
        enc22 = BC.encode_binary(lengths, data, codec=BC.T_BIN_ZSTD)
    finally:
        BC.set_zstd_level(3)
    l2, d2, _ = BC.decode_binary(enc22, 0, lengths.size)
    assert bytes(d2) == bytes(data)
    assert sizes[22] <= sizes[1]
    import pytest as _pt
    with _pt.raises(ValueError, match="1, 22"):
        BC.set_zstd_level(0)


def test_bin_const_strict_payload_size():
    """Strict decode: truncated or over-long T_BIN_CONST payloads refuse
    instead of returning lengths inconsistent with the data buffer."""
    import struct as _st

    from zseq.codecs import bytescodecs as BC

    lengths = np.full(10, 4, dtype=np.int64)
    data = np.frombuffer(b"abcd" * 10, np.uint8)
    seg = BC.encode_binary(lengths, data, codec=BC.T_BIN_CONST)
    tag, plen = _st.unpack_from("<BI", seg, 0)
    assert tag == BC.T_BIN_CONST
    # truncate one value byte (fix up the header length)
    bad = bytes([tag]) + _st.pack("<I", plen - 2) + seg[5:-2]
    with pytest.raises(ValueError, match="bin_const"):
        BC.decode_binary(bad, 0, 10)
    # trailing junk inside the payload
    bad2 = bytes([tag]) + _st.pack("<I", plen + 3) + seg[5:] + b"JNK"
    with pytest.raises(ValueError, match="bin_const"):
        BC.decode_binary(bad2, 0, 10)


def test_bin_fsst_trailing_junk_refused():
    from zseq.codecs import bytescodecs as BC
    import struct as _st

    strs = [b"hello", b"help", b"hold"] * 30
    lengths = np.array([len(s) for s in strs], dtype=np.int64)
    data = np.frombuffer(b"".join(strs), np.uint8)
    seg = BC.encode_binary(lengths, data, codec=BC.T_BIN_FSST)
    tag, plen = _st.unpack_from("<BI", seg, 0)
    bad = bytes([tag]) + _st.pack("<I", plen + 5) + seg[5:] + b"junk!"
    with pytest.raises(ValueError, match="fsst"):
        BC.decode_binary(bad, 0, len(strs))


def test_fsst_table_not_built_where_its_floor_loses(monkeypatch):
    """A column of 1-byte strings (a flag column): every FSST code covers
    one byte here, so FSST's floor is the raw size and the dict codec
    wins without the sample-table build."""
    from zseq.codecs import fsst

    def refuse(_):
        raise AssertionError("fsst.build_table called")

    monkeypatch.setattr(fsst, "build_table", refuse)
    rng = np.random.default_rng(3)
    lens, data = _col(list(rng.choice([b"A", b"N", b"R"], 65_536)))
    assert BC.encode_binary(lens, data)[0] == BC.T_BIN_DICT


def _select_oracle(lengths, data):
    """``select_bin_codec`` with the sample and the FSST gate's windows
    as Python bytes (``to_pylist``): the reference its Arrow-side sample
    must match."""
    import pyarrow as pa

    from zseq.codecs import fsst

    n = lengths.size
    if n == 0:
        return BC.T_BIN_RAW
    total = int(lengths.sum())
    mean_len = total / n
    offs = BC._offsets(lengths)
    want = max(64, int(BC.SAMPLE_BYTES / max(1.0, mean_len)))
    step = max(1, n // want)
    arr = pa.Array.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(np.ascontiguousarray(offs)),
         pa.py_buffer(np.ascontiguousarray(data))])
    sample_vals = arr.take(pa.array(np.arange(0, n, step))).to_pylist()
    m = len(sample_vals)
    distinct = len(set(sample_vals))
    if distinct == 1 and step == 1:
        return BC.T_BIN_CONST
    sample_blob = b"".join(sample_vals)
    sample_bytes = max(1, len(sample_blob))
    est = {}
    lens_cost = n * 0.5 + 26
    est[BC.T_BIN_RAW] = total + lens_cost
    comp = BC.zstd_compress(sample_blob)
    est[BC.T_BIN_ZSTD] = len(comp) / sample_bytes * total + lens_cost + 16
    if distinct < 0.5 * m:
        card = distinct / m * n if distinct > 1 else distinct
        dict_bytes = distinct / m * total
        idx_bits = max(1, int(np.ceil(np.log2(max(2.0, card)))))
        est[BC.T_BIN_DICT] = (
            min(dict_bytes, total) * 0.7 + n * idx_bits / 8.0 + 64)
    zstd_ratio = est[BC.T_BIN_ZSTD] / max(1.0, float(total))
    if mean_len <= BC.FSST_MAX_MEAN_LEN and total >= 1024 \
            and zstd_ratio > 0.22:
        slens = np.array([len(v) for v in sample_vals], dtype=np.int64)
        lo = sum(-(-len(v) // 8) for v in sample_vals) / sample_bytes
        floor = lo * total + 1 + n * 0.5 + 40
        # zstd of 8 evenly spaced runs of m // 8 whole values
        k = max(1, m // 8)
        nwin = min(8, max(1, n // k))
        runs = b"".join(b"".join(arr.slice(s, k).to_pylist())
                        for s in ((n - k) * i // max(1, nwin - 1)
                                  for i in range(nwin)))
        windowed = len(BC.zstd_compress(runs)) / max(1, len(runs))
        if floor < min(est.values()) and (
                step == 1 or floor < windowed * total + lens_cost + 16):
            table = fsst.build_table(sample_vals)
            sdata = np.frombuffer(sample_blob, dtype=np.uint8)
            enc, _ = fsst.encode_column(sdata, BC._offsets(slens), table)
            est[BC.T_BIN_FSST] = (enc.size / sample_bytes * total
                                  + len(table.serialize()) + n * 0.5 + 40)
    return min(est, key=est.__getitem__)


def _string_tables():
    """Every table of the size-parity gates, one block of each benchmark
    corpus, and the sf0.001 and sf0.01 testdata tables where present."""
    import os

    import pyarrow.parquet as pq
    from test_driver_contract import SF_DIR, TABLES
    from test_size_parity import parity_tables

    from perfbench import corpus

    out = dict(parity_tables())
    for name in ("fixture", "zipf"):
        out[name] = corpus.make_table(name, 7, 14_000_000, 1 << 16)
    for sf in ("sf0.001", "sf0.01"):
        for name in TABLES:
            path = os.path.join(os.path.dirname(SF_DIR), sf,
                                f"{name}.parquet")
            if os.path.exists(path):
                out[f"{sf}/{name}"] = pq.read_table(path)
    return out


def test_selector_matches_pylist_oracle_on_every_string_column(
        monkeypatch):
    """Every selection the column layer makes on the first 64K rows of
    every column of the parity and testdata tables (string columns,
    nested strings and dictionary values) picks the oracle's codec."""
    from zseq import column as COL

    calls = []
    select = BC.select_bin_codec

    def recorded(lengths, data):
        calls.append((lengths.copy(), data.copy()))
        return select(lengths, data)

    monkeypatch.setattr(BC, "select_bin_codec", recorded)
    for name, tbl in _string_tables().items():
        for col in tbl.column_names:
            before = len(calls)
            COL.encode_column(tbl.column(col).slice(0, 1 << 16)
                              .combine_chunks())
            for lengths, data in calls[before:]:
                assert select(lengths, data) == _select_oracle(
                    lengths, data), (name, col)
    assert len(calls) > 80


_ODD = st.sampled_from([b"", b"\x00", b"\x00\x00ab", b"\xff\xfe", b"\xc3",
                        b"doc_", b"web", b"\x80\x81\x82\x83"])


@settings(max_examples=60, deadline=None)
@given(st.one_of(
    st.lists(st.binary(max_size=40), min_size=1, max_size=3000),
    st.lists(_ODD, min_size=1, max_size=3000),
    st.lists(st.lists(_ODD, max_size=6).map(b"".join), min_size=1,
             max_size=3000),
    st.tuples(st.binary(max_size=12), st.integers(1, 5000))
    .map(lambda t: [t[0]] * t[1])))
def test_selector_matches_pylist_oracle_property(strs):
    """Empty strings, one distinct value (``bin_const``), NUL and
    non-UTF-8 bytes: the Arrow-side sample picks the oracle's codec."""
    lens, data = _col(strs)
    assert BC.select_bin_codec(lens, data) == _select_oracle(lens, data)


@pytest.mark.parametrize("length", [7, 100, 127])
def test_fsst_table_from_sample_prefix_is_the_full_table(length,
                                                         monkeypatch):
    """The FSST trial gets as Python bytes only the sample values its
    16 KiB build budget reads. Where the budget ends inside a value, the
    table built from that prefix is the table of the whole sample."""
    from zseq.codecs import fsst

    rng = np.random.default_rng(length)
    strs = [bytes(rng.integers(97, 123, length, dtype=np.uint8))
            for _ in range(20_000)]
    lens, data = _col(strs)
    got = []
    build = fsst.build_table
    monkeypatch.setattr(fsst, "build_table",
                        lambda s: got.append(s) or build(s))
    assert BC.select_bin_codec(lens, data) == _select_oracle(lens, data)
    prefix, full = got  # the selector's build, then the oracle's
    assert sum(map(len, prefix[:-1])) < fsst.BUILD_SAMPLE_BYTES \
        < sum(map(len, prefix))
    assert len(prefix) < len(full) and full[:len(prefix)] == prefix
    assert build(prefix).serialize() == build(full).serialize()
