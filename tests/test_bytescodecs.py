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
