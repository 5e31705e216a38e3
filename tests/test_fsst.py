"""FSST correctness (roundtrip incl. escape-heavy inputs) and ratio floors."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from zseq.codecs import fsst


def _col(strs):
    data = np.frombuffer(b"".join(strs), dtype=np.uint8)
    lens = np.array([len(s) for s in strs], dtype=np.int64)
    offs = np.zeros(len(strs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return data, offs


def _roundtrip(strs):
    data, offs = _col(strs)
    blob = fsst.compress(data, offs)
    d2, lens2 = fsst.decompress(memoryview(blob), len(strs))
    offs2 = np.zeros(len(strs) + 1, np.int64)
    np.cumsum(lens2, out=offs2[1:])
    out = [d2[offs2[i]:offs2[i + 1]].tobytes() for i in range(len(strs))]
    return out, len(blob)


CASES = {
    "doc_ids": [f"doc_{i:08d}".encode() for i in range(2000)],
    "categorical": [b"web", b"books", b"code"] * 1000,
    "escape_heavy": [bytes([255]) * 7, b"\xffa\xff", b"x\xff", b"\xff"],
    "empty_strings": [b"", b"abc", b"", b""],
    "all_empty": [b"", b""],
    "none": [],
    "binary_garbage": [bytes(range(256)), bytes(reversed(range(256)))],
}


@pytest.mark.parametrize("name", CASES)
def test_roundtrip(name):
    strs = CASES[name]
    out, _ = _roundtrip(strs)
    assert out == strs


@settings(max_examples=150, deadline=None)
@given(st.lists(st.binary(max_size=40), max_size=60))
def test_roundtrip_property(strs):
    out, _ = _roundtrip(strs)
    assert out == strs


def test_ratio_on_structured_ids():
    strs = [f"doc_{i:08d}".encode() for i in range(20000)]
    out, sz = _roundtrip(strs)
    raw = sum(len(s) for s in strs)
    assert out == strs
    assert raw / sz > 2.0, f"fsst ratio {raw / sz:.2f} too weak on ids"


def test_symbol_table_roundtrip():
    t = fsst.build_table([b"hello world", b"hello there", b"well hello"])
    blob = t.serialize()
    t2, pos = fsst.SymbolTable.deserialize(memoryview(blob))
    assert pos == len(blob)
    assert t2.symbols == t.symbols


# ---------------------------------------------------------------------------
# The table build caps greedy match lengths at the table's longest symbol;
# the uncapped loop below is the oracle.
# ---------------------------------------------------------------------------

def _uncapped_greedy(data, table, max_len=None):
    out = []
    i, n = 0, len(data)
    while i < n:
        for L in range(min(fsst.MAX_SYM_LEN, n - i), 0, -1):
            cand = data[i : i + L]
            if cand in table:
                out.append(cand)
                i += L
                break
        else:
            out.append(data[i : i + 1])
            i += 1
    return out


def _doc_id_like(rng) -> list[bytes]:
    ids = rng.integers(0, 80_000_000, 2000)
    return [f"doc_{i:08d}".encode() for i in np.sort(ids)]


def _random_bytes(rng) -> list[bytes]:
    return [rng.integers(0, 256, rng.integers(0, 40), dtype=np.uint8)
            .tobytes() for _ in range(500)]


TABLE_INPUTS = {
    **CASES,
    "hello": [b"hello world", b"hello there", b"well hello"],
    "doc_id_like": _doc_id_like(np.random.default_rng(5)),
    "random_bytes": _random_bytes(np.random.default_rng(6)),
}


@pytest.mark.parametrize("name", TABLE_INPUTS)
def test_capped_table_build_matches_uncapped(name, monkeypatch):
    strs = TABLE_INPUTS[name]
    got = fsst.build_table(strs).symbols
    monkeypatch.setattr(fsst, "_greedy_encode_py", _uncapped_greedy)
    assert got == fsst.build_table(strs).symbols


@pytest.mark.parametrize("corpus,rows", [("fixture", 234_375),
                                         ("zipf", 25_000)])
def test_bin_codec_choice_unchanged_by_capped_build(corpus, rows, tmp_path,
                                                    monkeypatch):
    """Every doc_id/source block of one clustered part, as the encode task
    hands it to the selector, selects the same codec with the capped and
    the uncapped table build. The gate's window estimate is taken out, so
    the trial runs where the strided sample alone lets it (with it, no
    table is built on these parts: ``test_no_fsst_table_on_benchmark_parts``)."""
    from perfbench import corpus as C
    from perfbench.workloads import BATCH_ROWS
    from zseq import encode
    from zseq.codecs import bytescodecs as BC

    tbl = C.make_table(corpus, 7, 14_000_000, rows)
    calls = []
    select = BC.select_bin_codec

    def recorded(lengths, data):
        calls.append((lengths.copy(), data.copy(), select(lengths, data)))
        return calls[-1][2]

    builds = []
    build = fsst.build_table
    monkeypatch.setattr(BC, "select_bin_codec", recorded)
    monkeypatch.setattr(BC, "_window_ratio", lambda *_: float("inf"))
    monkeypatch.setattr(fsst, "build_table",
                        lambda strs: builds.append(1) or build(strs))
    encode._encode_table_to_file(tbl, str(tmp_path), 0, tbl.schema, True,
                                 BATCH_ROWS, 0.0)
    # doc_id and source per block, plus nested dictionary selections
    assert len(calls) >= 2 * -(-rows // BATCH_ROWS)
    monkeypatch.setattr(fsst, "_greedy_encode_py", _uncapped_greedy)
    assert [c for _l, _d, c in calls] == [select(l, d) for l, d, _c in calls]
    assert builds  # the FSST trial ran on some block


@pytest.mark.parametrize("corpus,rows", [("fixture", 234_375),
                                         ("zipf", 25_000)])
def test_no_fsst_table_on_benchmark_parts(corpus, rows, tmp_path,
                                          monkeypatch):
    """The clustered 12-byte doc_ids of both benchmark corpora: FSST's
    floor (2 codes per id, 0.167 of the bytes) loses to zstd of
    contiguous windows (fixture 0.106, Zipf 0.153), so no part builds a
    table, and every block picks the codec it picked with the trial."""
    from perfbench import corpus as C
    from perfbench.workloads import BATCH_ROWS
    from zseq import encode
    from zseq.codecs import bytescodecs as BC

    tbl = C.make_table(corpus, 7, 14_000_000, rows)
    calls = []
    select = BC.select_bin_codec

    def recorded(lengths, data):
        calls.append((lengths.copy(), data.copy(), select(lengths, data)))
        return calls[-1][2]

    def refuse(_strs):
        raise AssertionError("fsst.build_table called")

    monkeypatch.setattr(BC, "select_bin_codec", recorded)
    monkeypatch.setattr(fsst, "build_table", refuse)
    encode._encode_table_to_file(tbl, str(tmp_path), 0, tbl.schema, True,
                                 BATCH_ROWS, 0.0)
    monkeypatch.undo()
    monkeypatch.setattr(BC, "_window_ratio", lambda *_: float("inf"))
    assert [c for _l, _d, c in calls] == [select(l, d) for l, d, _c in calls]
