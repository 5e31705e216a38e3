"""The encode task body: the parquet read (``_read_parquet``), the
clustered row gather (``_take_table``), a pin of the bytes
``_encode_table_to_file`` writes, and pins of what every writer
commits."""

import os
import tracemalloc

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from perfbench import corpus as C
from zseq import encode, synth


def _lists(lengths, values, typ, nulls=None):
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    odt = pa.int64() if pa.types.is_large_list(typ) else pa.int32()
    mask = None if nulls is None else pa.array(nulls)
    arr = (pa.LargeListArray if pa.types.is_large_list(typ)
           else pa.ListArray).from_arrays(
        pa.array(offs, type=odt), pa.array(values[: offs[-1]]), mask=mask)
    return arr.cast(typ)


def _table() -> pa.Table:
    """Every list shape the gather meets: empty rows, a run of 2048-token
    rows, list<int32|int64|float64>, large_list, null list entries,
    null values inside lists, and string values."""
    rng = np.random.default_rng(3)
    n = 300
    lengths = rng.integers(0, 40, n)
    lengths[::7] = 0
    lengths[50:60] = 2048
    total = int(lengths.sum())
    vals = rng.integers(-(2**20), 2**20, total)
    nulls = np.zeros(n, dtype=bool)
    nulls[5::11] = True
    holes = pa.array(vals[:total].astype(np.int32),
                     mask=np.arange(total) % 13 == 0)
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offs[1:])
    return pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(n)]),
        "tok": _lists(lengths, vals.astype(np.int32), pa.list_(pa.int32())),
        "tok64": _lists(lengths[::-1], vals * 4096,
                        pa.list_(pa.field("v", pa.int64(), False))),
        "f": _lists(lengths, vals / 7.0, pa.list_(pa.float64())),
        "big": _lists(lengths, vals.astype(np.int32),
                      pa.large_list(pa.int32())),
        "nullable": _lists(lengths, vals.astype(np.int32),
                           pa.list_(pa.int32()), nulls),
        "holes": pa.ListArray.from_arrays(pa.array(offs), holes),
        "words": _lists(lengths % 5, np.array([str(v) for v in vals]),
                        pa.list_(pa.string())),
        "n": pa.array(lengths.astype(np.int32)),
    })


def _chunked(tbl: pa.Table, chunks: int) -> pa.Table:
    if chunks == 1:
        return tbl
    k = tbl.num_rows // 3  # sliced chunks: list arrays with an offset
    out = pa.concat_tables([tbl.slice(0, k), tbl.slice(k)])
    assert all(c.num_chunks == 2 for c in out.columns)
    return out


@pytest.mark.parametrize("chunks", [1, 2])
@pytest.mark.parametrize("how", ["identity", "reverse", "cluster"])
def test_take_table_equals_arrow_take(chunks, how):
    tbl = _chunked(_table(), chunks)
    n = tbl.num_rows
    order = {"identity": np.arange(n), "reverse": np.arange(n)[::-1].copy(),
             "cluster": encode._cluster_order(tbl)}[how]
    got = encode._take_table(tbl, order)
    want = tbl.take(pa.array(order))
    assert got.schema == tbl.schema
    for name in tbl.column_names:
        assert got.column(name).equals(want.column(name)), name


def test_take_table_blocks_of_four_chunks():
    """The blocks of a 4-chunk table, gathered one block at a time as
    ``_encode_table_to_file`` gathers them, equal Arrow's take of the
    whole clustered order sliced per block. A block of an Arrow-path
    column takes its rows from the chunks that hold them: Arrow's pool
    never holds the whole column again, as a concatenation would."""
    def four_chunks(tbl):
        k = tbl.num_rows // 4
        out = pa.concat_tables([tbl.slice(i * k, k) for i in range(3)]
                               + [tbl.slice(3 * k)])
        assert all(c.num_chunks == 4 for c in out.columns)
        return out

    tbl = four_chunks(_table())
    order = encode._cluster_order(tbl)
    want = tbl.take(pa.array(order))
    for lo in range(0, tbl.num_rows, 64):
        got = encode._take_table(tbl, order[lo:lo + 64])
        assert got.schema == tbl.schema
        for name in tbl.column_names:
            assert got.column(name).equals(
                want.column(name).slice(lo, 64)), (lo, name)
    tbl = four_chunks(synth.tokens_table_arrow(20_000)).select(["doc_id"])
    order = encode._cluster_order(synth.tokens_table_arrow(20_000))
    default = pa.default_memory_pool()
    for lo in range(0, tbl.num_rows, 2500):
        pool = pa.proxy_memory_pool(default)
        pa.set_memory_pool(pool)
        try:
            got = encode._take_table(tbl, order[lo:lo + 2500])
        finally:
            pa.set_memory_pool(default)
        same = got.column(0).equals(
            tbl.column(0).take(pa.array(order[lo:lo + 2500])))
        del got  # its Arrow buffers live in ``pool``: free them first
        assert same, lo
        assert pool.max_memory() < 0.5 * tbl.nbytes, (
            lo, pool.max_memory(), tbl.nbytes)


def test_cluster_order_is_chunking_invariant():
    tbl = _table()
    assert np.array_equal(encode._cluster_order(tbl),
                          encode._cluster_order(_chunked(tbl, 2)))


def _cluster_oracle(tbl: pa.Table, name: str) -> np.ndarray:
    """Row order by (bit width of the row's max |value|, length), from
    Python ints; a null element is no value. The row's extremes are
    cast to int64 first, so a uint64 extreme past 2^63 wraps, as it
    always has."""
    def wrap(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    rows = [r or [] for r in tbl.column(name).to_pylist()]
    lengths = [len(r) for r in rows]
    rows = [[v for v in r if v is not None] for r in rows]
    rowmax = [min(max(abs(wrap(max(r))), abs(wrap(min(r)))), 1 << 52)
              if r else 0 for r in rows]
    width = np.frexp(np.array(rowmax, dtype=np.float64))[1]
    return np.lexsort((lengths, width))


@pytest.mark.parametrize("chunks", [1, 2])
@pytest.mark.parametrize("values", ["negative", "non_negative", "uint32",
                                    "uint64"])
def test_cluster_order_matches_abs_max_oracle(values, chunks):
    """A list column with a negative value keeps the min reduction (|min|
    can pass the max); without one the row max alone orders the rows,
    except uint64, whose extremes wrap in the cast to int64. Every case
    gives the order of the per-row max |value|."""
    tbl = _table().select(["tok", "n"])
    tok = tbl.column("tok").combine_chunks()
    vals = tok.values.to_numpy()
    if values == "non_negative":
        vals = np.abs(vals)
    elif values == "uint32":
        vals = np.abs(vals).astype(np.uint32) << np.uint32(11)
    elif values == "uint64":
        vals = np.abs(vals).astype(np.uint64) << np.uint64(44)
    tok = pa.ListArray.from_arrays(tok.offsets, pa.array(vals))
    tbl = _chunked(tbl.set_column(0, "tok", tok), chunks)
    assert (vals.min() < 0) == (values == "negative")
    assert np.array_equal(encode._cluster_order(tbl),
                          _cluster_oracle(tbl, "tok"))


@pytest.mark.parametrize("chunks", [1, 2])
def test_cluster_order_counts_only_valid_elements(chunks):
    """Null elements (every 13th value) and null rows of a list<int32>
    column are no value: no float NaN reaches an int cast (which warned
    and wrapped to INT64_MIN), and the rows take the width order of
    their valid values."""
    import warnings

    base = _table()
    holes = base.column("holes").combine_chunks()
    nulls = np.zeros(len(holes), dtype=bool)
    nulls[3::17] = True
    tok = pa.ListArray.from_arrays(holes.offsets, holes.values,
                                   mask=pa.array(nulls))
    tbl = _chunked(pa.table({"tok": tok, "n": base.column("n")}), chunks)
    assert tok.values.null_count and tok.null_count
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = encode._cluster_order(tbl)
    assert np.array_equal(got, _cluster_oracle(tbl, "tok"))


def test_take_table_allocates_about_one_output():
    """The gather writes rows straight into one output buffer: no
    per-element index arrays the size of the column, and no combined
    copy of a multi-chunk input (2 chunks: how a fixture part reads).
    tracemalloc sees numpy's buffers; Arrow's pool allocations (a
    ``combine_chunks`` copy) are counted through a proxy pool."""
    for chunks in (1, 2):
        tbl = _chunked(synth.tokens_table_arrow(13_000), chunks)
        out_bytes = tbl.column("tokens").combine_chunks().values.nbytes
        assert out_bytes >= 8_000_000  # ~2M int32 tokens
        order = encode._cluster_order(tbl)
        default = pa.default_memory_pool()
        pool = pa.proxy_memory_pool(default)
        pa.set_memory_pool(pool)
        tracemalloc.start()
        try:
            got = encode._take_table(tbl, order)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
            pa.set_memory_pool(default)
        same = got.column("tokens").equals(
            tbl.column("tokens").take(pa.array(order)))
        del got  # its Arrow buffers live in ``pool``: free them first
        assert same, chunks
        assert peak < 1.5 * out_bytes, (chunks, peak, out_bytes)
        assert pool.max_memory() < 0.1 * out_bytes, (
            chunks, pool.max_memory(), out_bytes)


def test_raw_bytes_is_chunking_invariant(tmp_path):
    """A part's ``raw_bytes`` counts its rows' Arrow data, not how the
    table holds them: the same fixture rows as one chunk, as four
    chunks, and as the parquet task streams and casts them (three
    different ``Table.nbytes``) record one ``raw_bytes``, the count of
    values, offsets and string bytes."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = str(tmp_path / "in.parquet")
    C.write_file("fixture", 7, 14_000_000, 2_000, src)
    one = pq.read_table(src).combine_chunks()
    k = one.num_rows // 4
    four = pa.concat_tables([one.slice(i * k, k) for i in range(3)]
                            + [one.slice(3 * k)])
    got = [encode._encode_table_to_file(tbl, str(tmp_path), i, tbl.schema,
                                        True, 1 << 16, 0.0)["raw_bytes"]
           for i, tbl in enumerate((one, four))]
    task = encode._encode_files(str(tmp_path), pq.read_schema(src), None,
                                "raw")
    [row] = list(task((2, src)))
    got.append(row.column("raw_bytes")[0].as_py())
    # no nulls, so no validity bits: 4-byte offsets of doc_id, tokens
    # and source, n_tok, and the int32 tokens
    assert all(c.null_count == 0 for c in one.columns)
    strings = sum(pc.sum(pc.binary_length(one.column(c))).as_py()
                  for c in ("doc_id", "source"))
    tokens = pc.sum(pc.list_value_length(one.column("tokens"))).as_py()
    want = 4 * (4 * one.num_rows + tokens) + strings
    assert got == [want] * 3, (got, want)


def _subprocess_env() -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return dict(os.environ, PYTHONPATH=root)


@pytest.fixture(scope="module")
def fixture_part(tmp_path_factory):
    """One fixture part (234,375 rows, 153 MB of Arrow) and a 2,000-row
    warm-up part, written by a subprocess."""
    import subprocess
    import sys

    d = tmp_path_factory.mktemp("fixture_part")
    warm, part = str(d / "warm.parquet"), str(d / "part.parquet")
    subprocess.run(
        [sys.executable, "-c",
         "from perfbench import corpus as C\n"
         f"C.write_file('fixture', 7, 14_000_000, 2_000, {warm!r})\n"
         f"C.write_file('fixture', 7, 14_000_000, 234_375, {part!r})"],
        env=_subprocess_env(), check=True)
    return warm, part


# Peak RSS is the process's VmHWM: ru_maxrss would start at the RSS of
# the process that spawned this one (Linux carries it across exec).
_RSS_PROBE = """
import sys
import pyarrow.parquet as pq
from zseq import encode
def hwm():
    with open("/proc/self/status") as f:
        return next(int(ln.split()[1]) << 10 for ln in f
                    if ln.startswith("VmHWM:"))
warm, part, out = sys.argv[1:]
task = encode._encode_files(out, pq.read_schema(part), None, "mem")
list(task((0, warm)))
before = hwm()
[row] = list(task((1, part)))
print(hwm() - before, row.column("raw_bytes")[0].as_py())
"""


def test_encode_task_peak_rss_is_bounded(fixture_part, tmp_path):
    """One fixture part (234,375 rows, 153 MB of Arrow) through the
    parquet task body, in a fresh process after a 2,000-row warm-up
    part: its peak RSS grows by at most 1.65x the part's Arrow bytes. A
    whole-file read plus a combined tokens column and a clustered copy
    of the whole part grows it by 5.4-6.2x; a streamed read gathering
    one block at a time, by 2.1-2.2x; with each FORBP segment built once
    in pieces and the column chunks read 1 MiB at a time, by 1.64x; with
    4,096-row batches and the tokens streamed into one buffer, by
    1.64-1.67x (the buffer's pages replace the Arrow pool's); with each
    block freed before the next gather, by 1.52-1.56x (11 runs in two
    windows on one 4-vCPU host). The bound is the largest of those plus
    0.09x (about 14 MiB), over twice their spread: peak RSS moves with
    the allocator, the pyarrow build and the page size. It stays under
    the 1.67x of a task that holds a block through the next gather."""
    import subprocess
    import sys

    warm, part = fixture_part
    out = subprocess.run(
        [sys.executable, "-c", _RSS_PROBE, warm, part, str(tmp_path)],
        env=_subprocess_env(), check=True, capture_output=True,
        text=True).stdout
    grown, arrow_bytes = map(int, out.split())
    assert arrow_bytes > 150_000_000
    assert grown <= 1.65 * arrow_bytes, (grown, arrow_bytes,
                                         grown / arrow_bytes)


_POOL_PROBE = """
import sys
import pyarrow as pa
from zseq import encode
tbl = encode._read_parquet(sys.argv[1])
print(pa.default_memory_pool().max_memory(),
      sum(encode._data_bytes(c.chunks) for c in tbl.columns))
"""


def test_parquet_read_keeps_the_arrow_pool_small(fixture_part):
    """The task body's read of a fixture part, in a fresh process:
    Arrow's pool peaks at no more than a quarter of the part's Arrow
    bytes. Reading 65,536-row batches peaked it at 1.60x (245 MB):
    Arrow grows each batch's list buffers to their size."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c", _POOL_PROBE, fixture_part[1]],
        env=_subprocess_env(), check=True, capture_output=True,
        text=True).stdout
    peak, raw = map(int, out.split())
    assert raw > 150_000_000
    assert peak <= 0.25 * raw, (peak, raw, peak / raw)


def _with_nulls(tbl: pa.Table, name: str, rows: np.ndarray,
                elems: bool) -> pa.Table:
    """``tbl`` with the list column ``name`` null at ``rows`` (or, with
    ``elems``, holding a null element in each of those rows)."""
    col = tbl.column(name).combine_chunks()
    vals = col.values
    if elems:
        offs = col.offsets.to_numpy()
        hit = np.zeros(len(vals), dtype=bool)
        starts = offs[:-1][rows]
        hit[starts[starts < offs[1:][rows]]] = True
        arr = pa.ListArray.from_arrays(
            col.offsets, pa.array(vals.to_numpy(), mask=hit), type=col.type)
    else:
        mask = np.zeros(len(col), dtype=bool)
        mask[rows] = True
        arr = pc.if_else(pa.array(mask), pa.scalar(None, col.type), col)
    return tbl.set_column(tbl.column_names.index(name), name, arr)


def _read_case(name: str) -> tuple[pa.Table, pa.Schema | None]:
    """(table to write, schema the task is given or None for the
    file's) for one shape the parquet read meets."""
    tbl = C.make_table("fixture", 7, 14_000_000, 20_000)
    rows = np.arange(9_000, 20_000, 7)  # past the first read batches
    if name == "row_groups":
        return tbl, None
    if name == "null_rows":
        return _with_nulls(tbl, "tokens", rows, False), None
    if name == "null_elements":
        return _with_nulls(tbl, "tokens", rows, True), None
    if name == "null_from_the_start":
        return _with_nulls(tbl, "tokens", np.arange(0, 20_000, 5),
                           False), None
    if name == "large_list_int64":
        return tbl.set_column(1, "tokens", tbl.column("tokens").cast(
            pa.large_list(pa.int64()))), None
    if name == "list_float":
        col = tbl.column("tokens").combine_chunks()
        w = pa.ListArray.from_arrays(
            col.offsets,
            pa.array(col.values.to_numpy().astype(np.float32) / 7))
        return tbl.append_column("w", w), None
    if name == "list_not_first":
        return pa.table({"doc_id": tbl.column("doc_id"),
                         "extra": pa.array(np.arange(20_000) * 3),
                         "source": tbl.column("source"),
                         "tokens": tbl.column("tokens"),
                         "n_tok": tbl.column("n_tok")}), None
    if name == "type_drift":
        narrow = pa.schema([
            ("doc_id", pa.string()),
            ("tokens", pa.list_(pa.field("element", pa.int32()))),
            ("n_tok", pa.int16()), ("source", pa.large_string())])
        wide = pa.schema([
            ("doc_id", pa.string()),
            ("tokens", pa.large_list(pa.field("element", pa.int64()))),
            ("n_tok", pa.int32()), ("source", pa.string())])
        return tbl.cast(narrow), wide
    if name == "empty_lists":
        empty = pa.ListArray.from_arrays(
            pa.array(np.zeros(20_001, dtype=np.int32)),
            pa.array([], pa.int32()))
        return tbl.set_column(1, "tokens", empty), None
    if name == "zero_rows":
        return tbl.slice(0, 0), None
    raise KeyError(name)


READ_CASES = ["row_groups", "null_rows", "null_elements",
              "null_from_the_start", "large_list_int64", "list_float",
              "list_not_first", "type_drift", "empty_lists", "zero_rows"]


def _sha256(path: str) -> str:
    import hashlib

    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _task_and_oracle(src: str, schema: pa.Schema, out: str) -> tuple:
    """sha256 of the part the parquet task body writes for ``src``, and
    of the part ``_encode_table_to_file`` writes from ``pq.read_table``
    of it."""
    import pyarrow.parquet as pq

    task_dir, oracle_dir = (os.path.join(out, d) for d in ("t", "o"))
    os.makedirs(task_dir)
    os.makedirs(oracle_dir)
    [row] = list(encode._encode_files(task_dir, schema, None, "rd")(
        (3, src)))
    fname = row.column("file")[0].as_py()
    encode._encode_table_to_file(
        pq.read_table(src).cast(schema), oracle_dir, 3, schema, True,
        encode.BATCH_ROWS, 0.0, fname=fname)
    return (_sha256(os.path.join(task_dir, fname)),
            _sha256(os.path.join(oracle_dir, fname)))


@pytest.mark.parametrize("case", READ_CASES)
def test_parquet_task_writes_the_whole_file_reads_bytes(case, tmp_path,
                                                       monkeypatch):
    """The parquet task body's part is byte for byte the part of a
    whole-file ``pq.read_table`` and cast, for every shape its read
    streams or falls back on. Row groups of 5,000 rows do not align with
    the 4,096-row read batches, and 10,000-row blocks make each block
    span read chunks."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(encode, "BATCH_ROWS", 10_000)
    tbl, schema = _read_case(case)
    src = str(tmp_path / "in.parquet")
    pq.write_table(tbl, src, row_group_size=5_000)
    task, oracle = _task_and_oracle(src, schema or pq.read_schema(src),
                                    str(tmp_path))
    assert task == oracle


def test_parquet_task_hands_tokens_over_as_one_chunk(tmp_path,
                                                     monkeypatch):
    """The tokens column reaches ``_encode_table_to_file`` as one chunk
    (one gather per run of equal-length rows); the string columns as
    chunks of at most ``BATCH_ROWS`` rows."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "in.parquet")
    pq.write_table(C.make_table("fixture", 7, 14_000_000, 20_000), src,
                   row_group_size=5_000)
    seen = {}
    real = encode._encode_table_to_file

    def spy(tbl, *args, **kw):
        seen.update((n, [len(c) for c in tbl.column(n).chunks])
                    for n in tbl.column_names)
        return real(tbl, *args, **kw)

    monkeypatch.setattr(encode, "BATCH_ROWS", 8_192)
    monkeypatch.setattr(encode, "_encode_table_to_file", spy)
    list(encode._encode_files(str(tmp_path), pq.read_schema(src), None,
                              "one")((0, src)))
    assert seen["tokens"] == [20_000]
    assert seen["doc_id"] == seen["source"] == [8_192, 8_192, 3_616]


def test_block_string_bytes_past_int32_offsets_are_refused(tmp_path,
                                                           monkeypatch):
    """With the int32 offset limit patched between a block's string
    bytes and the part's token count, the tokens column falls back to
    Arrow's chunks and the part's bytes do not change. Patched under a
    block's ``doc_id`` bytes, the part is refused with a ValueError
    naming the column, clustered or not, where pyarrow would raise
    while combining the block."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "in.parquet")
    tbl = C.make_table("fixture", 7, 14_000_000, 10_000)
    pq.write_table(tbl, src)
    schema = pq.read_schema(src)
    want = _task_and_oracle(src, schema, str(tmp_path / "a"))
    assert want[0] == want[1]
    tokens = pc.sum(pc.list_value_length(tbl.column("tokens"))).as_py()
    strings = max(pc.sum(pc.binary_length(tbl.column(c))).as_py()
                  for c in ("doc_id", "source"))
    limit = 2 * strings
    assert limit < tokens // 2
    monkeypatch.setattr(encode, "_OFFSETS_MAX", limit)
    chunks = encode._read_parquet(src).column("tokens").num_chunks
    assert chunks > 1
    assert _task_and_oracle(src, schema, str(tmp_path / "b")) == want
    doc_bytes = pc.sum(pc.binary_length(tbl.column("doc_id"))).as_py()
    monkeypatch.setattr(encode, "_OFFSETS_MAX", doc_bytes - 1)
    for cluster in (True, False):
        two = pa.concat_tables([tbl.slice(0, 5_000), tbl.slice(5_000)])
        with pytest.raises(ValueError, match="'doc_id'.*large_string"):
            encode._encode_table_to_file(two, str(tmp_path), 0, schema,
                                         cluster, 1 << 16, 0.0)
    with pytest.raises(ValueError, match="'doc_id'"):
        list(encode._encode_files(str(tmp_path), schema, None, "big")(
            (0, src)))


# enc_bytes and crc32 of one clustered part. The fixture's enc_bytes date
# from before the one-copy gather, lazy PACK and capped FSST build, which
# left every encoded byte as it was; its crc32 moved with the format
# revision 00003 magic alone. The zipf part's tokens column takes the
# width-symbol codec since 00003, so its enc_bytes fell. The fixture
# part fell again (441,698 -> 441,626 B) when a FORBP tokens chunk's
# byte-width re-pack could wrap first.
PINS = {
    "fixture": (lambda: synth.tokens_table_arrow(20_000, start=0),
                441_626, 2_507_291_688),
    "zipf": (lambda: C.make_table("zipf", 7, 0, 5_000),
             969_356, 3_785_171_250),
}


@pytest.mark.parametrize("name", PINS)
def test_encoded_part_bytes_pinned(name, tmp_path):
    make, enc_bytes, crc32 = PINS[name]
    tbl = make()
    row = encode._encode_table_to_file(tbl, str(tmp_path), 0, tbl.schema,
                                       True, 1 << 16, 0.0)
    assert (row["enc_bytes"], row["crc32"]) == (enc_bytes, crc32)


def _tokens_codecs_by_block(path: str) -> dict[str, list[int]]:
    """{codec: [blocks, segment bytes]} of the ``tokens`` column's values,
    counted by walking the part file's blocks: header, then per block a
    marker, a row count and one length-prefixed chunk per field. A
    ``list<int32>`` chunk without nulls is a list head, the lengths
    segment, then the values chunk: an int head, width and signedness
    bytes, and the values segment."""
    import json
    import struct

    from zseq import column as COL
    from zseq.codecs import intcodecs as IC

    with open(path, "rb") as f:
        buf = f.read()
    pos = 16
    for _ in range(2):  # meta, then the Arrow schema
        (n,) = struct.unpack_from("<I", buf, pos)
        if _ == 1:
            names = pa.ipc.read_schema(
                pa.py_buffer(buf[pos + 4:pos + 4 + n])).names
        else:
            json.loads(buf[pos + 4:pos + 4 + n])
        pos += 4 + n
    hist: dict[str, list[int]] = {}
    while buf[pos] == 1:
        pos += 5
        for name in names:
            (clen,) = struct.unpack_from("<I", buf, pos)
            if name == "tokens":
                at = pos + 4
                assert COL._HEAD.unpack_from(buf, at) == (COL.K_LIST, 0)
                at += COL._HEAD.size
                at += IC.HEADER.size + IC.HEADER.unpack_from(buf, at)[1]
                assert COL._HEAD.unpack_from(buf, at) == (COL.K_INT, 0)
                at += COL._HEAD.size + 2
                tag, plen = IC.HEADER.unpack_from(buf, at)
                h = hist.setdefault(IC.INT_CODEC_NAMES[tag], [0, 0])
                h[0] += 1
                h[1] += IC.HEADER.size + plen
            pos += 4 + clen
    return hist


def test_codec_hist_counts_every_block(tmp_path):
    """A part whose blocks split between codecs reports all of them:
    fixture rows (zstd_wrap) then Zipf rows (width_sym), 1,000-row
    blocks, against a count taken over the part file's chunks."""
    import json

    tbl = pa.concat_tables([synth.tokens_table_arrow(3000),
                            C.make_table("zipf", 7, 0, 3000)])
    row = encode._encode_table_to_file(tbl, str(tmp_path), 0, tbl.schema,
                                       False, 1000, 0.0)
    hist = json.loads(row["codec_hist"])
    want = _tokens_codecs_by_block(os.path.join(str(tmp_path),
                                                row["file"]))
    assert hist["tokens.element"] == want
    assert set(want) == {"zstd_wrap", "width_sym"}
    assert sum(b for b, _ in want.values()) == 6
    # the last block's codec, as before, and every path counts 6 blocks
    assert json.loads(row["codecs"])["tokens.element"] == "width_sym"
    assert all(sum(b for b, _ in h.values()) == 6 for h in hist.values())


# Every writer on one fixed 3,000-row table: the (part_id, rows,
# enc_bytes, crc32) of each committed part and the manifest's keys. The
# enc_bytes date from before the writers shared one batches->part
# helper, one part-file name and one task frame; the crc32s moved with
# the format revision 00003 magic alone. Every part shrank once since,
# when a FORBP tokens chunk's byte-width re-pack could wrap first: one
# part 198,830 -> 178,237 B, the two parts 133,734/133,117 ->
# 128,649/127,750, the compacted part 180,159 -> 179,545.
KEYS = ["format", "mode", "partitions", "partition_col", "zstd_level",
        "reversed_cols", "schema", "schema_names", "parts", "totals",
        "revision"]
ONE_PART = [(0, 3000, 178_237, 1_259_732_181)]
MERGED = [(2, 3000, 179_545, 1_385_625_156)]
WRITER_PINS = {
    "encode": (ONE_PART, KEYS),
    "datasource": (ONE_PART, KEYS),
    "compact": (MERGED, KEYS + ["compactions"]),
}


@pytest.mark.parametrize("writer", WRITER_PINS)
def test_writer_parts_pinned(writer, spark, tmp_path):
    from zseq.datasource import register

    out = str(tmp_path / writer)
    df = synth.tokens_df_range(spark, 3000, partitions=2)
    if writer == "encode":
        encode.encode(df.coalesce(1), out)
    elif writer == "datasource":
        register(spark)
        df.coalesce(1).write.format("zseq").mode("overwrite").save(out)
    else:
        before = encode.encode(df, out).manifest  # two parts
        assert [(p["part_id"], p["rows"], p["enc_bytes"], p["crc32"])
                for p in before["parts"]] == [
            (0, 1500, 128_649, 3_303_996_486),
            (1, 1500, 127_750, 52_750_428)]
        encode.compact_parts(out, target_bytes=1 << 30)
    m = encode.read_manifest(out)
    parts, keys = WRITER_PINS[writer]
    assert [(p["part_id"], p["rows"], p["enc_bytes"], p["crc32"])
            for p in m["parts"]] == parts
    assert list(m) == keys


def test_stream_sink_manifest_pinned(spark, tmp_path):
    """The stream sink's epoch manifest, key for key. Its part header
    carries the task attempt id, so its bytes are not pinned."""
    import pyarrow.parquet as pq

    from conftest import TOKENS_SCHEMA
    from zseq import streaming
    from zseq.datasource import register

    register(spark)
    src, out, ckpt = (str(tmp_path / k) for k in ("src", "out", "ckpt"))
    os.makedirs(src)
    pq.write_table(synth.tokens_table_arrow(300),
                   os.path.join(src, "wave-0.parquet"))
    q = (spark.readStream.schema(TOKENS_SCHEMA).parquet(src)
         .writeStream.format("zseq")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start(out))
    q.awaitTermination(120)
    [d] = streaming.committed_epochs(out)
    m = encode.read_manifest(d)
    assert list(m) == KEYS[:-1] + ["epoch", "revision"]
    assert (m["epoch"], m["mode"], m["revision"]) == (0, "stream", 1)
    assert [(p["part_id"], p["file"], p["rows"]) for p in m["parts"]] == \
        [(0, "part-00000.zseq", 300)]
    assert os.listdir(os.path.join(out, ".staging")) == []
