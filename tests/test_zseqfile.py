""".zseq file format roundtrips + integrity checks."""

import io
import json

import pyarrow as pa
import pytest

from zseq import synth, zseqfile


def test_tokens_table_roundtrip():
    tbl = synth.tokens_table_arrow(2000)
    blob = zseqfile.encode_table(tbl)
    out = zseqfile.decode_table(blob)
    assert out.equals(tbl)


def test_multi_batch_roundtrip():
    tbl = synth.tokens_table_arrow(3000)
    batches = tbl.to_batches(max_chunksize=500)
    blob = zseqfile.encode_table(pa.Table.from_batches(batches))
    out = zseqfile.decode_table(blob)
    assert out.equals(tbl)


def test_bad_magic():
    with pytest.raises(ValueError, match="magic"):
        zseqfile.decode_table(b"NOT A ZSEQ FILE" + b"\x00" * 100)


def test_magic_compat_reads_previous_revision():
    """The reader accepts the pre-zone-map revision 00001 alongside the
    current 00002 (one-way compatibility: new readers read old files;
    old readers refuse new files on the version bytes). Chunk parsing is
    flag-driven, so only the magic differs."""
    import zseq

    tbl = synth.tokens_table_arrow(500)
    blob = zseqfile.encode_table(tbl)
    assert blob[:16] == zseq.MAGIC
    old = zseq.MAGIC_COMPAT[1] + blob[16:]
    assert zseqfile.decode_table(old).equals(tbl)
    # an unknown FUTURE revision must refuse, not misparse
    future = b"||_ZSEQ||00099||" + blob[16:]
    with pytest.raises(ValueError, match="magic"):
        zseqfile.decode_table(future)


def test_rev00001_fixture_and_rev00002_file_read():
    """Files of every earlier revision still read: the checked-in
    rev00001 part as it lies on disk, and a file carrying the 00002
    magic (same chunk layout; only the width-symbol tag is new)."""
    import os

    import zseq

    fix = os.path.join(os.path.dirname(__file__), "fixtures",
                       "rev00001_ds", "part-00000.zseq")
    with open(fix, "rb") as f:
        blob = f.read()
    assert blob[:16] == b"||_ZSEQ||00001||"
    got = zseqfile.decode_table(blob)
    want = synth.tokens_table_arrow(64)
    assert sorted(got.column("doc_id").to_pylist()) == \
        sorted(want.column("doc_id").to_pylist())
    tbl = synth.tokens_table_arrow(500)
    cur = zseqfile.encode_table(tbl)
    assert cur[:16] == zseq.MAGIC == b"||_ZSEQ||00003||"
    assert b"||_ZSEQ||00002||" in zseq.MAGIC_COMPAT
    assert zseqfile.decode_table(
        b"||_ZSEQ||00002||" + cur[16:]).equals(tbl)


def test_older_reader_refuses_new_revision_at_header(monkeypatch):
    """A reader that knows only revisions 00001/00002 refuses a 00003
    file at the header, naming the revision, instead of failing
    mid-column on the unknown codec tag."""
    from perfbench import corpus as C

    from zseq.codecs import intcodecs as IC

    tbl = C.make_table("zipf", 7, 0, 300)
    sink = io.BytesIO()
    w = zseqfile.ZseqWriter(sink, tbl.schema)
    w.write_batch(tbl.combine_chunks().to_batches()[0])
    w.finish()
    blob = sink.getvalue()
    # the tag an old reader lacks
    assert w.codec_stats["tokens.element"] == \
        IC.INT_CODEC_NAMES[IC.T_WSYM]
    monkeypatch.setattr(zseqfile, "MAGIC_COMPAT",
                        (b"||_ZSEQ||00002||", b"||_ZSEQ||00001||"))
    with pytest.raises(ValueError, match="revision 00003 is newer"):
        zseqfile.ZseqReader(blob)


def test_truncated_file():
    blob = zseqfile.encode_table(synth.tokens_table_arrow(100))
    with pytest.raises(Exception):
        zseqfile.decode_table(blob[: len(blob) - 9])


def test_trailing_garbage():
    blob = zseqfile.encode_table(synth.tokens_table_arrow(100))
    with pytest.raises(ValueError):
        zseqfile.decode_table(blob + b"junk")


def test_empty_table():
    tbl = synth.tokens_table_arrow(0)
    blob = zseqfile.encode_table(tbl)
    out = zseqfile.decode_table(blob)
    assert out.num_rows == 0
    assert out.schema.equals(tbl.schema)


def test_mixed_types_table():
    tbl = pa.table({
        "i": pa.array([1, None, 3], type=pa.int64()),
        "d": pa.array([1.5, 2.5, None]),
        "s": pa.array(["a", None, "ccc"]),
        "b": pa.array([True, False, None]),
        "l": pa.array([[1, 2], None, []], type=pa.list_(pa.int32())),
    })
    assert zseqfile.decode_table(zseqfile.encode_table(tbl)).equals(tbl)


def test_truncation_at_any_body_byte_is_clean_valueerror():
    """The 'truncation detectable' contract: a file cut at ANY byte of the
    body fails with ValueError, never IndexError/struct.error."""
    blob = zseqfile.encode_table(synth.tokens_table_arrow(50))
    body = zseqfile.ZseqReader(blob)._body
    for cut in range(body, len(blob)):
        try:
            zseqfile.decode_table(blob[:cut])
        except ValueError:
            continue
        raise AssertionError(f"cut at {cut} did not raise ValueError")


def test_table_with_enum_column_roundtrip():
    """A full .zseq file whose schema contains an Enum (dense union)."""
    import numpy as np
    t = pa.union([pa.field("n", pa.int64()), pa.field("t", pa.string())],
                 mode="dense", type_codes=[0, 1])
    codes = np.array([0, 1, 1, 0, 1] * 20, dtype=np.int8)
    offs = np.zeros(codes.size, np.int32)
    for c in (0, 1):
        m = codes == c
        offs[m] = np.arange(m.sum(), dtype=np.int32)
    u = pa.UnionArray.from_dense(
        pa.array(codes, pa.int8()), pa.array(offs, pa.int32()),
        [pa.array(list(range((codes == 0).sum())), pa.int64()),
         pa.array([f"v{i}" for i in range((codes == 1).sum())])],
        field_names=["n", "t"], type_codes=[0, 1])
    tbl = pa.table({"k": pa.array(range(codes.size), pa.int64()),
                    "e": u})
    blob = zseqfile.encode_table(tbl)
    out = zseqfile.decode_table(blob)
    assert out.equals(tbl)


def test_reversed_marker_roundtrip():
    """Reversed (striped.rs:490-513): schema metadata + a no-op chunk
    wrapper; values/ordering roundtrip bit-exactly and the marker
    survives the file header."""
    from zseq import column as C

    tbl = synth.tokens_table_arrow(300)
    marked = C.mark_reversed(tbl.schema, ["n_tok"])
    blob = zseqfile.encode_table(
        pa.Table.from_batches(tbl.to_batches(), schema=marked))
    r = zseqfile.ZseqReader(blob)
    assert C.is_reversed(r.schema.field("n_tok"))
    assert not C.is_reversed(r.schema.field("doc_id"))
    out = zseqfile.decode_table(blob)
    assert out.to_pylist() == tbl.to_pylist()
    # predicate pushdown still sees through the wrapper (zone map on the
    # wrapped int column prunes as usual)
    r2 = zseqfile.ZseqReader(blob)
    list(r2.batches(columns=["doc_id"], predicate=[("n_tok", ">", 10**9)]))
    assert r2.blocks_skipped >= 1


# ---------------------------------------------------------------------------
# Whole-table property test: one table mixing every column kind the format
# supports (ints, doubles, strings, bools, lists, structs, maps, decimals,
# timestamps, enum) must roundtrip bit-exactly for arbitrary values.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as hst


def _mixed_table(rows):
    import decimal

    import numpy as np

    # exact 38-digit arithmetic (the default 28-digit context rounds);
    # precompute under a LOCAL context so nothing leaks process-wide
    with decimal.localcontext() as ctx:
        ctx.prec = 60
        dec38 = [decimal.Decimal(r["i64"]) * (10 ** 19)
                 + decimal.Decimal(r["ev"]) for r in rows]
    n = len(rows)
    ut = pa.union([pa.field("i", pa.int64()), pa.field("s", pa.string())],
                  mode="dense", type_codes=[0, 1])
    codes, offs, ci, cs = [], [], [], []
    for r in rows:
        if r["ev"] % 2 == 0:
            codes.append(0); offs.append(len(ci)); ci.append(r["ev"])
        else:
            codes.append(1); offs.append(len(cs)); cs.append(str(r["ev"]))
    enum = pa.UnionArray.from_dense(
        pa.array(codes, pa.int8()), pa.array(offs, pa.int32()),
        [pa.array(ci, pa.int64()), pa.array(cs, pa.string())],
        field_names=["i", "s"], type_codes=[0, 1])
    return pa.table({
        "i64": pa.array([r["i64"] for r in rows], pa.int64()),
        "f64": pa.array([r["f64"] for r in rows], pa.float64()),
        "txt": pa.array([r["txt"] for r in rows], pa.string()),
        "flag": pa.array([r["flag"] for r in rows], pa.bool_()),
        "arr": pa.array([r["arr"] for r in rows],
                        pa.list_(pa.int32())),
        "st": pa.array([{"a": r["i64"], "b": r["txt"]} for r in rows],
                       pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "mp": pa.array([[(r["txt"][:3], r["i64"])] if r["flag"] else []
                        for r in rows],
                       pa.map_(pa.string(), pa.int64())),
        "dec": pa.array([decimal.Decimal(r["i64"] % 10**16) / 100
                         for r in rows], pa.decimal128(18, 2)),
        # two-limb path: spread i64 across the full 38-digit range
        "dec38": pa.array(dec38, pa.decimal128(38, 0)),
        "e": enum,
    })


@settings(max_examples=25, deadline=None)
@given(hst.lists(hst.fixed_dictionaries({
    "i64": hst.integers(-2**63, 2**63 - 1),
    "f64": hst.floats(allow_nan=True, allow_infinity=True),
    "txt": hst.text(max_size=24),
    "flag": hst.booleans(),
    "arr": hst.lists(hst.integers(-2**31, 2**31 - 1), max_size=8),
    "ev": hst.integers(0, 10**6),
}), min_size=1, max_size=60))
def test_mixed_kind_table_roundtrip(rows):
    import numpy as np

    tbl = _mixed_table(rows)
    blob = zseqfile.encode_table(tbl)
    out = zseqfile.decode_table(blob)
    for name in tbl.column_names:
        a = tbl.column(name).combine_chunks()
        b = out.column(name).combine_chunks()
        if name == "f64":
            # Table.equals says NaN != NaN; the roundtrip contract is
            # BIT-exact, so compare the float bit patterns.
            av = a.to_numpy(zero_copy_only=False).view(np.int64)
            bv = b.to_numpy(zero_copy_only=False).view(np.int64)
            assert np.array_equal(av, bv), name
        else:
            assert a.equals(b), name


def _writer(batch: pa.RecordBatch):
    """``write_batch(batch)`` on a writer whose header (meta and schema
    lengths, checked at construction) is already written."""
    w = zseqfile.ZseqWriter(io.BytesIO(), batch.schema)
    return lambda: w.write_batch(batch)


def test_block_row_count_past_u32_limit_is_refused(monkeypatch):
    """Past the u32 field a length is a ValueError naming the field (and
    the column, for a chunk), not a struct.error. The limit is patched,
    so no 4 GiB input is built."""
    from zseq.codecs import intcodecs as IC

    write = _writer(synth.tokens_table_arrow(10).to_batches()[0])
    monkeypatch.setattr(IC, "LEN_LIMIT", 9)
    with pytest.raises(ValueError, match="block row count 10 .* limit of 9"):
        write()


def test_chunk_length_past_u32_limit_names_the_column(monkeypatch):
    import numpy as np

    from zseq import column as COL
    from zseq.codecs import intcodecs as IC

    # a struct chunk holds 20 child chunks, so it is far longer than any
    # segment a child's codec selection builds: only the chunk is past
    rng = np.random.default_rng(0)
    wide = pa.StructArray.from_arrays(
        [pa.array(rng.integers(-2**62, 2**62, 1000)) for _ in range(20)],
        names=[f"c{i}" for i in range(20)])
    write = _writer(pa.record_batch([wide], names=["wide"]))
    chunk = COL.encode_column(wide, None, "wide", zone=True)
    monkeypatch.setattr(IC, "LEN_LIMIT", len(chunk) - 1)
    with pytest.raises(ValueError, match="column 'wide': chunk length"):
        write()


def test_segment_past_u32_limit_names_the_column(monkeypatch):
    from zseq.codecs import intcodecs as IC

    tok = synth.tokens_table_arrow(50).column("tokens").chunk(0)
    write = _writer(pa.record_batch([tok], names=["tokens"]))
    # above the chunk's distinct-value count (3,861), so the dict
    # candidate's cardinality field is not the one refused
    monkeypatch.setattr(IC, "LEN_LIMIT", 4000)
    with pytest.raises(ValueError,
                       match="column 'tokens': segment payload length"):
        write()


@pytest.mark.parametrize("field", ["meta length", "schema length"])
def test_header_length_past_u32_limit_is_refused(monkeypatch, field):
    from zseq.codecs import intcodecs as IC

    meta = {"k": "v" * 100}
    schema = synth.tokens_table_arrow(10).schema
    n = len(json.dumps(meta)) if field == "meta length" \
        else len(schema.serialize())
    monkeypatch.setattr(IC, "LEN_LIMIT", n - 1)
    with pytest.raises(ValueError, match=f"{field} {n:,} .* limit of"):
        zseqfile.ZseqWriter(io.BytesIO(), schema, meta)
