"""Projection + predicate pushdown into the .zseq reader: column skipping
via chunk-length prefixes, block pruning via zone maps."""

import numpy as np
import pyarrow as pa
import pytest

from zseq import synth, zseqfile
from zseq.zseqfile import ZseqReader


def _read(buf, columns=None, predicate=None) -> pa.Table:
    """The blocks of ``buf`` that ``predicate`` does not prune, with
    only ``columns``."""
    r = ZseqReader(buf)
    keep = r.schema.names if columns is None else columns
    return pa.Table.from_batches(
        list(r.batches(columns, predicate)),
        schema=pa.schema([f for f in r.schema if f.name in keep]))


@pytest.fixture(scope="module")
def blob():
    tbl = synth.tokens_table_arrow(4000)
    # multiple blocks so pruning has something to skip
    return zseqfile.encode_table(pa.Table.from_batches(
        tbl.to_batches(max_chunksize=500))), tbl


def test_projection_only_selected_columns(blob):
    buf, tbl = blob
    out = _read(buf, columns=["doc_id", "n_tok"])
    assert out.column_names == ["doc_id", "n_tok"]
    assert out.column("doc_id").to_pylist() == \
        tbl.column("doc_id").to_pylist()
    assert out.column("n_tok").to_pylist() == tbl.column("n_tok").to_pylist()


def test_projection_unknown_column_raises(blob):
    buf, _ = blob
    with pytest.raises(KeyError):
        _read(buf, columns=["nope"])


def test_predicate_prunes_blocks(blob):
    buf, tbl = blob
    r = ZseqReader(buf)
    # heavy rows (n_tok == 2048) exist in roughly 1/97 of rows; blocks of
    # 500 rows nearly all contain one, so prune on an impossible range:
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("n_tok", ">", 5000)])),
        schema=r.schema)
    assert out.num_rows == 0
    assert r.blocks_skipped == 8
    assert r.blocks_read == 0


def test_predicate_superset_semantics(blob):
    buf, tbl = blob
    r = ZseqReader(buf)
    got = pa.Table.from_batches(
        list(r.batches(predicate=[("n_tok", "=", 2048)])), schema=r.schema)
    # block-level pruning returns a superset of matching rows...
    want_ids = {
        d for d, n in zip(tbl.column("doc_id").to_pylist(),
                          tbl.column("n_tok").to_pylist()) if n == 2048
    }
    got_ids = set(got.column("doc_id").to_pylist())
    matching = {
        d for d, n in zip(got.column("doc_id").to_pylist(),
                          got.column("n_tok").to_pylist()) if n == 2048
    }
    assert matching == want_ids
    assert want_ids <= got_ids


def test_predicate_skips_with_sorted_data():
    # Sorted column -> tight zone maps -> most blocks pruned.
    ids = pa.table({
        "k": pa.array(np.arange(10000, dtype=np.int64)),
        "v": pa.array(np.arange(10000, dtype=np.int64) * 3),
    })
    buf = zseqfile.encode_table(pa.Table.from_batches(
        ids.to_batches(max_chunksize=1000)))
    r = ZseqReader(buf)
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("k", ">=", 9000)])), schema=r.schema)
    assert r.blocks_skipped == 9
    assert r.blocks_read == 1
    assert set(out.column("k").to_pylist()) == set(range(9000, 10000))


def test_projection_and_predicate_compose(blob):
    buf, _ = blob
    r = ZseqReader(buf)
    out = pa.Table.from_batches(
        list(r.batches(columns=["source"],
                       predicate=[("n_tok", ">", 2000)])),
        schema=pa.schema([r.schema.field("source")]))
    assert out.column_names == ["source"]
    assert out.num_rows > 0


def test_spark_decode_pushdown(spark, tmp_path):
    from zseq import decode as zdec
    from zseq import encode as zenc

    df = synth.tokens_df_range(spark, 2000, partitions=2)
    out = str(tmp_path / "pd")
    zenc.encode(df, out, partitions=2)
    cols = zdec.decode(spark, out, columns=["doc_id", "n_tok"])
    assert cols.columns == ["doc_id", "n_tok"]
    assert cols.count() == 2000
    heavy = zdec.decode(
        spark, out, predicate=[("n_tok", "=", 2048)]
    ).filter("n_tok = 2048")
    want = df.filter("n_tok = 2048").count()
    assert heavy.count() == want


def test_string_predicate_skips_with_sorted_data():
    # Sorted string column -> tight byte-bounds envelopes -> pruning.
    ids = [f"doc_{i:08d}" for i in range(10000)]
    tbl = pa.table({"doc_id": pa.array(ids),
                    "v": pa.array(np.arange(10000, dtype=np.int64))})
    buf = zseqfile.encode_table(pa.Table.from_batches(
        tbl.to_batches(max_chunksize=1000)))
    r = ZseqReader(buf)
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("doc_id", ">=", "doc_00009000")])),
        schema=r.schema)
    assert r.blocks_skipped == 9
    assert r.blocks_read == 1
    assert set(out.column("doc_id").to_pylist()) == set(ids[9000:])
    # equality + in-list prune too
    r2 = ZseqReader(buf)
    list(r2.batches(predicate=[("doc_id", "=", "doc_00000500")]))
    assert r2.blocks_read == 1 and r2.blocks_skipped == 9
    r3 = ZseqReader(buf)
    list(r3.batches(predicate=[
        ("doc_id", "in", ("doc_00000500", "doc_00005500"))]))
    assert r3.blocks_read == 2 and r3.blocks_skipped == 8


def test_string_zone_truncation_is_conservative():
    # Values longer than the 16-byte bound prefix: truncated lo stays a
    # lower bound, incremented hi prefix stays an upper bound — a value
    # inside the block is NEVER pruned away.
    vals = ["prefix_aaaaaaaaaaaaaaaa_%04d" % i for i in range(100)] \
        + ["prefix_zzzzzzzzzzzzzzzz_%04d" % i for i in range(100)]
    tbl = pa.table({"s": pa.array(vals),
                    "v": pa.array(np.arange(200, dtype=np.int64))})
    buf = zseqfile.encode_table(pa.Table.from_batches(
        tbl.to_batches(max_chunksize=100)))
    r = ZseqReader(buf)
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("s", "=", vals[150])])), schema=r.schema)
    assert vals[150] in set(out.column("s").to_pylist())
    # just above the truncated prefix the envelope CANNOT prove empty
    # (the incremented-hi bound covers it) — superset semantics, no skip
    r2 = ZseqReader(buf)
    list(r2.batches(predicate=[("s", ">", "prefix_zzzzzzzzzzzzzzzza")]))
    assert r2.blocks_skipped == 1  # only the prefix_aaa... block prunes
    # a value above every block's incremented-hi bound prunes everything
    r3 = ZseqReader(buf)
    out3 = pa.Table.from_batches(
        list(r3.batches(predicate=[("s", ">", "prefix_~")])),
        schema=r3.schema)
    assert out3.num_rows == 0
    assert r3.blocks_skipped == 2


def test_string_nulls_and_type_mismatch_stay_conservative():
    tbl = pa.table({"s": pa.array(["b", None, "d", "a"]),
                    "v": pa.array(np.arange(4, dtype=np.int64))})
    buf = zseqfile.encode_table(tbl)
    r = ZseqReader(buf)
    # nulls encode as "" -> lo bound "" -> never wrongly pruned
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("s", "<=", "a")])), schema=r.schema)
    assert out.num_rows == 4
    # int literal against a string zone map: conjunct skipped, not crashed
    r2 = ZseqReader(buf)
    out2 = pa.Table.from_batches(
        list(r2.batches(predicate=[("s", ">", 42)])), schema=r2.schema)
    assert out2.num_rows == 4


# ---------------------------------------------------------------------------
# Property fuzz: pruned decode == full decode + exact filter, on data
# crafted to hit truncated-envelope boundaries (16-byte prefixes, 0xFF
# runs). Zone-map pruning is correctness-critical — a wrong skip silently
# DROPS rows — so the directed tests above are backed by ≥200 random
# predicate/data combinations here.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_INT_POOL = [-(2 ** 63), -(2 ** 63) + 1, -(2 ** 31), -257, -1, 0, 1, 2,
             255, 256, 2 ** 31 - 1, 2 ** 31, 2 ** 63 - 2, 2 ** 63 - 1]
_P16 = "a" * 16  # the zone-map envelope truncation width
_STR_POOL = [
    "", "a", "a" * 15, _P16, "a" * 17, _P16 + "b", _P16 + "￿",
    "ÿ" * 8, "ÿ" * 9,            # C3 BF utf-8 runs: 16/18 bytes
    "\U0010ffff" * 4,                      # F4 8F BF BF x4 = exactly 16
    "\U0010ffff" * 4 + "x", "m" * 20, "zz", "prefixprefixpref",
]
_BIN_POOL = [
    b"", b"\x00", b"\xff" * 15, b"\xff" * 16, b"\xff" * 17,
    b"\xff" * 16 + b"\x00", b"ab\xff" * 6, b"prefixprefixpref" + b"\x01",
    b"prefixprefixpref" + b"\xff",
]

_ints = st.one_of(st.none(), st.sampled_from(_INT_POOL),
                  st.integers(-10 ** 6, 10 ** 6))
# decimal(14,2): unscaled storage ints; predicates cross in this domain
_DEC_POOL = [-(10 ** 13), -101, -100, -1, 0, 1, 99, 100, 10 ** 13]
_decs = st.one_of(st.none(), st.sampled_from(_DEC_POOL),
                  st.integers(-10 ** 6, 10 ** 6))
# decimal(38,0) two-limb: cluster around the int64 limb boundary and the
# 38-digit extremes
_DEC38_POOL = [-(10 ** 38) + 1, -(2 ** 64), -(2 ** 63) - 1, -(2 ** 63),
               -(2 ** 63) + 1, -1, 0, 1, 2 ** 63 - 1, 2 ** 63,
               2 ** 63 + 1, 2 ** 64, 10 ** 38 - 1]
_dec38s = st.one_of(st.none(), st.sampled_from(_DEC38_POOL),
                    st.integers(-10 ** 20, 10 ** 20))
_strs = st.one_of(st.none(), st.sampled_from(_STR_POOL),
                  st.text(max_size=24))
_bins = st.one_of(st.none(), st.sampled_from(_BIN_POOL),
                  st.binary(max_size=24))

_OPS_FUZZ = [">", ">=", "<", "<=", "=", "!=", "in"]


def _conjunct():
    def mk(col, op, pool):
        if op == "in":
            return st.lists(pool, min_size=0, max_size=4).map(
                lambda vs: (col, op, tuple(vs)))
        return pool.map(lambda v: (col, op, v))

    pools = {"i": st.sampled_from(_INT_POOL),
             "ts": st.sampled_from(_INT_POOL),
             "d": st.sampled_from(_DEC_POOL),
             "D": st.sampled_from(_DEC38_POOL),
             "s": st.sampled_from(_STR_POOL),
             "b": st.sampled_from(_BIN_POOL)}
    return st.tuples(st.sampled_from(list(pools)),
                     st.sampled_from(_OPS_FUZZ)).flatmap(
        lambda co: mk(co[0], co[1], pools[co[0]]))


def _match(v, op, lit):
    """Reference predicate semantics: bytewise for str (utf-8) / bytes,
    numeric for ints; NULL never matches."""
    if v is None:
        return False
    if isinstance(v, str):
        v = v.encode()
    if isinstance(lit, str):
        lit = lit.encode()
    if op == "in":
        lits = [x.encode() if isinstance(x, str) else x for x in lit]
        return v in lits
    return {">": v > lit, ">=": v >= lit, "<": v < lit,
            "<=": v <= lit, "=": v == lit, "!=": v != lit}[op]


@settings(max_examples=220, deadline=None)
@given(
    n=st.integers(1, 90),
    data=st.data(),
    block=st.sampled_from([7, 16, 64]),
    preds=st.lists(_conjunct(), min_size=1, max_size=2),
)
def test_pushdown_prune_never_drops_rows(n, data, block, preds):
    ints = data.draw(st.lists(_ints, min_size=n, max_size=n))
    tss = data.draw(st.lists(_ints, min_size=n, max_size=n))
    strs = data.draw(st.lists(_strs, min_size=n, max_size=n))
    bins = data.draw(st.lists(_bins, min_size=n, max_size=n))
    decs = data.draw(st.lists(_decs, min_size=n, max_size=n))
    dec38s = data.draw(st.lists(_dec38s, min_size=n, max_size=n))
    import decimal
    with decimal.localcontext() as ctx:
        ctx.prec = 40
        dec_vals = [None if v is None else decimal.Decimal(v).scaleb(-2)
                    for v in decs]
        dec38_vals = [None if v is None else decimal.Decimal(v)
                      for v in dec38s]
    tbl = pa.table({
        "rid": pa.array(np.arange(n, dtype=np.int64)),
        "i": pa.array(ints, type=pa.int64()),
        "ts": pa.array(tss, type=pa.timestamp("us")),
        "d": pa.array(dec_vals, type=pa.decimal128(14, 2)),
        "D": pa.array(dec38_vals, type=pa.decimal128(38, 0)),
        "s": pa.array(strs, type=pa.string()),
        "b": pa.array(bins, type=pa.binary()),
    })
    buf = zseqfile.encode_table(pa.Table.from_batches(
        tbl.to_batches(max_chunksize=block)))
    full = zseqfile.decode_table(buf)
    pruned = _read(buf, predicate=list(preds))

    cols = {"i": ints, "ts": tss, "d": decs, "D": dec38s,
            "s": strs, "b": bins}
    want = {rid for rid in range(n)
            if all(_match(cols[c][rid], op, lit) for c, op, lit in preds)}
    got_rids = set(pruned.column("rid").to_pylist())
    # 1. no matching row may be dropped by block pruning
    assert want <= got_rids, (preds, want - got_rids)

    # 2. pruning returns a sub(multi)set of the full decode, row-exact
    # (ts compared in the int64 storage domain: extreme values overflow
    # Python datetime in to_pylist)
    def rows_of(t):
        cs = {name: (t.column(name).cast(pa.int64()) if name == "ts"
                     else t.column(name)).to_pylist()
              for name in t.column_names}
        return {cs["rid"][j]: tuple(cs[name][j] for name in t.column_names)
                for j in range(t.num_rows)}

    full_rows = rows_of(full)
    assert full.num_rows == n
    for rid, row in rows_of(pruned).items():
        assert full_rows[rid] == row


def test_decimal_predicate_skips_with_sorted_data():
    """decimal(<=18) chunks derive int zone maps in the UNSCALED domain:
    a sorted price column prunes exactly like an int column; two-limb
    decimal38 chunks store explicit 16-byte offset-binary bounds and
    prune on arbitrary-precision int literals."""
    from decimal import Decimal

    prices = pa.table({
        "k": pa.array(np.arange(10000, dtype=np.int64)),
        "price": pa.array([Decimal(i) / 100 for i in range(10000)],
                          type=pa.decimal128(12, 2)),
    })
    buf = zseqfile.encode_table(pa.Table.from_batches(
        prices.to_batches(max_chunksize=1000)))
    r = ZseqReader(buf)
    # storage domain: cents — price >= 90.00 is unscaled 9000
    out = pa.Table.from_batches(
        list(r.batches(predicate=[("price", ">=", 9000)])),
        schema=r.schema)
    assert r.blocks_skipped == 9
    assert r.blocks_read == 1
    assert set(out.column("k").to_pylist()) == set(range(9000, 10000))

    # two-limb: sorted 38-digit values far past int64, literal past
    # int64 — explicit bounds prune exactly
    wide = pa.table({
        "k": pa.array(np.arange(100, dtype=np.int64)),
        "p38": pa.array([Decimal(i) * 10 ** 20 - 10 ** 21
                         for i in range(100)],
                        type=pa.decimal128(38, 0)),
    })
    buf38 = zseqfile.encode_table(pa.Table.from_batches(
        wide.to_batches(max_chunksize=10)))
    r38 = ZseqReader(buf38)
    out38 = pa.Table.from_batches(
        list(r38.batches(predicate=[("p38", ">=", 80 * 10 ** 20
                                     - 10 ** 21)])),
        schema=r38.schema)
    assert r38.blocks_skipped == 8, r38.blocks_skipped
    assert r38.blocks_read == 2
    assert set(out38.column("k").to_pylist()) == set(range(80, 100))
    # nulls stay conservative: all-null chunk has no bounds, never prunes
    nulls = pa.table({"p38": pa.array([None] * 20,
                                      type=pa.decimal128(38, 0))})
    bn = zseqfile.encode_table(pa.Table.from_batches(
        nulls.to_batches(max_chunksize=10)))
    rn = ZseqReader(bn)
    outn = pa.Table.from_batches(
        list(rn.batches(predicate=[("p38", ">", 0)])), schema=rn.schema)
    assert outn.num_rows == 20              # superset semantics intact


# ---------------------------------------------------------------------------
# Manifest-level (per-part) zone maps: driver-side FILE pruning
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def range_ds(spark, tmp_path_factory):
    """3 parts with disjoint k ranges (repartitionByRange + preserve
    mode keeps the split), an int column and a string column."""
    import json
    import os

    from zseq import encode as zenc

    out = str(tmp_path_factory.mktemp("zones") / "ds")
    df = spark.range(0, 300).selectExpr(
        "id as k", "cast(id as string) as s")
    zenc.encode(df.repartitionByRange(3, "k"), out)
    m = json.load(open(os.path.join(out, "manifest.json")))
    return out, m


def test_manifest_parts_carry_zone_envelopes(range_ds):
    _, m = range_ds
    assert len(m["parts"]) == 3
    envs = sorted(
        zseqfile.zones_from_json(p["zones"])["k"] for p in m["parts"])
    assert envs == [(0, 99), (100, 199), (200, 299)]
    # string columns get byte envelopes that really envelope
    for p in m["parts"]:
        lo, hi = zseqfile.zones_from_json(p["zones"])["s"]
        klo, khi = zseqfile.zones_from_json(p["zones"])["k"]
        assert lo <= str(klo).encode() and hi >= str(khi).encode()


def test_parts_provably_empty_prunes_files(range_ds):
    _, m = range_ds
    kept = [p for p in m["parts"]
            if not zseqfile.parts_provably_empty(p, [("k", "=", 250)])]
    assert len(kept) == 1
    z = zseqfile.zones_from_json(kept[0]["zones"])
    assert z["k"] == (200, 299)
    # range predicate spanning two parts keeps exactly those two
    kept2 = [p for p in m["parts"]
             if not zseqfile.parts_provably_empty(
                 p, [("k", ">=", 90), ("k", "<", 120)])]
    assert len(kept2) == 2


def test_parts_pruning_tolerates_old_and_statless_parts():
    # pre-zones manifests (no 'zones' key) and poisoned columns (None)
    # are never pruned — conservative superset semantics
    assert not zseqfile.parts_provably_empty({}, [("k", "=", 1)])
    assert not zseqfile.parts_provably_empty(
        {"zones": zseqfile.zones_to_json({"k": None})}, [("k", "=", 1)])
    # and a column absent from the zones dict doesn't prune either
    assert not zseqfile.parts_provably_empty(
        {"zones": zseqfile.zones_to_json({"other": (0, 9)})},
        [("k", "=", 1)])


def test_decode_file_pruning_end_to_end(spark, range_ds):
    from zseq import decode as zdec

    out, _ = range_ds
    got = zdec.decode(spark, out, predicate=[("k", "=", 250)]) \
        .filter("k = 250").collect()
    assert [r["k"] for r in got] == [250]
    # superset semantics preserved: the pruned read + exact filter over
    # a range equals the unpruned filter
    a = sorted(r["k"] for r in zdec.decode(
        spark, out, predicate=[("k", ">=", 95), ("k", "<", 105)])
        .filter("k >= 95 and k < 105").collect())
    assert a == list(range(95, 105))


def test_datasource_file_pruning_partitions(spark, range_ds, monkeypatch):
    from pyspark.sql.datasource import EqualTo

    from zseq import decode as zdec
    from zseq.datasource import ZseqSourceReader

    out, _ = range_ds
    # force 1 file per group so group count == file count
    monkeypatch.setattr(zdec, "TARGET_BYTES", 1)
    r = ZseqSourceReader({"path": out}, parallelism=1)
    assert len(r.partitions()) == 3
    r2 = ZseqSourceReader({"path": out}, parallelism=1)
    r2.pushFilters([EqualTo(("k",), 250)])
    parts = r2.partitions()
    assert len(parts) == 1
    rows = sum(b.num_rows for p in parts for b in r2.read(p))
    assert rows == 100  # only the 200-299 file is opened at all


def test_zones_json_roundtrip_decimal256_domain():
    big = 10 ** 60
    z = {"d": (-big, big), "b": (b"\x00", b"\xff" * 8), "n": None}
    back = zseqfile.zones_from_json(zseqfile.zones_to_json(z))
    assert back == z


def test_uint64_sign_crossing_disables_zone_bounds():
    """uint64 rides as its int64 bit pattern; a chunk whose values cross
    the sign boundary must expose NO zone bounds (signed-order bounds
    would prune files/blocks that contain matching rows)."""
    tbl = pa.table({"u": pa.array([1, 2, 2 ** 64 - 1], pa.uint64())})
    buf = zseqfile.encode_table(tbl)
    # block level: the matching row survives the predicate
    out = _read(buf, predicate=[("u", "=", 2 ** 64 - 1)])
    assert out.column("u").to_pylist().count(2 ** 64 - 1) == 1
    # part level: the writer records no envelope for the column
    import io

    sink = io.BytesIO()
    w = zseqfile.ZseqWriter(sink, tbl.schema)
    for b in tbl.to_batches():
        w.write_batch(b)
    w.finish()
    assert w.part_zones["u"] is None
    # nonneg uint64 keeps enveloping (shared-domain) bounds
    tbl2 = pa.table({"u": pa.array([3, 9, 5], pa.uint64())})
    sink2 = io.BytesIO()
    w2 = zseqfile.ZseqWriter(sink2, tbl2.schema)
    for b in tbl2.to_batches():
        w2.write_batch(b)
    w2.finish()
    lo, hi = w2.part_zones["u"]
    assert 0 <= lo <= 3 and hi >= 9


def test_all_null_chunk_does_not_poison_part_envelope():
    """An all-null chunk constrains nothing (null never satisfies a
    pushed comparison) — the envelope from the other chunks survives."""
    import io

    schema = pa.schema([("s", pa.string())])
    b1 = pa.record_batch([pa.array(["b", "d"])], schema=schema)
    b2 = pa.record_batch([pa.array([None, None], pa.string())],
                         schema=schema)
    sink = io.BytesIO()
    w = zseqfile.ZseqWriter(sink, schema)
    w.write_batch(b1)
    w.write_batch(b2)
    w.finish()
    lo, hi = w.part_zones["s"]
    assert lo <= b"b" and hi >= b"d"
    # and rows (incl. the nulls) still decode past a matching predicate
    out = _read(sink.getvalue(), predicate=[("s", "=", "b")])
    assert out.column("s").to_pylist().count("b") == 1


@settings(max_examples=120, deadline=None)
@given(
    n=st.integers(1, 90),
    data=st.data(),
    block=st.sampled_from([7, 16, 64]),
    preds=st.lists(_conjunct(), min_size=1, max_size=2),
)
def test_file_envelope_prune_never_drops_rows(n, data, block, preds):
    """FILE-level twin of test_pushdown_prune_never_drops_rows: the
    part-level zone envelope ZseqWriter accumulates (all-null-chunk
    skip, sign-boundary refusal, byte truncation and all) may only call
    a part provably-empty when NO row in it matches the predicate —
    the same reference semantics (_match) as block pruning, exercised
    through zones_to_json -> parts_provably_empty exactly as the
    manifest round-trips them."""
    import io

    ints = data.draw(st.lists(_ints, min_size=n, max_size=n))
    tss = data.draw(st.lists(_ints, min_size=n, max_size=n))
    strs = data.draw(st.lists(_strs, min_size=n, max_size=n))
    bins = data.draw(st.lists(_bins, min_size=n, max_size=n))
    decs = data.draw(st.lists(_decs, min_size=n, max_size=n))
    dec38s = data.draw(st.lists(_dec38s, min_size=n, max_size=n))
    import decimal
    with decimal.localcontext() as ctx:
        ctx.prec = 40
        dec_vals = [None if v is None else decimal.Decimal(v).scaleb(-2)
                    for v in decs]
        dec38_vals = [None if v is None else decimal.Decimal(v)
                      for v in dec38s]
    tbl = pa.table({
        "i": pa.array(ints, type=pa.int64()),
        "ts": pa.array(tss, type=pa.timestamp("us")),
        "d": pa.array(dec_vals, type=pa.decimal128(14, 2)),
        "D": pa.array(dec38_vals, type=pa.decimal128(38, 0)),
        "s": pa.array(strs, type=pa.string()),
        "b": pa.array(bins, type=pa.binary()),
    })
    w = zseqfile.ZseqWriter(io.BytesIO(), tbl.schema)
    for b in tbl.to_batches(max_chunksize=block):
        w.write_batch(b)
    w.finish()
    part = {"zones": zseqfile.zones_to_json(w.part_zones)}

    cols = {"i": ints, "ts": tss, "d": decs, "D": dec38s,
            "s": strs, "b": bins}
    any_match = any(
        all(_match(cols[c][rid], op, lit) for c, op, lit in preds)
        for rid in range(n))
    if zseqfile.parts_provably_empty(part, list(preds)):
        assert not any_match, (preds, w.part_zones)


# ---------------------------------------------------------------------------
# Hash-bucket FILE pruning: point lookups on a mode='hash' dataset open
# exactly the file(s) whose part_id == pmod(spark_hash(literal), P)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def hash_ds(spark, tmp_path_factory):
    """mode='hash' P=4 on a string key — part_id IS the hash bucket."""
    import json
    import os

    from zseq import encode as zenc

    out = str(tmp_path_factory.mktemp("buckets") / "ds")
    df = spark.range(0, 400).selectExpr(
        "concat('doc_', lpad(cast(id as string), 5, '0')) as doc_id",
        "id as v")
    zenc.encode(df, out, mode="hash", partitions=4,
                partition_col="doc_id")
    m = json.load(open(os.path.join(out, "manifest.json")))
    return out, m


def _corrupt_all_but(out, m, keep_part_ids):
    """Truncate every part file NOT in keep_part_ids: any read that
    opens one fails loudly, so a green read PROVES pruning skipped it."""
    import os

    for p in m["parts"]:
        if p["part_id"] not in keep_part_ids:
            path = os.path.join(out, p["file"])
            with open(path, "wb") as f:
                f.write(b"garbage")


def test_bucket_pruning_decode_point_lookup(spark, hash_ds, tmp_path):
    import shutil

    from zseq import decode as zdec
    from zseq.sparkhash import bucket_of

    out, m = hash_ds
    work = str(tmp_path / "ds")
    shutil.copytree(out, work)
    key = "doc_00137"
    b = bucket_of(key, pa.string(), m["partitions"])
    _corrupt_all_but(work, m, {b})
    got = zdec.decode(spark, work,
                      predicate=[("doc_id", "=", key)]) \
        .filter(f"doc_id = '{key}'").collect()
    assert [(r["doc_id"], r["v"]) for r in got] == [(key, 137)]


def test_bucket_pruning_decode_in_list(spark, hash_ds, tmp_path):
    import shutil

    from zseq import decode as zdec
    from zseq.sparkhash import bucket_of

    out, m = hash_ds
    work = str(tmp_path / "ds")
    shutil.copytree(out, work)
    keys = ("doc_00002", "doc_00399")
    bs = {bucket_of(k, pa.string(), m["partitions"]) for k in keys}
    _corrupt_all_but(work, m, bs)
    got = zdec.decode(spark, work,
                      predicate=[("doc_id", "in", keys)]) \
        .filter("doc_id in ('doc_00002', 'doc_00399')") \
        .collect()
    assert sorted(r["v"] for r in got) == [2, 399]


def test_bucket_pruning_datasource(spark, hash_ds, tmp_path, monkeypatch):
    import shutil

    from pyspark.sql.datasource import EqualTo

    from zseq import decode as zdec
    from zseq.datasource import ZseqSourceReader
    from zseq.sparkhash import bucket_of

    out, m = hash_ds
    work = str(tmp_path / "ds")
    shutil.copytree(out, work)
    key = "doc_00042"
    b = bucket_of(key, pa.string(), m["partitions"])
    _corrupt_all_but(work, m, {b})
    monkeypatch.setattr(zdec, "TARGET_BYTES", 1)  # one file per group
    r = ZseqSourceReader({"path": work}, parallelism=1)
    r.pushFilters([EqualTo(("doc_id",), key)])
    parts = r.partitions()
    assert len(parts) == 1
    rows = [(bt["doc_id"], bt["v"])
            for p in parts for b_ in r.read(p)
            for bt in b_.to_pylist()]
    assert (key, 42) in rows
    # every surviving row really is from the pinned bucket
    P = m["partitions"]
    assert all(bucket_of(d, pa.string(), P) == b for d, _ in rows)


def test_bucket_pruning_never_on_other_modes(spark, tmp_path):
    """salted/preserve/appended datasets carry no bucket claim — a key
    equality must keep every file."""
    import json
    import os

    from zseq import encode as zenc
    from zseq.zseqfile import prune_parts

    df = spark.range(0, 100).selectExpr(
        "cast(id as string) as doc_id", "id as v",
        "cast(id % 7 as int) as n_tok")
    for mode in ("salted", "preserve"):
        out = str(tmp_path / f"ds_{mode}")
        zenc.encode(df.repartition(3), out, mode=mode, partitions=3,
                    partition_col="doc_id")
        m = json.load(open(os.path.join(out, "manifest.json")))
        pred = [("doc_id", "=", "5")]
        kept = prune_parts(m["parts"], pred,
                           mode=m.get("mode"),
                           partition_col=m.get("partition_col"),
                           partitions=m.get("partitions"),
                           key_type=pa.string())
        # zone envelopes may legitimately prune — the point is bucket
        # pinning must not engage beyond them on a non-hash manifest
        zone_only = [p for p in m["parts"]
                     if not zseqfile.parts_provably_empty(p, pred)]
        assert [p["file"] for p in kept] \
            == [p["file"] for p in zone_only], mode

    # append voids the bucketing claim even when parts keep part_ids
    out = str(tmp_path / "ds_app")
    zenc.encode(df, out, mode="hash", partitions=3,
                partition_col="doc_id")
    zenc.encode(df.selectExpr("concat('x_', doc_id) as doc_id", "v",
                              "n_tok"),
                out, append=True)
    m = json.load(open(os.path.join(out, "manifest.json")))
    assert m["mode"] == "append"
    pred = [("doc_id", "=", "5")]
    kept = prune_parts(m["parts"], pred,
                       mode=m.get("mode"),
                       partition_col=m.get("partition_col"),
                       partitions=m.get("partitions"),
                       key_type=pa.string())
    zone_only = [p for p in m["parts"]
                 if not zseqfile.parts_provably_empty(p, pred)]
    assert [p["file"] for p in kept] == [p["file"] for p in zone_only]


def test_bucket_pruning_long_key(spark, tmp_path):
    import json
    import os
    import shutil

    from zseq import decode as zdec
    from zseq import encode as zenc
    from zseq.sparkhash import bucket_of

    out = str(tmp_path / "ds")
    df = spark.range(0, 500).selectExpr("id * 7919 as k", "id as v")
    zenc.encode(df, out, mode="hash", partitions=8, partition_col="k")
    m = json.load(open(os.path.join(out, "manifest.json")))
    key = 137 * 7919
    b = bucket_of(key, pa.int64(), 8)
    work = str(tmp_path / "ds2")
    shutil.copytree(out, work)
    _corrupt_all_but(work, json.load(
        open(os.path.join(work, "manifest.json"))), {b})
    got = zdec.decode(spark, work, predicate=[("k", "=", key)]) \
        .filter(f"k = {key}").collect()
    assert [(r["k"], r["v"]) for r in got] == [(key, 137)]


# ---------------------------------------------------------------------------
# Per-part null counts: IS [NOT] NULL file pruning + all-null value pruning
# ---------------------------------------------------------------------------

def test_writer_accumulates_null_counts():
    import io

    tbl = pa.table({
        "a": pa.array([1, None, 3, None], pa.int64()),
        "b": pa.array([None, None, None, None], pa.string()),
        "c": pa.array([1.5, 2.5, 3.5, 4.5], pa.float64()),
    })
    w = zseqfile.ZseqWriter(io.BytesIO(), tbl.schema)
    for b in tbl.to_batches(max_chunksize=2):
        w.write_batch(b)
    w.finish()
    assert w.part_nulls == {"a": 2, "b": 4, "c": 0}
    s = zseqfile.zones_to_json(w.part_zones, w.part_nulls)
    assert zseqfile.nulls_from_json(s) == {"a": 2, "b": 4, "c": 0}
    # the all-null column has counts but no envelope; float has neither
    assert zseqfile.zones_from_json(s)["b"] is None


def test_zones_json_nc_roundtrip_and_compat():
    # nc rides alongside envelopes and survives the roundtrip
    s = zseqfile.zones_to_json({"k": (0, 9), "n": None},
                               {"k": 0, "n": 7, "extra": 3})
    assert zseqfile.zones_from_json(s) == {"k": (0, 9), "n": None,
                                           "extra": None}
    assert zseqfile.nulls_from_json(s) == {"k": 0, "n": 7, "extra": 3}
    # one-arg form (pre-null-count manifests) parses with no counts
    s0 = zseqfile.zones_to_json({"k": (0, 9), "n": None})
    assert zseqfile.nulls_from_json(s0) == {}
    assert zseqfile.zones_from_json(s0) == {"k": (0, 9), "n": None}


def test_null_count_part_pruning_rules():
    def part(nc, rows, env=None):
        return {"rows": rows,
                "zones": zseqfile.zones_to_json(
                    {"c": env} if env else {}, {"c": nc})}

    # 0 nulls -> IS NULL provably empty; IS NOT NULL kept
    assert zseqfile.parts_provably_empty(
        part(0, 10, (1, 5)), [("c", "isnull", None)])
    assert not zseqfile.parts_provably_empty(
        part(0, 10, (1, 5)), [("c", "notnull", None)])
    # all null -> NOT NULL and every value conjunct provably empty,
    # IS NULL kept
    assert zseqfile.parts_provably_empty(
        part(10, 10), [("c", "notnull", None)])
    assert zseqfile.parts_provably_empty(part(10, 10), [("c", "=", 3)])
    assert zseqfile.parts_provably_empty(
        part(10, 10), [("c", "in", (1, 2))])
    assert not zseqfile.parts_provably_empty(
        part(10, 10), [("c", "isnull", None)])
    # mixed -> nothing null-prunable
    p = part(4, 10, (1, 5))
    for pred in ([("c", "isnull", None)], [("c", "notnull", None)],
                 [("c", "=", 3)]):
        assert not zseqfile.parts_provably_empty(p, pred)
    # missing counts (old manifests) never prune on null ops
    old = {"rows": 10, "zones": zseqfile.zones_to_json({"c": (1, 5)})}
    assert not zseqfile.parts_provably_empty(old, [("c", "isnull", None)])
    assert not zseqfile.parts_provably_empty(old, [("c", "notnull", None)])
    # missing rows: nc can still prune isnull (nc==0) but not notnull
    norows = {"zones": zseqfile.zones_to_json({}, {"c": 0})}
    assert zseqfile.parts_provably_empty(norows, [("c", "isnull", None)])
    norows7 = {"zones": zseqfile.zones_to_json({}, {"c": 7})}
    assert not zseqfile.parts_provably_empty(
        norows7, [("c", "notnull", None)])


@pytest.fixture(scope="module")
def nullable_ds(spark, tmp_path_factory):
    """2 parts: one where column m is ALL null, one with no nulls —
    preserve mode keeps the split."""
    import json
    import os

    from zseq import encode as zenc

    out = str(tmp_path_factory.mktemp("nulls") / "ds")
    df = spark.range(0, 200).selectExpr(
        "id as k",
        "case when id < 100 then null else id * 10 end as m")
    zenc.encode(df.repartitionByRange(2, "k"), out)
    m = json.load(open(os.path.join(out, "manifest.json")))
    return out, m


def test_null_pruning_decode_end_to_end(spark, nullable_ds, tmp_path):
    import shutil

    from zseq import decode as zdec

    out, m = nullable_ds
    # IS NOT NULL: corrupt the all-null part; a green read proves the
    # driver never opened it
    all_null = [p for p in m["parts"]
                if zseqfile.nulls_from_json(p["zones"])["m"] == p["rows"]]
    assert len(all_null) == 1
    work = str(tmp_path / "nn")
    shutil.copytree(out, work)
    with open(f"{work}/{all_null[0]['file']}", "wb") as f:
        f.write(b"junk")
    got = zdec.decode(spark, work, predicate=[("m", "notnull", None)]) \
        .filter("m is not null").count()
    assert got == 100

    # IS NULL: corrupt the no-nulls part instead
    work2 = str(tmp_path / "in")
    shutil.copytree(out, work2)
    no_null = [p for p in m["parts"] if p not in all_null]
    with open(f"{work2}/{no_null[0]['file']}", "wb") as f:
        f.write(b"junk")
    got2 = zdec.decode(spark, work2, predicate=[("m", "isnull", None)]) \
        .filter("m is null").count()
    assert got2 == 100

    # a value predicate also skips the all-null part
    got3 = zdec.decode(spark, work, predicate=[("m", "=", 1500)]) \
        .filter("m = 1500").collect()
    assert [r["k"] for r in got3] == [150]


def test_null_pruning_datasource_pushdown(spark, nullable_ds, tmp_path):
    """spark.read.format('zseq').filter('m is null') must push IsNull
    and never open the no-nulls file."""
    import shutil

    out, m = nullable_ds
    work = str(tmp_path / "ds")
    shutil.copytree(out, work)
    no_null = [p for p in m["parts"]
               if zseqfile.nulls_from_json(p["zones"])["m"] == 0]
    assert len(no_null) == 1
    with open(f"{work}/{no_null[0]['file']}", "wb") as f:
        f.write(b"junk")
    from zseq.datasource import register

    register(spark)
    got = (spark.read.format("zseq").load(work)
           .filter("m is null").count())
    assert got == 100


# ---------------------------------------------------------------------------
# mode='range': sort-ordered layout -> disjoint part envelopes by design
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def range_mode_ds(spark, tmp_path_factory):
    """encode(mode='range') on a shuffled input: the mode itself must
    produce the disjoint-envelope layout (no caller-side
    repartitionByRange)."""
    import json
    import os

    from zseq import encode as zenc

    out = str(tmp_path_factory.mktemp("rangemode") / "ds")
    # reverse order + hash-scattered layout going in
    df = (spark.range(0, 400).selectExpr(
        "399 - id as k", "cast(id as string) as s")
        .repartition(7, "s"))
    res = zenc.encode(df, out, mode="range", partitions=4,
                      partition_col="k")
    m = json.load(open(os.path.join(out, "manifest.json")))
    return out, m, res


def test_range_mode_manifest_and_disjoint_envelopes(range_mode_ds):
    _, m, res = range_mode_ds
    assert m["mode"] == "range"
    assert m["partition_col"] == "k"
    assert len(m["parts"]) >= 2  # sampling may merge, never to 1 at 400
    envs = sorted(
        zseqfile.zones_from_json(p["zones"])["k"] for p in m["parts"])
    # pairwise disjoint AND totally ordered: hi of one < lo of the next
    for (lo1, hi1), (lo2, hi2) in zip(envs, envs[1:]):
        assert hi1 < lo2
    assert envs[0][0] == 0 and envs[-1][1] == 399


def test_range_mode_roundtrip(spark, range_mode_ds):
    from zseq import decode as zdec

    out, _, _ = range_mode_ds
    back = zdec.decode(spark, out)
    assert back.count() == 400
    got = {(r["k"], r["s"]) for r in back.collect()}
    assert got == {(399 - i, str(i)) for i in range(400)}


def test_range_mode_predicate_never_opens_pruned_files(
        spark, range_mode_ds, tmp_path):
    """Corruption probe: with a point predicate, every part whose
    envelope excludes the value can be garbage on disk and the read
    still succeeds — proof the files were pruned, not just filtered."""
    import shutil

    from zseq import decode as zdec

    out, m, _ = range_mode_ds
    work = str(tmp_path / "probed")
    shutil.copytree(out, work)
    target = 250
    losers = [p for p in m["parts"]
              if not (zseqfile.zones_from_json(p["zones"])["k"][0]
                      <= target
                      <= zseqfile.zones_from_json(p["zones"])["k"][1])]
    assert losers  # disjointness guarantees all-but-one lose
    for p in losers:
        with open(f"{work}/{p['file']}", "wb") as f:
            f.write(b"junk")
    got = zdec.decode(spark, work, predicate=[("k", "=", target)]) \
        .filter(f"k = {target}").collect()
    assert [r["s"] for r in got] == [str(399 - target)]


def test_range_mode_refuses_resume(spark, tmp_path):
    from zseq import encode as zenc

    df = spark.range(10).selectExpr("id as k")
    with pytest.raises(ValueError, match="resume requires mode='hash'"):
        zenc.encode(df, str(tmp_path / "x"), mode="range", resume=True)
