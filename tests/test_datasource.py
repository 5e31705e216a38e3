"""Native spark.read/write.format('zseq') DataSource: roundtrip, filter
pushdown (Catalyst -> zone maps), column option, exactly-once commit."""

import json
import os

import pytest

from zseq import synth
from zseq.datasource import register


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


@pytest.fixture(scope="module")
def ds_dir(registered, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ds") / "tokens")
    df = synth.tokens_df_range(registered, 1000, partitions=4)
    df.write.format("zseq").mode("overwrite").save(out)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_then_read_roundtrip(registered, ds_dir):
    src = synth.tokens_df_range(registered, 1000, partitions=4)
    back = registered.read.format("zseq").load(ds_dir)
    assert _rows(back) == _rows(src)


def test_manifest_committed_exactly_once(ds_dir):
    m = json.load(open(os.path.join(ds_dir, "manifest.json")))
    assert m["mode"] == "datasource"
    assert m["totals"]["rows"] == 1000
    files = {f for f in os.listdir(ds_dir) if f.endswith(".zseq")}
    assert files == {p["file"] for p in m["parts"]}
    assert all("crc32" in p for p in m["parts"])


def test_catalyst_filter_pushdown_matches(registered, ds_dir):
    from zseq.synth import HEAVY_LEN

    src = synth.tokens_df_range(registered, 1000, partitions=4)
    got = registered.read.format("zseq").load(ds_dir) \
        .filter(f"n_tok = {HEAVY_LEN}")
    want = src.filter(f"n_tok = {HEAVY_LEN}")
    assert _rows(got) == _rows(want)
    assert got.count() > 0
    # pushed-but-returned filters are still applied exactly by Spark
    none = registered.read.format("zseq").load(ds_dir).filter("n_tok < 0")
    assert none.count() == 0


def test_pushdown_unit_prunes_blocks(registered, tmp_path_factory):
    """pushFilters records the int predicate; the reader then prunes
    blocks via zone maps (observable on the reader object directly).
    Small blocks so each part has many zone maps; clustering groups the
    heavy rows, so most blocks are provably empty for the predicate."""
    from pyspark.sql.datasource import EqualTo, StringStartsWith

    from zseq.datasource import ZseqSourceReader
    from zseq.synth import HEAVY_LEN

    out = str(tmp_path_factory.mktemp("dsb") / "blocks")
    synth.tokens_df_range(registered, 1000, partitions=2) \
        .write.format("zseq").mode("overwrite") \
        .option("batch_rows", "100").save(out)
    r = ZseqSourceReader({"path": out})
    leftover = list(r.pushFilters([
        EqualTo(("n_tok",), HEAVY_LEN),
        EqualTo(("source",), "web"),          # string eq: pushed (r3)
        StringStartsWith(("source",), "w"),   # pushed as a range (r3)
    ]))
    assert len(leftover) == 3                 # everything returned to Spark
    assert r._predicate == [("n_tok", "=", HEAVY_LEN),
                            ("source", "=", "web"),
                            ("source", ">=", "w"),
                            ("source", "<", b"x")]
    parts = r.partitions()
    got_rows = sum(b.num_rows for p in parts for b in r.read(p))
    # superset semantics: at least every matching row survives, but whole
    # blocks were skipped (fewer rows than the full dataset)
    assert 0 < got_rows < 1000


def test_decimal_filter_pushdown_matches(registered, tmp_path_factory):
    """decimal(<=18) predicates push into unscaled-int zone maps: results
    match the source exactly; a literal not representable at the
    column's scale is simply not pushed (Spark still filters exactly)."""
    from pyspark.sql.datasource import GreaterThan

    from zseq.datasource import ZseqSourceReader

    out = str(tmp_path_factory.mktemp("dsd") / "prices")
    src = registered.range(0, 1000).selectExpr(
        "id", "cast(cast(id as decimal(12,2)) / 100 as decimal(12,2)) "
        "as price")
    src.write.format("zseq").mode("overwrite") \
        .option("batch_rows", "100").save(out)
    got = registered.read.format("zseq").load(out).filter("price > 7.5")
    want = src.filter("price > 7.5")
    assert _rows(got) == _rows(want)
    assert got.count() > 0

    import decimal

    r = ZseqSourceReader({"path": out})
    r.pushFilters([GreaterThan(("price",), decimal.Decimal("7.50"))])
    assert r._predicate == [("price", ">", 750)]   # unscaled cents
    r2 = ZseqSourceReader({"path": out})
    r2.pushFilters([GreaterThan(("price",), decimal.Decimal("7.505"))])
    assert r2._predicate == []                     # not exact at scale 2

    # two-limb decimal(38): literal past int64 pushes as a python int
    out38 = str(tmp_path_factory.mktemp("dsd38") / "wide")
    src38 = registered.range(0, 500).selectExpr(
        "id", "cast(cast(id as decimal(38,0)) * 10000000000000000000 "
        "as decimal(38,0)) as w")
    src38.write.format("zseq").mode("overwrite") \
        .option("batch_rows", "50").save(out38)
    lit = decimal.Decimal(400) * 10 ** 19
    got38 = registered.read.format("zseq").load(out38) \
        .filter(f"w >= {lit}")
    want38 = src38.filter(f"w >= {lit}")
    assert _rows(got38) == _rows(want38)
    assert got38.count() == 100
    r3 = ZseqSourceReader({"path": out38})
    r3.pushFilters([GreaterThan(("w",), lit)])
    assert r3._predicate == [("w", ">", 400 * 10 ** 19)]


def test_columns_option_prunes_schema(registered, ds_dir):
    df = registered.read.format("zseq").option("columns", "doc_id,n_tok") \
        .load(ds_dir)
    assert df.columns == ["doc_id", "n_tok"]
    assert df.count() == 1000


def test_overwrite_removes_stale_parts(registered, tmp_path):
    out = str(tmp_path / "ow")
    synth.tokens_df_range(registered, 400, partitions=4) \
        .write.format("zseq").mode("overwrite").save(out)
    assert len([f for f in os.listdir(out) if f.endswith(".zseq")]) == 4
    synth.tokens_df_range(registered, 100, partitions=2) \
        .write.format("zseq").mode("overwrite").save(out)
    files = [f for f in os.listdir(out) if f.endswith(".zseq")]
    assert len(files) == 2
    back = registered.read.format("zseq").load(out)
    assert back.count() == 100


def test_corrupt_part_refused_via_datasource(registered, tmp_path):
    out = str(tmp_path / "cor")
    synth.tokens_df_range(registered, 200, partitions=2) \
        .write.format("zseq").mode("overwrite").save(out)
    part = sorted(f for f in os.listdir(out) if f.endswith(".zseq"))[0]
    p = os.path.join(out, part)
    b = bytearray(open(p, "rb").read())
    b[len(b) // 2] ^= 0xFF
    open(p, "wb").write(bytes(b))
    with pytest.raises(Exception, match="crc32|corrupt"):
        registered.read.format("zseq").load(out).count()


def test_stream_sink_writes_epochs(registered, tmp_path):
    """df.writeStream.format('zseq'): each micro-batch commits one epoch
    dir with an atomic manifest; decode_stream unions them."""
    import pyarrow.parquet as pq

    from conftest import TOKENS_SCHEMA
    from zseq import streaming

    src, out, ckpt = (str(tmp_path / k) for k in ("src", "out", "ckpt"))
    os.makedirs(src, exist_ok=True)
    pq.write_table(synth.tokens_table_arrow(400, start=0),
                   os.path.join(src, "wave-0.parquet"))
    stream = registered.readStream.schema(TOKENS_SCHEMA) \
        .parquet(src)
    q = (stream.writeStream.format("zseq")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start(out))
    q.awaitTermination(120)
    assert len(streaming.committed_epochs(out)) == 1

    pq.write_table(synth.tokens_table_arrow(200, start=400),
                   os.path.join(src, "wave-400.parquet"))
    stream2 = registered.readStream.schema(TOKENS_SCHEMA) \
        .parquet(src)
    q2 = (stream2.writeStream.format("zseq")
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True)
          .start(out))
    q2.awaitTermination(120)
    assert len(streaming.committed_epochs(out)) == 2

    back = streaming.decode_stream(registered, out)
    assert back.count() == 600
    got = sorted(r.doc_id for r in back.select("doc_id").collect())
    assert got == sorted(f"doc_{i:08d}" for i in range(600))
    # no staged leftovers
    assert os.listdir(os.path.join(out, ".staging")) == []


def test_stream_sink_replayed_epoch_is_noop(registered, tmp_path):
    """A fresh checkpoint restarts batch ids at 0 and re-delivers the same
    data: the committed epoch 0 is a no-op — no second epoch, the
    manifest untouched, the replayed parts dropped from .staging."""
    import pyarrow.parquet as pq

    from conftest import TOKENS_SCHEMA
    from zseq import streaming

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    pq.write_table(synth.tokens_table_arrow(200, start=0),
                   os.path.join(src, "wave-0.parquet"))

    def run(ckpt: str):
        q = (registered.readStream.schema(TOKENS_SCHEMA).parquet(src)
             .writeStream.format("zseq")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start(out))
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt"))
    [d] = streaming.committed_epochs(out)
    before = os.path.getmtime(os.path.join(d, "manifest.json"))
    run(str(tmp_path / "ckpt_replay"))
    assert streaming.committed_epochs(out) == [d]
    assert os.path.getmtime(os.path.join(d, "manifest.json")) == before
    assert streaming.decode_stream(registered, out).count() == 200
    assert os.listdir(os.path.join(out, ".staging")) == []


def test_stream_source_tails_epochs(registered, tmp_path):
    """spark.readStream.format('zseq') consumes committed epochs exactly
    once across restarts of an availableNow query."""
    from zseq import encode as zenc

    out, ckpt = str(tmp_path / "zr"), str(tmp_path / "zrckpt")
    from zseq.streaming import epoch_dir
    zenc.encode(synth.tokens_df_range(registered, 300, partitions=2),
                epoch_dir(out, 0), partitions=2)
    zenc.encode(synth.tokens_df_range(registered, 200, partitions=2),
                epoch_dir(out, 1), partitions=2)

    sink = str(tmp_path / "zrsink")

    def drain():
        q = (registered.readStream.format("zseq").load(out)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return registered.read.parquet(sink)

    assert drain().count() == 500

    # a third epoch commits later: exactly-once — only IT is appended
    zenc.encode(synth.tokens_df_range(registered, 100, partitions=1),
                epoch_dir(out, 2), partitions=1)
    got = drain()
    # 500 from the first drain + exactly the 100 new rows — a re-consumed
    # epoch would overshoot
    assert got.count() == 600


def test_pushdown_in_and_timestamp_literals(registered, tmp_path):
    """In-lists and timestamp/date literals convert into the storage
    domain for zone-map pruning; non-exact values are not pushed."""
    import datetime

    from pyspark.sql.datasource import EqualTo, In

    from zseq.datasource import ZseqSourceReader
    from zseq.synth import HEAVY_LEN

    out = str(tmp_path / "tsd")
    df = registered.range(0, 1000).selectExpr(
        "id",
        "timestamp_micros(cast(id * 1000000 as long)) as ts",
        "cast(id % 50 as int) as small")
    df.write.format("zseq").mode("overwrite") \
        .option("batch_rows", "100").save(out)

    r = ZseqSourceReader({"path": out})
    ts = datetime.datetime(1970, 1, 1, 0, 2, 0,
                           tzinfo=datetime.timezone.utc)  # id == 120
    leftover = list(r.pushFilters([
        In(("id",), (3, 7, 990)),
        EqualTo(("ts",), ts),
    ]))
    assert len(leftover) == 2
    assert ("id", "in", (3, 7, 990)) in r._predicate
    assert ("ts", "=", 120_000_000) in r._predicate

    # end-to-end: IN filter through Catalyst matches the exact result
    got = registered.read.format("zseq").load(out) \
        .filter("id in (3, 7, 990)")
    assert sorted(row.id for row in got.collect()) == [3, 7, 990]
    ts_got = registered.read.format("zseq").load(out) \
        .filter("ts = timestamp'1970-01-01 00:02:00'")
    assert [row.id for row in ts_got.collect()] == [120]


def test_stream_source_columns_option(registered, tmp_path):
    """The 'columns' option must project the STREAMED batches too, not
    just the declared schema."""
    from zseq import encode as zenc
    from zseq.streaming import epoch_dir

    out, ckpt = str(tmp_path / "zc"), str(tmp_path / "zcckpt")
    zenc.encode(synth.tokens_df_range(registered, 100, partitions=1),
                epoch_dir(out, 0), partitions=1)
    sink = str(tmp_path / "zcsink")
    q = (registered.readStream.format("zseq")
         .option("columns", "doc_id,n_tok").load(out)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = registered.read.parquet(sink)
    assert sorted(got.columns) == ["doc_id", "n_tok"]
    assert got.count() == 100


def test_batch_read_of_stream_layout_fails_helpfully(registered, tmp_path):
    from zseq import encode as zenc
    from zseq.streaming import epoch_dir

    out = str(tmp_path / "slay")
    zenc.encode(synth.tokens_df_range(registered, 50, partitions=1),
                epoch_dir(out, 0), partitions=1)
    with pytest.raises(Exception, match="streaming-epoch layout"):
        registered.read.format("zseq").load(out).count()


def test_stream_writer_validates_zstd_level():
    from conftest import TOKENS_SCHEMA
    from zseq.datasource import ZseqStreamWriter

    with pytest.raises(ValueError, match="1, 22"):
        ZseqStreamWriter({"path": "/tmp/x", "zstd_level": "30"},
                         TOKENS_SCHEMA)


def test_overwrite_is_atomic_against_stale_files(registered, tmp_path):
    """New writes use job-unique names; the manifest swap is the commit
    point and GC removes old parts only after it."""
    out = str(tmp_path / "atom")
    synth.tokens_df_range(registered, 200, partitions=2) \
        .write.format("zseq").mode("overwrite").save(out)
    first = {f for f in os.listdir(out) if f.endswith(".zseq")}
    synth.tokens_df_range(registered, 100, partitions=2) \
        .write.format("zseq").mode("overwrite").save(out)
    second = {f for f in os.listdir(out) if f.endswith(".zseq")}
    assert first.isdisjoint(second)  # never clobbered in place
    assert registered.read.format("zseq").load(out).count() == 100


def test_pushfilters_string_and_startswith(spark, tmp_path):
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual, In,
                                        StringStartsWith)

    from zseq import encode as zenc
    from zseq import synth
    from zseq.datasource import ZseqSourceReader, register

    register(spark)
    out = str(tmp_path / "dsstr")
    df = synth.tokens_df_range(spark, 1000, partitions=2)
    zenc.encode(df, out, partitions=2)
    r = ZseqSourceReader({"path": out})
    handed_back = r.pushFilters([
        GreaterThanOrEqual(("doc_id",), "doc_00000500"),
        EqualTo(("source",), "web"),
        In(("doc_id",), ("doc_00000001", "doc_00000002")),
        StringStartsWith(("doc_id",), "doc_0000009"),
        EqualTo(("doc_id",), 42),          # wrong literal type: not pushed
    ])
    assert len(list(handed_back)) == 5     # everything returned to Spark
    preds = set(r._predicate)
    assert ("doc_id", ">=", "doc_00000500") in preds
    assert ("source", "=", "web") in preds
    assert ("doc_id", "in", ("doc_00000001", "doc_00000002")) in preds
    assert ("doc_id", ">=", "doc_0000009") in preds       # startswith lo
    assert ("doc_id", "<", b"doc_0000009\x2f\xff"[:12]) not in preds
    assert any(op == "<" and isinstance(v, bytes)
               for _, op, v in r._predicate)              # startswith hi
    assert not any(v == 42 for _, _, v in r._predicate)

    # end to end: filtered DS read returns the exact rows
    got = (spark.read.format("zseq").load(out)
           .filter("doc_id >= 'doc_00000990'").count())
    assert got == 10
    got2 = (spark.read.format("zseq").load(out)
            .filter("doc_id like 'doc_0000099%'").count())
    assert got2 == 10


def test_partition_packing_math(spark, tmp_path, monkeypatch):
    """Batch-read task packing: all part files covered exactly once; a
    huge byte target still fans out to >= the parallelism floor of
    groups; a tiny target degenerates to one file per task, and a floor
    of 1 with a huge target packs everything into one group."""
    from zseq import decode as zdec
    from zseq import encode as zenc
    from zseq import synth
    from zseq.datasource import ZseqSourceReader

    out = str(tmp_path / "packing")
    df = synth.tokens_df_range(spark, 2000, partitions=16)
    zenc.encode(df, out, partitions=16, mode="hash")

    monkeypatch.setattr(zdec, "TARGET_BYTES", 1 << 40)
    r_big = ZseqSourceReader({"path": out})
    groups = r_big.partitions()
    files = [f for g in groups for f, _ in g.files]
    assert sorted(files) == sorted(p for p, *_ in r_big._parts)
    assert len(files) == len(set(files)) == 16
    # parallelism floor: even with an unbounded byte target the corpus
    # spreads over exactly defaultParallelism tasks (one wave)
    floor = min(16, r_big._min_tasks)
    assert len(groups) == floor
    assert len(ZseqSourceReader({"path": out}, parallelism=1)
               .partitions()) == 1

    monkeypatch.setattr(zdec, "TARGET_BYTES", 1)
    r_tiny = ZseqSourceReader({"path": out})
    assert len(r_tiny.partitions()) == 16  # one file per task
    with pytest.raises(ValueError, match="load"):
        ZseqSourceReader({})


def _plan(sizes, min_tasks):
    from zseq import decode as zdec

    entries = [(f"p{i}", i, s, {}, None) for i, s in enumerate(sizes)]
    groups = zdec.plan_groups(entries, None, min_tasks)
    # every file exactly once, in order, in non-empty groups
    assert [p for g in groups for p, _ in g] == [e[0] for e in entries]
    assert all(groups) or groups == [()]
    return [len(g) for g in groups]


def test_plan_groups_one_wave(monkeypatch):
    """Near-equal parts never spill into an extra group: 16 parts of
    5.97-5.98 MB on 4 cores plan as 4 groups of 4, not [3, 3, 4, 4, 2]."""
    from zseq import decode as zdec

    sizes = [5_970_000 + 677 * i % 9_973 for i in range(16)]
    assert _plan(sizes, 4) == [4, 4, 4, 4]
    assert _plan(sizes, 8) == [2] * 8
    assert _plan(sizes[:3], 8) == [1, 1, 1]   # fewer files than tasks
    assert _plan([0] * 10, 4) == [3, 2, 3, 2]   # no sizes: by count
    assert _plan([1000] + [1] * 7, 4) == [1, 1, 1, 5]   # skew: non-empty
    assert _plan([], 4) == [0]
    for target, want in ((1, [1] * 16), (1 << 40, [4, 4, 4, 4]),
                         (12_000_000, [2] * 8)):
        monkeypatch.setattr(zdec, "TARGET_BYTES", target)
        assert _plan(sizes, 4) == want


def test_partition_packing_without_enc_bytes(spark, tmp_path):
    """A manifest whose parts lack enc_bytes (older revision / foreign
    writer) must still fan out: sizes fall back to the on-disk file
    size, and with no sizes at all packing falls back to counts —
    never one giant serial InputPartition."""
    import json
    import os

    from zseq import encode as zenc
    from zseq import synth
    from zseq.datasource import ZseqSourceReader

    out = str(tmp_path / "nosizes")
    df = synth.tokens_df_range(spark, 2000, partitions=16)
    zenc.encode(df, out, partitions=16, mode="hash")
    mpath = os.path.join(out, "manifest.json")
    m = json.load(open(mpath))
    for p in m["parts"]:
        p.pop("enc_bytes", None)
    json.dump(m, open(mpath, "w"))

    r = ZseqSourceReader({"path": out})
    groups = r.partitions()
    files = [f for g in groups for f, _ in g.files]
    assert sorted(files) == sorted(p for p, *_ in r._parts)
    assert all(s > 0 for _, _, s, _, _ in r._parts)   # getsize fallback kicked in
    assert len(groups) >= min(16, r._min_tasks)

    # degenerate case: sizes genuinely unknowable -> count-based packing
    r._parts = [(p, c, 0, z, i) for p, c, _, z, i in r._parts]
    groups0 = r.partitions()
    files0 = [f for g in groups0 for f, _ in g.files]
    assert sorted(files0) == sorted(files)
    assert len(groups0) >= min(16, r._min_tasks)


def test_empty_dataset_reads_as_empty_dataframe(registered, tmp_path):
    """A committed EMPTY dataset must read back as an empty DataFrame
    with the right schema, not crash planning with read(None)."""
    out = str(tmp_path / "emptyds")
    empty = registered.createDataFrame(
        [], "doc_id string, n_tok int")
    empty.write.format("zseq").mode("overwrite").save(out)
    back = registered.read.format("zseq").load(out)
    assert back.count() == 0
    assert back.columns == ["doc_id", "n_tok"]


def test_read_plans_one_wave_of_session_parallelism(registered, tmp_path):
    """The reader is built in Spark's planning worker, which sees no
    session: ``register`` carries the session's defaultParallelism
    there, so 16 equal parts on local[4] read as 4 groups, one wave."""
    from zseq import encode as zenc

    out = str(tmp_path / "wave")
    df = synth.tokens_df_range(registered, 1600, partitions=16)
    zenc.encode(df, out, partitions=16, mode="hash")
    assert registered.sparkContext.defaultParallelism == 4
    back = registered.read.format("zseq").load(out)
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 1600
