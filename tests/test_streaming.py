"""Structured Streaming ingest: file source -> .zseq epochs -> union
decode; epoch replay is a committed no-op."""

import os

import pytest

from zseq import streaming, synth
from zseq.schema import TOKENS_SCHEMA


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("src", "out", "ckpt")}


def _write_wave(spark, src: str, start: int, n: int) -> None:
    tbl = synth.tokens_table_arrow(n, start=start)
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    pq.write_table(tbl, os.path.join(src, f"wave-{start}.parquet"))


def test_stream_encode_decode(spark, dirs):
    _write_wave(spark, dirs["src"], 0, 500)
    stream = (
        spark.readStream.schema(TOKENS_SCHEMA.to_spark())
        .parquet(dirs["src"])
    )
    q = streaming.encode_stream(stream, dirs["out"], dirs["ckpt"],
                                partitions=2)
    q.awaitTermination(120)
    assert len(streaming.committed_epochs(dirs["out"])) == 1

    # second wave -> new epoch, same checkpoint
    _write_wave(spark, dirs["src"], 500, 300)
    stream2 = (
        spark.readStream.schema(TOKENS_SCHEMA.to_spark())
        .parquet(dirs["src"])
    )
    q2 = streaming.encode_stream(stream2, dirs["out"], dirs["ckpt"],
                                 partitions=2)
    q2.awaitTermination(120)
    epochs = streaming.committed_epochs(dirs["out"])
    assert len(epochs) == 2

    back = streaming.decode_stream(spark, dirs["out"])
    assert back.count() == 800
    got = sorted(r.doc_id for r in back.select("doc_id").collect())
    assert got == sorted(f"doc_{i:08d}" for i in range(800))


def test_replayed_epoch_is_noop(spark, dirs):
    _write_wave(spark, dirs["src"], 0, 200)

    def run(ckpt: str):
        stream = (
            spark.readStream.schema(TOKENS_SCHEMA.to_spark())
            .parquet(dirs["src"])
        )
        q = streaming.encode_stream(stream, dirs["out"], ckpt, partitions=2)
        q.awaitTermination(120)

    run(dirs["ckpt"])
    d = streaming.committed_epochs(dirs["out"])[0]
    before = os.path.getmtime(os.path.join(d, "manifest.json"))
    # Replay: a FRESH checkpoint restarts epoch numbering at 0 and
    # re-delivers the same data — the committed epoch must be a no-op.
    run(str(dirs["ckpt"]) + "_replay")
    assert len(streaming.committed_epochs(dirs["out"])) == 1
    after = os.path.getmtime(os.path.join(d, "manifest.json"))
    assert before == after
    assert streaming.decode_stream(spark, dirs["out"]).count() == 200


def test_stream_dedup_exactly_once_across_batches(spark, dirs):
    """applyInPandasWithState dedup: a text seen in epoch 0 is suppressed
    in epoch 1; each distinct fingerprint is emitted exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, sink, ckpt = dirs["src"], dirs["out"], dirs["ckpt"]
    os.makedirs(src, exist_ok=True)

    def wave(name, rows):
        tbl = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        })
        pq.write_table(tbl, os.path.join(src, name))

    def drain():
        stream = spark.readStream.schema("doc_id long, text string") \
            .parquet(src)
        out = streaming.stream_dedup(stream)

        def write(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(sink)

        q = (out.writeStream.outputMode("update").foreachBatch(write)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    wave("w0.parquet", [(1, "alpha beta"), (2, "gamma delta"),
                        (3, "alpha beta")])
    drain()
    got = {(r.doc_id, r.text)
           for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "alpha beta"), (2, "gamma delta")}

    # second wave: one replayed text, one new
    wave("w1.parquet", [(10, "alpha beta"), (11, "epsilon zeta")])
    drain()
    got = {(r.doc_id, r.text)
           for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "alpha beta"), (2, "gamma delta"),
                   (11, "epsilon zeta")}


def _write_epoch(out: str, e: int, rows: int = 5):
    """One committed epoch written straight through the layout contract
    (part file + manifest) — no Spark job, so a 100-epoch corpus is
    cheap to build."""
    import json  # noqa: F401
    import zlib

    import pyarrow as pa

    from zseq.encode import _atomic_write_json, build_manifest
    from zseq.zseqfile import encode_table

    d = streaming.epoch_dir(out, e)
    os.makedirs(d, exist_ok=True)
    schema = pa.schema([("doc_id", pa.int64()), ("v", pa.string())])
    tbl = pa.table(
        {"doc_id": [e * 100 + i for i in range(rows)],
         "v": [f"x{e}_{i}" for i in range(rows)]}, schema=schema)
    blob = encode_table(tbl)
    fname = "part-00000.zseq"  # SAME name in every epoch, on purpose:
    # the crc map must key by epoch-dir/file, not basename
    with open(os.path.join(d, fname), "wb") as f:
        f.write(blob)
    part = {"part_id": 0, "file": fname, "rows": rows, "list_elems": 0,
            "raw_bytes": tbl.nbytes, "enc_bytes": len(blob),
            "wall_sec": 0.0, "codecs": "{}", "col_bytes": "{}",
            "crc32": zlib.crc32(blob)}
    m = build_manifest(mode="stream", partitions=1, arrow_schema=schema,
                       parts=[part], extra={"epoch": e})
    _atomic_write_json(os.path.join(d, "manifest.json"), m)
    return [(e * 100 + i, f"x{e}_{i}") for i in range(rows)]


def test_decode_stream_is_one_scan_at_100_epochs(spark, tmp_path):
    """decode_stream must not build an O(epochs) union chain: the
    executed plan carries exactly ONE leaf source node over all committed
    parts, and every epoch's crc is still enforced."""
    out = str(tmp_path / "stream100")
    expect = []
    for e in range(100):
        expect += _write_epoch(out, e)
    df = streaming.decode_stream(spark, out)
    executed = df._jdf.queryExecution().executedPlan()
    plan = executed.toString()
    leaves = executed.collectLeaves().size()
    assert leaves == 1, f"expected one leaf node, got {leaves}:\n{plan}"
    assert "Union" not in plan, plan
    got = sorted((r["doc_id"], r["v"]) for r in df.collect())
    assert got == sorted(expect)


def test_decode_stream_crc_enforced_per_epoch(spark, tmp_path):
    out = str(tmp_path / "streamcrc")
    for e in range(3):
        _write_epoch(out, e)
    # corrupt epoch 1's part (same basename as every other epoch's part:
    # a basename-keyed crc map would fetch the wrong checksum or skip)
    p = os.path.join(streaming.epoch_dir(out, 1), "part-00000.zseq")
    blob = bytearray(open(p, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="crc32"):
        streaming.decode_stream(spark, out).count()


def test_windowed_stats_watermark_drops_late_rows(spark, tmp_path):
    """Event-time windows + watermark: on-time rows aggregate into their
    window; a row arriving after the watermark passed its window is
    DROPPED (the late-data contract that bounds state)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    os.makedirs(src)

    def ts(minute, second=0):
        return dt.datetime(2026, 1, 1, 10, minute, second)

    def wave(name, rows):
        tbl = pa.table({
            "ts": pa.array([r[0] for r in rows],
                           pa.timestamp("us")),
            "source": pa.array([r[1] for r in rows]),
            "n_tok": pa.array([r[2] for r in rows], pa.int64()),
        })
        pq.write_table(tbl, os.path.join(src, name))

    sink = str(tmp_path / "wsink")

    def drain():
        stream = (
            spark.readStream
            .schema("ts timestamp, source string, n_tok long")
            .parquet(src)
        )
        out = streaming.windowed_stats(stream, window="1 minute",
                                       watermark="2 minutes")

        def write(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(sink)

        q = (out.writeStream.outputMode("update").foreachBatch(write)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # drain 1: watermark advances to 10:05 - 2min = 10:03
    wave("w0.parquet", [(ts(0, 0), "a", 10), (ts(0, 30), "a", 5),
                        (ts(5, 0), "b", 7)])
    drain()
    # drain 2 (checkpointed watermark carried over): one LATE row inside
    # the closed 10:00 window (dropped), one on-time row
    wave("w1.parquet", [(ts(0, 10), "a", 100), (ts(6, 0), "b", 3)])
    drain()
    spark.read.parquet(sink).createOrReplaceTempView("wstats")
    rows = spark.sql(
        "SELECT win_start, source, max(docs) as docs, "
        "max(tokens) as tokens FROM wstats "
        "GROUP BY win_start, source").collect()
    got = {(r["win_start"].minute, r["source"]): (r["docs"], r["tokens"])
           for r in rows}
    # late (ts 10:00:10, 100 tokens) must NOT be in the 10:00 window
    assert got[(0, "a")] == (2, 15)
    assert got[(5, "b")] == (1, 7)
    assert got[(6, "b")] == (1, 3)


def test_decode_stream_schema_evolution(spark, tmp_path):
    """decode_stream(schema=ext): the batch read-side evolution over
    EVERY committed epoch — new nullable columns L6-default-filled,
    narrowing refused, only-new-column projection keeps the row count."""
    import pyarrow as pa
    import pytest

    from zseq.encode import read_manifest

    out = str(tmp_path / "sevo")
    expect = []
    for e in range(3):
        expect += _write_epoch(out, e)
    w = pa.ipc.read_schema(pa.py_buffer(bytes.fromhex(
        read_manifest(streaming.epoch_dir(out, 0))["schema"])))
    ext = pa.schema(list(w) + [pa.field("quality", pa.int64(),
                                        nullable=True)])
    df = streaming.decode_stream(spark, out, schema=ext)
    assert df.columns == ["doc_id", "v", "quality"]
    rows = df.collect()
    assert len(rows) == len(expect)
    assert sorted((r["doc_id"], r["v"]) for r in rows) == sorted(expect)
    assert all(r["quality"] == 0 for r in rows)

    only = streaming.decode_stream(spark, out, schema=ext,
                                   columns=["quality"])
    assert only.columns == ["quality"]
    assert only.count() == len(expect)

    with pytest.raises(ValueError, match="narrowing"):
        streaming.decode_stream(
            spark, out, schema=pa.schema([pa.field("doc_id", pa.int64())]))


def test_decode_stream_file_pruning_by_manifest_zones(spark, tmp_path):
    """Epoch parts whose manifest zone envelope excludes the predicate
    are never OPENED: prove it by corrupting every other epoch's part
    file on disk — a read that touched them would die on the crc gate."""
    import json

    from zseq.zseqfile import zones_to_json

    out = str(tmp_path / "sprune")
    for e in range(3):
        _write_epoch(out, e)
        d = streaming.epoch_dir(out, e)
        mp = os.path.join(d, "manifest.json")
        m = json.load(open(mp))
        m["parts"][0]["zones"] = zones_to_json(
            {"doc_id": (e * 100, e * 100 + 4)})
        json.dump(m, open(mp, "w"))
    # corrupt epochs 0 and 2 (leave their manifests claiming the old crc)
    for e in (0, 2):
        p = os.path.join(streaming.epoch_dir(out, e), "part-00000.zseq")
        b = bytearray(open(p, "rb").read())
        b[len(b) // 2] ^= 0xFF
        open(p, "wb").write(bytes(b))
    got = streaming.decode_stream(
        spark, out, predicate=[("doc_id", "=", 103)]) \
        .filter("doc_id = 103").collect()
    assert [(r["doc_id"], r["v"]) for r in got] == [(103, "x1_3")]
    # without the predicate the corrupted epochs ARE read and refused
    import pytest

    with pytest.raises(Exception, match="crc32|corrupt"):
        streaming.decode_stream(spark, out).count()


def test_decode_stream_bucket_pruning(spark, tmp_path):
    """Epochs are committed via encode(mode='hash'), so an equality
    predicate on the key pins ONE bucket file per epoch — proven by
    corrupting every non-pinned file across all epochs."""
    import json
    import os

    import pyarrow as pa

    from zseq import encode as zenc
    from zseq.sparkhash import bucket_of
    from zseq.streaming import decode_stream, epoch_dir

    out = str(tmp_path / "stream")
    os.makedirs(out)
    for e in range(3):
        df = spark.range(e * 100, (e + 1) * 100).selectExpr(
            "concat('k_', lpad(cast(id as string), 4, '0')) as doc_id",
            "id as v")
        zenc.encode(df, epoch_dir(out, e), mode="hash", partitions=4,
                    partition_col="doc_id")
    key = "k_0150"  # lives in epoch 1
    b = bucket_of(key, pa.string(), 4)
    for e in range(3):
        d = epoch_dir(out, e)
        m = json.load(open(os.path.join(d, "manifest.json")))
        for p in m["parts"]:
            if p["part_id"] != b:
                with open(os.path.join(d, p["file"]), "wb") as f:
                    f.write(b"junk")
    got = decode_stream(spark, out,
                        predicate=[("doc_id", "=", key)]) \
        .filter(f"doc_id = '{key}'").collect()
    assert [(r["doc_id"], r["v"]) for r in got] == [(key, 150)]
