"""``decode_stream`` over the epoch layout: one scan over every committed
epoch, each file checked against its own epoch's crc, and one
file-stream -> sink -> decode roundtrip. The sink's own contract is
tested in test_datasource.py."""

import os

import pytest

from zseq import streaming


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


def test_stream_encode_decode(spark, tmp_path):
    """File stream -> writeStream.format('zseq') epochs -> decode_stream:
    two waves through one checkpoint commit two epochs of two parts
    each, and every row decodes back equal to its source."""
    import pyarrow.parquet as pq

    from conftest import TOKENS_SCHEMA
    from zseq import synth
    from zseq.datasource import register

    register(spark)
    src, out, ckpt = (str(tmp_path / k) for k in ("src", "out", "ckpt"))
    os.makedirs(src, exist_ok=True)

    def drain(start: int, n: int) -> None:
        pq.write_table(synth.tokens_table_arrow(n, start=start),
                       os.path.join(src, f"wave-{start}.parquet"))
        q = (spark.readStream.schema(TOKENS_SCHEMA).parquet(src)
             .repartition(2)
             .writeStream.format("zseq")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start(out))
        q.awaitTermination(120)

    drain(0, 500)
    assert len(streaming.committed_epochs(out)) == 1
    drain(500, 300)
    epochs = streaming.committed_epochs(out)
    assert len(epochs) == 2
    for d in epochs:
        parts = [f for f in os.listdir(d) if f.endswith(".zseq")]
        assert len(parts) == 2, (d, parts)

    back = streaming.decode_stream(spark, out)
    assert back.count() == 800
    want = synth.tokens_table_arrow(800).to_pylist()
    got = sorted((r.asDict() for r in back.collect()),
                 key=lambda r: r["doc_id"])
    assert got == sorted(want, key=lambda r: r["doc_id"])


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
