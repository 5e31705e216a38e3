"""CLI entry points that don't need their own Spark session (dump) plus
the distributed verify path, driven through main(argv)."""

import json

import pytest

from conftest import tokens_range
from zseq import synth
from zseq import encode as zenc
from zseq.__main__ import main


@pytest.fixture(scope="module")
def enc_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli") / "enc")
    df = synth.tokens_df_range(spark, 500, partitions=2)
    zenc.encode(df, out, partitions=2)
    return out


def test_dump_striped_debug_view(enc_dir, capsys):
    assert main(["dump", enc_dir, "--limit", "5"]) == 0
    view = json.loads(capsys.readouterr().out)
    assert view["rows"] > 0
    assert set(view["columns"]) == {"doc_id", "tokens", "n_tok", "source"}
    assert all(len(v) <= 5 for v in view["columns"].values())
    assert view["codecs"]  # per-column codec tags present
    assert view["schema"]["tokens"].startswith("list")


def test_dump_part_out_of_range(enc_dir, capsys):
    assert main(["dump", enc_dir, "--part", "99"]) == 1


def test_info(enc_dir, capsys):
    assert main(["info", enc_dir]) == 0
    view = json.loads(capsys.readouterr().out)
    assert view["format"] == "zseq/1"
    assert view["totals"]["rows"] == 500


def test_compact_epochs(spark, tmp_path, capsys):
    """Streaming epochs -> one compacted dataset with equal contents."""
    from zseq import decode as zdec
    from zseq.streaming import epoch_dir

    root = str(tmp_path / "stream")
    zenc.encode(synth.tokens_df_range(spark, 300, partitions=3),
                epoch_dir(root, 0), partitions=3)
    zenc.encode(synth.tokens_df_range(spark, 200, partitions=3),
                epoch_dir(root, 1), partitions=3)
    out = str(tmp_path / "compacted")
    assert main(["compact", root, out, "--partitions", "2"]) == 0
    view = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert view["rows"] == 500 and view["epochs_in"] == 2
    assert view["parts"] == 2
    assert zdec.decode(spark, out).count() == 500


def test_info_reports_per_column_bytes(enc_dir, capsys):
    assert main(["info", enc_dir]) == 0
    view = json.loads(capsys.readouterr().out)
    cb = view["col_bytes"]
    assert set(cb) == {"doc_id", "tokens", "n_tok", "source"}
    assert all(v > 0 for v in cb.values())
    # per-column bytes account for the whole body (blocks minus framing)
    assert sum(cb.values()) <= view["totals"]["enc_bytes"]


def test_info_sums_codec_hist_over_all_parts(enc_dir, capsys):
    assert main(["info", enc_dir]) == 0
    view = json.loads(capsys.readouterr().out)
    parts = zenc.read_manifest(enc_dir)["parts"]
    assert len(parts) == 2
    want: dict = {}
    for p in parts:
        for path, by_codec in json.loads(p["codec_hist"]).items():
            for c, (blocks, nbytes) in by_codec.items():
                tot = want.setdefault(path, {}).setdefault(c, [0, 0])
                tot[0] += blocks
                tot[1] += nbytes
    assert view["codecs"] == want
    # one block per part, every path counted in both parts
    assert all(sum(b for b, _ in h.values()) == 2
               for h in view["codecs"].values())
    assert set(view["codecs"]) >= {"doc_id", "tokens.element", "n_tok"}


def test_info_falls_back_to_codecs_on_old_manifest(capsys):
    """Parts committed before codec_hist existed (the checked-in
    rev00001 dataset) report their last block's codec per path as one
    block of unknown (0) bytes."""
    import os

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "rev00001_ds")
    [part] = zenc.read_manifest(fix)["parts"]
    assert "codec_hist" not in part
    assert main(["info", fix]) == 0
    view = json.loads(capsys.readouterr().out)
    assert view["codecs"] == {path: {c: [1, 0]} for path, c in
                              json.loads(part["codecs"]).items()}


def test_verify_cli_handles_map_columns(spark, tmp_path):
    """The distributed verify must survive map-typed columns (Spark
    forbids set ops on maps; they compare as sorted entry lists)."""
    df = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"c": 3}), (3, {})],
        "k long, m map<string,int>")
    src = str(tmp_path / "msrc")
    enc = str(tmp_path / "menc")
    df.write.mode("overwrite").parquet(src)
    zenc.encode(spark.read.parquet(src), enc, partitions=2)
    assert main(["verify", src, enc]) == 0


def test_verify_cli_handles_nested_maps(spark, tmp_path):
    """Maps nested inside structs and arrays must normalize too (top-
    level-only rewriting made exceptAll raise AnalysisException)."""
    df = spark.createDataFrame(
        [(1, ({"a": 1},), [{"x": 9}]), (2, ({"b": 2},), []),
         (3, (None,), [{}])],
        "k long, s struct<m: map<string,int>>, am array<map<string,int>>")
    src = str(tmp_path / "nsrc")
    enc = str(tmp_path / "nenc")
    df.write.mode("overwrite").parquet(src)
    zenc.encode(spark.read.parquet(src), enc, partitions=2)
    assert main(["verify", src, enc]) == 0


def test_vacuum_removes_aged_orphans_only(spark, tmp_path, capsys):
    import os
    import time

    out = str(tmp_path / "vac")
    df = synth.tokens_df_range(spark, 200, partitions=2)
    zenc.encode(df, out, partitions=2)
    # orphans: an aged crashed-write leftover and a FRESH one
    old = os.path.join(out, "part-deadbeef-00099.zseq")
    fresh = os.path.join(out, "part-cafecafe-00098.zseq")
    tmpf = os.path.join(out, "part-deadbeef-00097.zseq.tmp-123")
    for p in (old, fresh, tmpf):
        open(p, "wb").write(b"junk")
    past = time.time() - 100000
    os.utime(old, (past, past))
    os.utime(tmpf, (past, past))
    # dry run removes nothing
    assert main(["vacuum", out, "--dry-run"]) == 0
    assert os.path.exists(old) and os.path.exists(tmpf)
    assert main(["vacuum", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["removed"] == 2
    assert not os.path.exists(old) and not os.path.exists(tmpf)
    assert os.path.exists(fresh)  # age gate spares a running writer
    # committed parts untouched, dataset still decodes
    from zseq import decode as zdec

    assert zdec.decode(spark, out).count() == 200


def test_vacuum_refuses_uncommitted_dir(tmp_path):
    import os

    d = str(tmp_path / "novac")
    os.makedirs(d)
    open(os.path.join(d, "part-aaaa-00000.zseq"), "wb").write(b"x")
    with pytest.raises(FileNotFoundError):
        main(["vacuum", d])


def test_vacuum_epoch_layout(spark, tmp_path, capsys):
    import os
    import time

    from zseq import streaming

    out = str(tmp_path / "vstream")
    df = synth.tokens_df_range(spark, 100, partitions=1)
    # two committed epochs via the foreachBatch path
    zenc.encode(df, streaming.epoch_dir(out, 0), partitions=1)
    zenc.encode(df, streaming.epoch_dir(out, 1), partitions=1)
    staging = os.path.join(out, ".staging")
    os.makedirs(staging)
    past = time.time() - 100000
    stale = os.path.join(staging, "part-beef-00001.zseq")
    open(stale, "wb").write(b"junk")
    os.utime(stale, (past, past))
    dead = streaming.epoch_dir(out, 7)  # uncommitted epoch, aged debris
    os.makedirs(dead)
    deadf = os.path.join(dead, "part-00000.zseq")
    open(deadf, "wb").write(b"junk")
    os.utime(deadf, (past, past))
    assert main(["vacuum", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["removed"] == 2
    assert not os.path.exists(stale) and not os.path.exists(dead)
    assert streaming.decode_stream(spark, out).count() == 200


def test_info_on_streaming_layout(spark, tmp_path, capsys):
    from zseq import streaming

    out = str(tmp_path / "sinfo")
    df = synth.tokens_df_range(spark, 100, partitions=1)
    zenc.encode(df, streaming.epoch_dir(out, 0), partitions=1)
    zenc.encode(df, streaming.epoch_dir(out, 1), partitions=1)
    assert main(["info", out]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["mode"] == "stream"
    assert rep["totals"]["rows"] == 200

    # an epoch written by a different code revision may carry different
    # totals keys — info must union + report, not KeyError
    import os

    ep1 = streaming.epoch_dir(out, 1)
    mpath = os.path.join(ep1, "manifest.json")
    m = json.load(open(mpath))
    m["totals"].pop("list_elems", None)
    m["totals"]["future_metric"] = 7
    json.dump(m, open(mpath, "w"))
    assert main(["info", out]) == 0
    rep2 = json.loads(capsys.readouterr().out)
    assert rep2["totals"]["rows"] == 200
    assert rep2["totals"]["future_metric"] == 7
    assert rep2["totals"]["list_elems"] == \
        json.load(open(os.path.join(streaming.epoch_dir(out, 0),
                                    "manifest.json")))["totals"]["list_elems"]


def test_cli_encode_append_grows_dataset(spark, tmp_path, capsys):
    """`python -m zseq encode --append` stages new parts and commits
    old+new atomically — the CLI face of encode(append=True)."""
    import os

    base = str(tmp_path / "in1")
    more = str(tmp_path / "in2")
    out = str(tmp_path / "enc")
    synth.tokens_df_range(spark, 300, partitions=1).write.parquet(base)
    tokens_range(spark, 1_000_000, 1_000_200, 1).write.parquet(more)
    assert main(["encode", base, out]) == 0
    capsys.readouterr()
    assert main(["encode", more, out, "--append"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["rows"] == 500
    m = zenc.read_manifest(out)
    assert m["mode"] == "append" and m["revision"] == 2
    from zseq import decode as zdec
    assert zdec.decode(spark, out).count() == 500


def test_cli_encode_salted_mode(spark, tmp_path, capsys):
    """--mode salted is reachable from the CLI (the --partitions error
    text recommends it, so argparse must accept it)."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "enc")
    synth.tokens_df_range(spark, 400, partitions=2).write.parquet(inp)
    assert main(["encode", inp, out, "--mode", "salted",
                 "--partitions", "2"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["rows"] == 400


def test_cli_encode_range_mode(spark, tmp_path, capsys):
    """--mode range is reachable from the CLI (the --partitions error
    text recommends it, so argparse must accept it)."""
    import zseq.encode as zenc

    inp = str(tmp_path / "in")
    out = str(tmp_path / "enc")
    synth.tokens_df_range(spark, 400, partitions=2).write.parquet(inp)
    assert main(["encode", inp, out, "--mode", "range",
                 "--partitions", "2"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["rows"] == 400
    m = zenc.read_manifest(out)
    assert m["mode"] == "range" and m["partition_col"] == "doc_id"


def test_info_reports_zoned_parts(enc_dir, capsys):
    assert main(["info", enc_dir]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["zoned_parts"] == len(
        zenc.read_manifest(enc_dir)["parts"]) == 2


def test_cli_history_and_revision_reads(spark, tmp_path, capsys):
    """`history` lists retained revisions (one JSON line each);
    `info --revision N` reports the snapshot and `decode --revision N`
    materializes the pre-append data."""
    base = str(tmp_path / "in1")
    more = str(tmp_path / "in2")
    out = str(tmp_path / "enc")
    back = str(tmp_path / "back")
    synth.tokens_df_range(spark, 300, partitions=1).write.parquet(base)
    tokens_range(spark, 1_000_000, 1_000_200, 1).write.parquet(more)
    assert main(["encode", base, out]) == 0
    capsys.readouterr()
    assert main(["encode", more, out, "--append"]) == 0
    capsys.readouterr()

    assert main(["history", out]) == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert [r["revision"] for r in rows] == [1, 2]
    assert rows[0]["totals"]["rows"] == 300
    assert rows[1]["totals"]["rows"] == 500

    assert main(["info", out, "--revision", "1"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["totals"]["rows"] == 300

    assert main(["decode", out, back, "--revision", "1"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["rows"] == 300


def test_cli_history_missing_dataset(tmp_path, capsys):
    assert main(["history", str(tmp_path / "nope")]) == 1
