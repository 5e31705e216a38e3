"""Batch append mode: grow a committed dataset with new token-staged
parts + a put-if-absent commit of the next manifest revision (encode
API, parquet fast path, and the DataSource writer's .mode('append'))."""

import os
import shutil

import pytest

from conftest import tokens_range
from zseq import decode as zdec
from zseq import encode as zenc
from zseq import synth


def _ids(spark, df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


@pytest.fixture()
def base(spark, tmp_path):
    out = str(tmp_path / "ds")
    df1 = synth.tokens_df_range(spark, 300, partitions=2)
    res = zenc.encode(df1, out, partitions=2)
    return out, df1, res


def test_append_roundtrip_equals_union(spark, base):
    out, df1, res1 = base
    df2 = tokens_range(spark, 1_000_000, 1_000_200, 2)
    res2 = zenc.encode(df2, out, append=True)
    m = res2.manifest
    assert m["mode"] == "append"
    assert m["revision"] == res1.manifest.get("revision", 1) + 1
    assert m["appends"] == 1
    assert m["totals"]["rows"] == 500
    # old parts retained verbatim, new parts follow with offset ids
    old_files = {p["file"] for p in res1.parts}
    assert old_files <= {p["file"] for p in m["parts"]}
    ids = [p["part_id"] for p in m["parts"]]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    back = zdec.decode(spark, out)
    assert back.count() == 500
    assert _ids(spark, back) == _ids(spark, df1.union(df2))


def test_append_twice_and_decode(spark, base):
    out, df1, _ = base
    for s in (1_000_000, 2_000_000):
        zenc.encode(tokens_range(spark, s, s + 100, 1), out, append=True)
    m = zenc.read_manifest(out)
    assert m["appends"] == 2 and m["totals"]["rows"] == 500
    assert zdec.decode(spark, out).count() == 500


def test_append_to_empty_dir_is_fresh_encode(spark, tmp_path):
    out = str(tmp_path / "fresh")
    df = synth.tokens_df_range(spark, 100, partitions=1)
    res = zenc.encode(df, out, append=True)
    assert res.manifest["mode"] == "preserve"
    assert res.manifest["revision"] == 1
    assert zdec.decode(spark, out).count() == 100


def test_append_schema_mismatch_refused(spark, base):
    out, _, _ = base
    wrong = synth.tokens_df_range(spark, 10, partitions=1) \
        .withColumnRenamed("source", "origin")
    with pytest.raises(ValueError, match="schema differs"):
        zenc.encode(wrong, out, append=True)


def test_append_zstd_mismatch_refused(spark, base):
    out, _, _ = base
    df = synth.tokens_df_range(spark, 10, partitions=1)
    with pytest.raises(ValueError, match="zstd_level"):
        zenc.encode(df, out, append=True, zstd_level=9)


def test_append_resume_mutually_exclusive(spark, base):
    out, _, _ = base
    df = synth.tokens_df_range(spark, 10, partitions=1)
    with pytest.raises(ValueError, match="mutually exclusive"):
        zenc.encode(df, out, append=True, resume=True, mode="hash")


def test_resume_refused_on_appended_dataset(spark, base):
    out, _, _ = base
    zenc.encode(tokens_range(spark, 1_000_000, 1_000_050, 1), out, append=True)
    df = synth.tokens_df_range(spark, 10, partitions=1)
    with pytest.raises(ValueError, match="dataset after 'append'"):
        zenc.encode(df, out, mode="hash", resume=True)


def test_concurrent_writer_fails_cas_cleanly(spark, base):
    """Losing the race: an append that read revision r must refuse to
    commit once any other writer committed r+1 — and the winner's
    dataset stays fully readable."""
    out, _, res1 = base
    c = zenc.begin(out, append=True)  # the append reads revision r
    # concurrent overwrite commits first
    winner = tokens_range(spark, 5_000_000, 5_000_120, 1)
    zenc.encode(winner, out, partitions=1)
    with pytest.raises(RuntimeError, match="concurrent"):
        c.finish(dict(res1.manifest, revision=c.revision))
    back = zdec.decode(spark, out)
    assert back.count() == 120
    assert _ids(spark, back) == _ids(spark, winner)


def test_crashed_append_leaves_old_dataset_readable(spark, base):
    """Parts staged by an append that never commits are invisible to
    readers (manifest-driven) and visible to vacuum as aged orphans."""
    out, df1, res1 = base
    # simulate the crash: stage a token-named orphan, no manifest change
    src = os.path.join(out, res1.parts[0]["file"])
    orphan = os.path.join(out, "part-deadbeef-00099.zseq")
    shutil.copyfile(src, orphan)
    back = zdec.decode(spark, out)
    assert back.count() == 300
    assert _ids(spark, back) == _ids(spark, df1)
    listed = zenc.vacuum(out, min_age_sec=0.0, dry_run=True)
    assert orphan in listed


def test_encode_parquet_append(spark, tmp_path):
    out = str(tmp_path / "ds")
    in1, in2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    df1 = synth.tokens_df_range(spark, 200, partitions=2)
    df2 = tokens_range(spark, 1_000_000, 1_000_150, 2)
    df1.write.parquet(in1)
    df2.write.parquet(in2)
    zenc.encode_parquet(spark, in1, out)
    res = zenc.encode_parquet(spark, in2, out, append=True)
    m = res.manifest
    assert m["mode"] == "append" and m["totals"]["rows"] == 350
    assert len(m["input_files"]) == len(
        [f for f in os.listdir(in1) if f.endswith(".parquet")]) + len(
        [f for f in os.listdir(in2) if f.endswith(".parquet")])
    back = zdec.decode(spark, out)
    assert _ids(spark, back) == _ids(spark, df1.union(df2))


def test_datasource_append_mode(spark, tmp_path):
    from zseq.datasource import register

    register(spark)
    out = str(tmp_path / "ds")
    df1 = synth.tokens_df_range(spark, 200, partitions=2)
    df2 = tokens_range(spark, 1_000_000, 1_000_100, 2)
    df1.write.format("zseq").mode("overwrite").save(out)
    df2.write.format("zseq").mode("append").save(out)
    m = zenc.read_manifest(out)
    assert m["mode"] == "append" and m["totals"]["rows"] == 300
    back = spark.read.format("zseq").load(out)
    assert back.count() == 300
    assert _ids(spark, back) == _ids(spark, df1.union(df2))


def test_datasource_append_schema_mismatch_refused(spark, tmp_path):
    from zseq.datasource import register

    register(spark)
    out = str(tmp_path / "ds")
    synth.tokens_df_range(spark, 50, partitions=1) \
        .write.format("zseq").mode("overwrite").save(out)
    wrong = synth.tokens_df_range(spark, 10, partitions=1) \
        .withColumnRenamed("source", "origin")
    with pytest.raises(Exception, match="schema differs"):
        wrong.write.format("zseq").mode("append").save(out)
    # dataset untouched
    assert spark.read.format("zseq").load(out).count() == 50


def test_append_preserves_input_files_provenance(spark, tmp_path):
    """A DataFrame append onto a parquet-fast-path dataset must not
    drop the committed input_files provenance list."""
    out = str(tmp_path / "ds")
    ind = str(tmp_path / "in")
    synth.tokens_df_range(spark, 100, partitions=1).write.parquet(ind)
    zenc.encode_parquet(spark, ind, out)
    files_before = zenc.read_manifest(out)["input_files"]
    assert files_before
    zenc.encode(tokens_range(spark, 1_000_000, 1_000_050, 1), out, append=True)
    m = zenc.read_manifest(out)
    assert m["mode"] == "append"
    assert m["input_files"] == files_before


def test_append_refused_on_unreadable_manifest_schema(spark, tmp_path):
    """A manifest whose 'schema' entry is missing or corrupt must refuse
    an append with the append-contract error, not an ArrowInvalid."""
    import json
    import os

    out = str(tmp_path / "ds")
    df = synth.tokens_df_range(spark, 50, partitions=1)
    zenc.encode(df, out, partitions=1)
    mpath = os.path.join(out, "manifest.json")
    m = json.load(open(mpath))
    m["schema"] = "zz"  # not valid hex-encoded Arrow IPC
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="no readable 'schema'"):
        zenc.encode(synth.tokens_df_range(spark, 10, partitions=1),
                    out, append=True, partitions=1)
