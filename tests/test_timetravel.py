"""Time travel: every commit retains an immutable manifest revision
snapshot (manifest-rNNNNNNNN.json) next to the live manifest, so a
dataset can be read AS OF any retained revision — the lakehouse snapshot
model (append/compact retain history; vacuum expires it; overwrite
resets it). No reference analogue (single-file CLI); this is zseq's own
Spark-native dataset layer."""

import os

import pytest

from conftest import tokens_range
from zseq import decode as zdec
from zseq import encode as zenc
from zseq import synth


def _ids(spark, df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


@pytest.fixture()
def appended(spark, tmp_path):
    """rev 1 = 300 base docs, rev 2 = +200 appended docs."""
    out = str(tmp_path / "ds")
    df1 = synth.tokens_df_range(spark, 300, partitions=2)
    r1 = zenc.encode(df1, out, partitions=2)
    df2 = tokens_range(spark, 1_000_000, 1_000_200, 2)
    r2 = zenc.encode(df2, out, append=True)
    return out, df1, df2, r1, r2


def test_revisions_catalog(spark, appended):
    out, _, _, r1, r2 = appended
    rows = zenc.revisions(out)
    assert [r["revision"] for r in rows] == [1, 2]
    assert rows[0]["totals"]["rows"] == 300
    assert rows[1]["totals"]["rows"] == 500
    assert rows[1]["mode"] == "append"


def test_read_previous_revision_is_preappend_data(spark, appended):
    out, df1, df2, r1, _ = appended
    back1 = zdec.decode(spark, out, revision=1)
    assert back1.count() == 300
    assert _ids(spark, back1) == _ids(spark, df1)
    # live (and explicit live-revision) read = the union
    assert zdec.decode(spark, out).count() == 500
    assert zdec.decode(spark, out, revision=2).count() == 500


def test_datasource_revision_option(spark, appended):
    from zseq.datasource import register

    register(spark)
    out, df1, _, _, _ = appended
    back1 = (spark.read.format("zseq").option("revision", 1).load(out))
    assert back1.count() == 300
    assert _ids(spark, back1) == _ids(spark, df1)


def test_missing_revision_raises_with_retained_list(spark, appended):
    out, *_ = appended
    with pytest.raises(FileNotFoundError, match=r"revision 7.*\[1, 2\]"):
        zdec.decode(spark, out, revision=7)


def test_compaction_retains_previous_revision(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = synth.tokens_df_range(spark, 400, partitions=4)
    zenc.encode(df, out, partitions=4)
    summary = zenc.compact_parts(out, target_bytes=1 << 30)
    assert summary["parts_after"] < summary["parts_before"]
    # pre-compaction revision still readable (replaced files are
    # vacuum's to sweep, not the compactor's)
    back1 = zdec.decode(spark, out, revision=1)
    assert _ids(spark, back1) == _ids(spark, df)
    assert _ids(spark, zdec.decode(spark, out, revision=2)) \
        == _ids(spark, df)


def test_vacuum_expires_history_and_frees_only_then(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = synth.tokens_df_range(spark, 400, partitions=4)
    zenc.encode(df, out, partitions=4)
    pre_files = {p["file"] for p in zenc.read_manifest(out)["parts"]}
    zenc.compact_parts(out, target_bytes=1 << 30)
    live = zenc.read_manifest(out)
    replaced = pre_files - {p["file"] for p in live["parts"]}
    assert replaced
    # young history: vacuum must keep both the snapshot and its files
    removed = zenc.vacuum(out, min_age_sec=3600.0)
    assert removed == []
    assert [r["revision"] for r in zenc.revisions(out)] == [1, 2]
    assert zdec.decode(spark, out, revision=1).count() == 400
    # aged out: snapshot expired, its exclusive files freed
    removed = zenc.vacuum(out, min_age_sec=0.0)
    names = {os.path.basename(p) for p in removed}
    assert replaced <= names
    assert zenc._snapshot_name(1) in names
    assert [r["revision"] for r in zenc.revisions(out)] == [2]
    with pytest.raises(FileNotFoundError, match="revision 1"):
        zdec.decode(spark, out, revision=1)
    # the live dataset is untouched
    assert zdec.decode(spark, out).count() == 400


def test_overwrite_resets_history(spark, tmp_path):
    out = str(tmp_path / "ds")
    zenc.encode(synth.tokens_df_range(spark, 100, partitions=1), out)
    zenc.encode(synth.tokens_df_range(spark, 50, partitions=1), out,
                append=True)
    assert len(zenc.revisions(out)) == 2
    df3 = tokens_range(spark, 5_000_000, 5_000_070, 1)
    zenc.encode(df3, out)  # overwrite: superseded parts GC'd immediately
    rows = zenc.revisions(out)
    assert [r["revision"] for r in rows] == [3]
    with pytest.raises(FileNotFoundError, match="revision 1"):
        zdec.decode(spark, out, revision=1)
    assert _ids(spark, zdec.decode(spark, out, revision=3)) \
        == _ids(spark, df3)


def test_crash_window_live_without_snapshot_still_reads(spark, tmp_path):
    # a live manifest whose own snapshot is gone (a dataset edited by
    # hand) must leave revision==live readable (served from the live file)
    out = str(tmp_path / "ds")
    zenc.encode(synth.tokens_df_range(spark, 80, partitions=1), out)
    os.remove(os.path.join(out, zenc._snapshot_name(1)))
    assert zdec.decode(spark, out, revision=1).count() == 80
    assert [r["revision"] for r in zenc.revisions(out)] == [1]


def test_history_cli(spark, tmp_path, capsys):
    import json

    from zseq.__main__ import main

    out = str(tmp_path / "ds")
    zenc.encode(synth.tokens_df_range(spark, 60, partitions=1), out)
    zenc.encode(tokens_range(spark, 1_000_000, 1_000_040, 1), out, append=True)
    assert main(["history", out]) == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert [r["revision"] for r in lines] == [1, 2]
    assert lines[0]["totals"]["rows"] == 60
    assert lines[1]["totals"]["rows"] == 100


def test_rollback_restores_preappend_live(spark, appended):
    out, df1, _, _, _ = appended
    m = zenc.rollback(out, 1)
    assert m["revision"] == 3 and m["rollback_of"] == 1
    # live read = the pre-append data, no revision arg needed
    assert _ids(spark, zdec.decode(spark, out)) == _ids(spark, df1)
    # history moved FORWARD: the rolled-back-from union is retained
    assert [r["revision"] for r in zenc.revisions(out)] == [1, 2, 3]
    assert zdec.decode(spark, out, revision=2).count() == 500
    assert zdec.decode(spark, out, revision=3).count() == 300


def test_rollback_to_live_revision_is_noop(spark, appended):
    out, *_ = appended
    m = zenc.rollback(out, 2)
    assert m["revision"] == 2 and "rollback_of" not in m
    assert [r["revision"] for r in zenc.revisions(out)] == [1, 2]


def test_rollback_missing_revision_raises(spark, appended):
    out, *_ = appended
    with pytest.raises(FileNotFoundError, match="revision 9"):
        zenc.rollback(out, 9)


def test_rollback_refused_when_target_parts_vacuumed(spark, tmp_path):
    """Compaction replaces rev-1's files; vacuum(0) expires the rev-1
    snapshot AND sweeps the replaced files — but here we simulate the
    crash-ordering where the snapshot survives while a part is gone:
    rollback must refuse rather than commit a manifest of dead files."""
    out = str(tmp_path / "ds")
    zenc.encode(synth.tokens_df_range(spark, 300, partitions=3), out,
                partitions=3)
    zenc.compact_parts(out, target_bytes=1 << 30)
    # remove one of rev-1's (replaced) parts by hand, keep its snapshot
    m1 = zenc.read_manifest(out, revision=1)
    os.remove(os.path.join(out, m1["parts"][0]["file"]))
    with pytest.raises(FileNotFoundError, match="roll back"):
        zenc.rollback(out, 1)
    # live dataset untouched by the refusal
    assert zdec.decode(spark, out).count() == 300


def test_vacuum_after_rollback_keeps_live_and_retained(spark, appended):
    out, df1, _, _, _ = appended
    zenc.rollback(out, 1)
    # nothing is old enough: vacuum removes nothing
    assert zenc.vacuum(out, min_age_sec=3600) == []
    # age-expire everything non-live: rev-1/rev-2 snapshots go; the
    # appended-only parts (referenced by no retained revision) go too
    removed = zenc.vacuum(out, min_age_sec=0.0)
    assert removed  # rev1+rev2 snapshots (+ the 2 appended parts)
    assert [r["revision"] for r in zenc.revisions(out)] == [3]
    assert _ids(spark, zdec.decode(spark, out)) == _ids(spark, df1)


def test_rollback_cli(spark, tmp_path, capsys):
    import json

    from zseq.__main__ import main

    out = str(tmp_path / "ds")
    zenc.encode(synth.tokens_df_range(spark, 60, partitions=1), out)
    zenc.encode(tokens_range(spark, 1_000_000, 1_000_040, 1), out, append=True)
    assert main(["rollback", out, "1"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep == {"revision": 3, "rollback_of": 1, "rows": 60, "parts": 1}
    assert zdec.decode(spark, out).count() == 60
    assert main(["rollback", out, "9"]) == 1


def test_vacuum_keep_revisions_retention_floor(spark, tmp_path):
    """keep_revisions=N protects the newest N snapshots from age
    expiry; a snapshot expires only when past the age gate AND beyond
    the floor (Iceberg retain_last semantics)."""
    out = str(tmp_path / "ds")
    zenc.encode(synth.tokens_df_range(spark, 100, partitions=1), out)
    for i in range(3):  # revisions 2,3,4
        start = (i + 1) * 1_000_000
        zenc.encode(tokens_range(spark, start, start + 50, 1), out,
                    append=True)
    assert [r["revision"] for r in zenc.revisions(out)] == [1, 2, 3, 4]
    # everything is aged, but the floor keeps the newest 3
    zenc.vacuum(out, min_age_sec=0.0, keep_revisions=3)
    assert [r["revision"] for r in zenc.revisions(out)] == [2, 3, 4]
    # all still readable (append never deletes parts)
    assert zdec.decode(spark, out, revision=2).count() == 150
    # default floor (live only) expires the rest
    zenc.vacuum(out, min_age_sec=0.0)
    assert [r["revision"] for r in zenc.revisions(out)] == [4]
    with pytest.raises(ValueError, match="keep_revisions"):
        zenc.vacuum(out, keep_revisions=0)


def test_snapshot_regex_accepts_wide_revisions(tmp_path):
    """Revisions >= 10^8 write 9+ digit snapshot names ({:08d} pads
    without truncating); the listing regex must see them or vacuum's
    keep-set silently drops a retained revision's parts."""
    name = zenc._snapshot_name(123_456_789)
    assert name == "manifest-r123456789.json"
    mt = zenc._SNAPSHOT_RE.match(name)
    assert mt and int(mt.group(1)) == 123_456_789
    assert zenc._SNAPSHOT_RE.match("manifest-r00000002.json")
    assert not zenc._SNAPSHOT_RE.match("manifest-r0000002.json")
