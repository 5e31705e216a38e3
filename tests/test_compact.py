"""In-place incremental compaction (encode.compact_parts): merge only a
committed dataset's small part files into ~target-byte parts, revision-CAS
manifest rewrite, replaced files left for the age-gated vacuum."""

import json
import os
import subprocess
import sys

import pytest

from conftest import tokens_range
from zseq import decode as zdec
from zseq import encode as zenc
from zseq import synth

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


@pytest.fixture()
def many_small(spark, tmp_path):
    """A dataset of 6 small parts (hash mode, 6 buckets over 300 rows)."""
    out = str(tmp_path / "ds")
    df = synth.tokens_df_range(spark, 300, partitions=6)
    res = zenc.encode(df, out, mode="hash", partitions=6)
    assert len(res.parts) == 6
    return out, df, res


def test_compact_merges_all_small_parts(spark, many_small):
    out, df, res = many_small
    summary = zenc.compact_parts(out, target_bytes=1 << 30)
    assert summary["merged_groups"] == 1
    assert summary["parts_merged"] == 6
    assert summary["parts_after"] == 1
    m = zenc.read_manifest(out)
    assert m["mode"] == "compact"
    assert m["revision"] == res.manifest.get("revision", 1) + 1
    assert m["compactions"] == 1
    assert len(m["parts"]) == 1
    # totals preserved exactly for rows/list_elems
    assert m["totals"]["rows"] == res.manifest["totals"]["rows"]
    assert (m["totals"]["list_elems"]
            == res.manifest["totals"]["list_elems"])
    back = zdec.decode(spark, out)
    assert _ids(back) == _ids(df)
    # replaced files stay on disk for the age-gated vacuum, then
    # vacuum sweeps exactly them (plus the now-expired pre-compaction
    # manifest snapshot whose parts they were — time-travel expiry)
    old = [p["file"] for p in res.parts]
    assert all(os.path.exists(os.path.join(out, f)) for f in old)
    removed = zenc.vacuum(out, min_age_sec=0.0)
    removed_names = sorted(os.path.basename(p) for p in removed)
    snap = f"manifest-r{res.manifest.get('revision', 1):08d}.json"
    assert removed_names == sorted(old + [snap])
    assert _ids(zdec.decode(spark, out)) == _ids(df)


def test_compact_respects_target_and_leaves_big_parts(spark, many_small):
    out, df, res = many_small
    sizes = {p["file"]: p["enc_bytes"] for p in res.parts}
    big = max(sizes.values())
    # threshold below the biggest part: it must survive untouched
    summary = zenc.compact_parts(out, target_bytes=1 << 30,
                                 small_bytes=big)
    assert summary["parts_merged"] == 5
    m = zenc.read_manifest(out)
    files = {p["file"] for p in m["parts"]}
    untouched = [f for f, s in sizes.items() if s == big]
    assert set(untouched) <= files
    assert _ids(zdec.decode(spark, out)) == _ids(df)


def test_compact_noop_and_dry_run(spark, many_small):
    out, df, res = many_small
    # dry run: plan only, nothing written, revision unchanged
    plan = zenc.compact_parts(out, target_bytes=1 << 30, dry_run=True)
    assert plan["dry_run"] and plan["merged_groups"] == 1
    assert zenc.read_manifest(out)["revision"] == \
        res.manifest.get("revision", 1)
    zenc.compact_parts(out, target_bytes=1 << 30)
    rev = zenc.read_manifest(out)["revision"]
    # second compact: single (already-merged) part -> no group of >=2
    again = zenc.compact_parts(out, target_bytes=1 << 30)
    assert again["merged_groups"] == 0
    assert zenc.read_manifest(out)["revision"] == rev


def test_compact_cas_refuses_concurrent_commit(spark, many_small):
    out, _, res = many_small
    c = zenc.begin(out, append=True)  # the compaction reads revision r
    # a concurrent append commits first
    zenc.encode(tokens_range(spark, 1_000_000, 1_000_050, 1), out, append=True)
    with pytest.raises(RuntimeError, match="manifest changed"):
        c.finish(dict(res.manifest, revision=c.revision))


def test_compact_zones_survive_for_file_pruning(spark, tmp_path):
    out = str(tmp_path / "zoned")
    df = synth.tokens_df_range(spark, 400, partitions=4)
    zenc.encode(df.repartitionByRange(4, "doc_id"), out,
                mode="preserve")
    zenc.compact_parts(out, target_bytes=1 << 30)
    m = zenc.read_manifest(out)
    assert len(m["parts"]) == 1
    zones = json.loads(m["parts"][0]["zones"])
    assert bytes.fromhex(zones["doc_id"]["lo"]) == b"doc_00000000"
    assert bytes.fromhex(zones["doc_id"]["hi"]) == b"doc_00000399"
    assert zones["n_tok"]["lo"] >= 0
    # a predicate outside the envelope prunes the (only) file ...
    got = zdec.decode(
        spark, out, predicate=[("doc_id", ">", "doc_99999999")]).count()
    assert got == 0
    # ... and an in-range one still returns the exact rows
    got = zdec.decode(
        spark, out, predicate=[("doc_id", "<=", "doc_00000009")])
    assert got.filter("doc_id <= 'doc_00000009'").count() == 10


def test_append_then_compact_then_append(spark, many_small):
    out, df, _ = many_small
    df2 = tokens_range(spark, 1_000_000, 1_000_100, 2)
    zenc.encode(df2, out, append=True)
    zenc.compact_parts(out, target_bytes=1 << 30)
    m = zenc.read_manifest(out)
    assert m["appends"] == 1 and m["compactions"] == 1
    df3 = tokens_range(spark, 2_000_000, 2_000_100, 1)
    zenc.encode(df3, out, append=True)
    back = zdec.decode(spark, out)
    assert _ids(back) == _ids(df.union(df2).union(df3))


def test_resume_refuses_compacted_dataset(spark, many_small):
    out, df, _ = many_small
    zenc.compact_parts(out, target_bytes=1 << 30)
    with pytest.raises(ValueError, match="resume cannot target"):
        zenc.encode(df, out, mode="hash", partitions=6, resume=True)


def test_crash_mid_compact_leaves_dataset_readable(spark, many_small):
    out, df, res = many_small
    # simulate a crash after staging: a token-named orphan, no commit
    orphan = os.path.join(out, "part-deadbeef-00099.zseq")
    with open(orphan, "wb") as f:
        f.write(b"not a committed part")
    assert _ids(zdec.decode(spark, out)) == _ids(df)
    removed = zenc.vacuum(out, min_age_sec=0.0)
    assert [os.path.basename(p) for p in removed] == \
        ["part-deadbeef-00099.zseq"]


def test_cli_inplace_compact(spark, many_small):
    out, df, _ = many_small
    r = subprocess.run(
        [sys.executable, "-m", "zseq", "compact", out,
         "--target-mb", "1024"],
        capture_output=True, text=True, cwd=REPO)
    assert r.returncode == 0, r.stderr
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["merged_groups"] == 1 and got["parts_after"] == 1
    assert _ids(zdec.decode(spark, out)) == _ids(df)
