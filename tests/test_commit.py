"""The one commit protocol (``encode.begin`` / ``Commit.finish``), driven
without Spark: two processes racing for the same revision, and a writer
killed after every step of ``finish``."""

import json
import multiprocessing
import os
import threading
import time

import pyarrow as pa
import pytest

from zseq import decode as zdec
from zseq import encode as zenc
from zseq import streaming

SCHEMA = pa.schema([("doc_id", pa.int64()), ("v", pa.string())])


def _stage(out, token, ids, pid):
    """One job-token-named part file, as an encode task writes it."""
    ids = list(ids)
    tbl = pa.table({"doc_id": ids, "v": [f"v{i}" for i in ids]},
                   schema=SCHEMA)
    return zenc._encode_table_to_file(
        tbl, out, pid, SCHEMA, False, 1 << 16, time.time(),
        fname=f"part-{token}-{pid:05d}.zseq")


def overwrite(out, ids):
    """``encode``'s fresh/overwrite commit, without the Spark job."""
    os.makedirs(out, exist_ok=True)
    c = zenc.begin(out, arrow_schema=SCHEMA)
    return c.publish([_stage(out, c.token, ids, 0)], mode="preserve",
                     arrow_schema=SCHEMA)


def append(out, ids):
    """``encode(append=True)``'s commit, without the Spark job."""
    c = zenc.begin(out, append=True, arrow_schema=SCHEMA)
    return c.publish([_stage(out, c.token, ids, c.part_base)],
                     mode="preserve", arrow_schema=SCHEMA)


BASE_KEYS = ["format", "mode", "partitions", "partition_col", "zstd_level",
             "reversed_cols", "schema", "schema_names", "parts", "totals"]


def test_publish_fresh_and_append_manifest_shapes(tmp_path):
    """``Commit.publish`` forms the manifests ``encode``,
    ``encode_parquet`` and the DataSource writer commit, key for key:
    fresh — the writer's mode/partitions/partition_col and extra keys,
    then the revision; append — the committed parts then the new ones,
    mode ``append``, ``input_files`` carried over and extended, then
    ``revision`` and ``appends``."""
    out = str(tmp_path / "ds")
    os.makedirs(out)
    c = zenc.begin(out, arrow_schema=SCHEMA)
    fresh = c.publish([_stage(out, c.token, range(0, 5), 0)],
                      mode="files", arrow_schema=SCHEMA, partitions=3,
                      extra={"input_files": ["a.parquet"]})
    assert list(fresh) == BASE_KEYS + ["input_files", "revision"]
    assert (fresh["mode"], fresh["partitions"], fresh["partition_col"],
            fresh["revision"]) == ("files", 3, None, 1)

    c = zenc.begin(out, append=True, arrow_schema=SCHEMA)
    new = _stage(out, c.token, range(5, 8), c.part_base)
    app = c.publish([new], mode="files", arrow_schema=SCHEMA,
                    partitions=1, partition_col="doc_id",
                    extra={"input_files": ["b.parquet"]})
    assert list(app) == BASE_KEYS + ["input_files", "revision", "appends"]
    assert app["parts"] == fresh["parts"] + [new]
    assert (app["mode"], app["partitions"], app["partition_col"],
            app["revision"], app["appends"]) == ("append", 2, None, 2, 1)
    assert app["input_files"] == ["a.parquet", "b.parquet"]
    assert app["totals"]["rows"] == 8

    # an append with no input files of its own keeps the committed list
    app2 = append(out, range(8, 9))
    assert app2["input_files"] == ["a.parquet", "b.parquet"]
    assert app2["appends"] == 2

    # without input_files anywhere, neither manifest grows the key
    out2 = str(tmp_path / "ds2")
    assert list(overwrite(out2, range(3))) == BASE_KEYS + ["revision"]
    assert list(append(out2, range(3, 6))) == \
        BASE_KEYS + ["revision", "appends"]


def _rows(out):
    """doc_ids of the live revision, through the decode worker kernel
    (crc-checked)."""
    m = zenc.read_manifest(out)
    files = [(path, crc) for path, crc, *_ in zdec.part_entries(out, m)]
    return sorted(i for b in zdec.read_group(files, m["schema_names"],
                                             None, None, None)
                  for i in b.column("doc_id").to_pylist())


# -- two-process contention -------------------------------------------

JOBS = {
    "append": append,
    "overwrite": overwrite,
    "rollback": lambda out, ids: zenc.rollback(out, 1),
    "compact": lambda out, ids: zenc.compact_parts(out,
                                                   target_bytes=1 << 30),
}


def _contender(tasks, results, barrier):
    """Runs jobs until it reads None. Every job has begun (read the
    revision it builds on) when it reaches ``finish``, where it waits
    for the other process before publishing."""
    real_finish = zenc.Commit.finish
    published = []

    def finish(self, manifest):
        barrier.wait(timeout=60)
        published.append(real_finish(self, manifest))
        return published[-1]

    zenc.Commit.finish = finish
    for kind, out, ids in iter(tasks.get, None):
        published.clear()
        try:
            JOBS[kind](out, ids)
            results.put(("won", published[-1]))
        except threading.BrokenBarrierError as e:
            results.put(("error", repr(e)))
        except RuntimeError as e:
            results.put(("lost", str(e)))
        except Exception as e:  # noqa: BLE001 - reported to the test
            barrier.abort()
            results.put(("error", repr(e)))


@pytest.fixture(scope="module")
def contenders():
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    chans = [(ctx.Queue(), ctx.Queue()) for _ in range(2)]
    procs = [ctx.Process(target=_contender, args=(t, r, barrier),
                         daemon=True) for t, r in chans]
    for p in procs:
        p.start()
    yield chans, barrier
    for t, _ in chans:
        t.put(None)
    for p in procs:
        p.join(30)
        if p.is_alive():
            p.kill()


ROUNDS = 20


@pytest.mark.parametrize("pair", [("append", "overwrite"),
                                  ("append", "append"),
                                  ("overwrite", "overwrite"),
                                  ("rollback", "compact")])
def test_exactly_one_writer_wins_every_round(tmp_path, contenders, pair):
    chans, barrier = contenders
    out = str(tmp_path / "ds")
    overwrite(out, range(0, 10))                     # revision 1
    append(out, range(10, 20))                       # revision 2
    for r in range(ROUNDS):
        if "compact" in pair:
            # give compaction >= 2 small parts to merge every round
            append(out, range(1000 * (r + 1), 1000 * (r + 1) + 5))
        rev = zenc.read_manifest(out)["revision"]
        for side, (kind, (tasks, _)) in enumerate(zip(pair, chans)):
            base = 100_000 * (side + 1) + 100 * r
            tasks.put((kind, out, range(base, base + 7)))
        got = [res.get(timeout=120) for _, res in chans]
        if barrier.broken:
            barrier.reset()
        assert sorted(k for k, _ in got) == ["lost", "won"], (r, got)
        won = next(v for k, v in got if k == "won")
        lost = next(v for k, v in got if k == "lost")
        assert "manifest changed" in lost and "concurrent" in lost
        assert won["revision"] == rev + 1, (r, rev, won["revision"])
        assert zenc.read_manifest(out) == won
        with open(os.path.join(out, "manifest.json")) as f:
            assert json.load(f) == won
        assert len(_rows(out)) == won["totals"]["rows"]


# -- a writer killed after every step of finish -----------------------

class Killed(Exception):
    """A crash; deliberately not an OSError, which GC swallows."""


def _kill_after(monkeypatch, step):
    real_link = os.link
    real_write = zenc._atomic_write_json
    real_gc = zenc.gc_unreferenced

    def die(*a, **k):
        raise Killed(step)

    def link_then_die(*a, **k):
        real_link(*a, **k)
        raise Killed(step)

    def write_then_die(*a, **k):
        real_write(*a, **k)
        raise Killed(step)

    def gc_dies_midway(*a, **k):
        real_remove = os.remove
        done = []

        def remove(path):
            if done:
                raise Killed(step)
            done.append(path)
            real_remove(path)

        monkeypatch.setattr(os, "remove", remove)
        real_gc(*a, **k)

    {
        "tmp written": lambda: monkeypatch.setattr(os, "link", die),
        "linked": lambda: monkeypatch.setattr(os, "link", link_then_die),
        "manifest.json swapped": lambda: monkeypatch.setattr(
            zenc, "_atomic_write_json", write_then_die),
        "history reset": lambda: monkeypatch.setattr(
            zenc, "gc_unreferenced", die),
        "mid-GC": lambda: monkeypatch.setattr(
            zenc, "gc_unreferenced", gc_dies_midway),
    }[step]()


@pytest.mark.parametrize("mode", ["append", "overwrite"])
@pytest.mark.parametrize("step", ["tmp written", "linked",
                                  "manifest.json swapped", "history reset",
                                  "mid-GC"])
def test_kill_at_every_step_leaves_last_revision_readable(
        tmp_path, monkeypatch, mode, step):
    out = str(tmp_path / "ds")
    overwrite(out, range(0, 10))                     # revision 1
    append(out, range(10, 20))                       # revision 2
    before = _rows(out)
    new = list(range(100, 110))
    c = zenc.begin(out, append=mode == "append", arrow_schema=SCHEMA)
    parts = [_stage(out, c.token, new, c.part_base)]
    # two dead attempts of this job's tasks: GC has files to remove
    for pid in (98, 99):
        open(os.path.join(out, f"part-{c.token}-{pid:05d}.zseq"),
             "wb").close()
    _kill_after(monkeypatch, step)
    with pytest.raises(Killed):
        c.publish(parts, mode="preserve", arrow_schema=SCHEMA)
    monkeypatch.undo()

    # the link is the commit point: before it revision 2 is live, after
    # it revision 3, whichever step the writer died in
    committed = before if step == "tmp written" else (
        before + new if mode == "append" else new)
    rev = 2 if step == "tmp written" else 3
    assert zenc.read_manifest(out)["revision"] == rev
    assert _rows(out) == sorted(committed)
    # no writer is wedged: the next append commits the next revision
    assert append(out, range(500, 505))["revision"] == rev + 1
    assert _rows(out) == sorted(committed + list(range(500, 505)))


def test_stream_epoch_killed_between_link_and_swap_commits_once(
        tmp_path, monkeypatch):
    from pyspark.sql.pandas.types import from_arrow_schema

    from zseq.datasource import ZseqCommit, ZseqStreamWriter

    out = str(tmp_path / "stream")
    w = ZseqStreamWriter({"path": out}, from_arrow_schema(SCHEMA))
    ids = list(range(40))

    def attempt(aid):
        """One task attempt's staged part of micro-batch 0."""
        return ZseqCommit(_stage(w._staging, w._token, ids, aid), w._token)

    _kill_after(monkeypatch, "linked")
    with pytest.raises(Killed):
        w.commit([attempt(1)], 0)
    monkeypatch.undo()
    # manifest.json never landed, so Spark replays the batch; the replay
    # commits past the dead attempt's snapshot, and a second replay is
    # a no-op
    w.commit([attempt(2)], 0)
    w.commit([attempt(3)], 0)
    epochs = streaming.committed_epochs(out)
    assert [os.path.basename(d) for d in epochs] == ["epoch-00000000"]
    m = zenc.read_manifest(epochs[0])
    assert len(m["parts"]) == 1 and m["totals"]["rows"] == len(ids)
    assert _rows(epochs[0]) == ids
    assert os.listdir(w._staging) == []


def test_stale_writer_loses_after_history_reset(tmp_path):
    """Two overwrites commit while a writer that read revision 1 still
    runs; the second overwrite's history reset frees revision 2, so the
    stale writer's link succeeds — and it must still lose, leaving the
    live revision where it was."""
    out = str(tmp_path / "ds")
    overwrite(out, range(0, 10))                     # revision 1
    stale = zenc.begin(out, append=True, arrow_schema=SCHEMA)
    parts = [_stage(out, stale.token, range(10, 20), stale.part_base)]
    overwrite(out, range(20, 30))                    # revision 2
    overwrite(out, range(30, 40))                    # revision 3
    assert [r["revision"] for r in zenc.revisions(out)] == [3]
    with pytest.raises(RuntimeError, match="concurrent"):
        stale.publish(parts, mode="preserve", arrow_schema=SCHEMA)
    assert zenc.read_manifest(out)["revision"] == 3
    assert [r["revision"] for r in zenc.revisions(out)] == [3]
    assert _rows(out) == list(range(30, 40))
