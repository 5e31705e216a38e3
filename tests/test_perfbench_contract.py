"""The engine names ``perfbench`` patches and calls: renaming one fails
here instead of breaking a ``perfbench/run.py --trace 1`` run."""

from types import SimpleNamespace

from perfbench import corpus as C
from perfbench.trace import PATCHES, Tracer
from perfbench.workloads import Run


def test_every_traced_name_exists():
    missing = [f"{getattr(owner, '__name__', owner)}.{attr}"
               for owner, attr, _span in PATCHES
               if not hasattr(owner, attr)]
    assert missing == []


def test_replay_encode_runs_traced(tmp_path):
    """The traced replay of the encode task body, on one small part:
    the exact call ``Run._replay_encode`` makes, with every span it
    reports to the per-layer metrics."""
    path = str(tmp_path / "part.parquet")
    C.write_file("zipf", 7, 0, 3_000, path)
    tracer = Tracer()
    with tracer.installed():
        walls = Run._replay_encode(SimpleNamespace(work=str(tmp_path)),
                                   [path], tracer)
    assert len(walls) == 1
    for span in ("encode.task", "encode.parquet_read", "encode.cluster",
                 "encode.fsync", "zseqfile.write", "column.encode",
                 "intcodecs.encode"):
        assert tracer.calls[span] > 0, span
