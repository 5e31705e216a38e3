"""No top-level int chunk grows: every top-level ``encode_ints`` segment
written for the size-parity tables (``test_size_parity.parity_tables``:
the synthetic tables and the sf0.001 test tables) and for two clustered
parts (``part_tables``) is at most its pinned length in
``fixtures/int_chunk_lengths.json``, so a codec change gives each chunk
the same segment or a smaller one. The parts hold chunks of more than 64
FORBP minis, where the wrap layouts are ordered from a sample of the
chunk rather than from the whole chunk.

A change that shrinks chunks may lower the pin. Rewrite it with
``python tests/test_int_chunk_pins.py`` from the repo root; that refuses
a pin that would rise or lose an entry."""

import json
import os
import sys
import tempfile
from contextlib import contextmanager

if __name__ == "__main__":  # the script's own directory is on the path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))))

from test_size_parity import parity_tables

from zseq import column as COL
from zseq.codecs import intcodecs as IC

PIN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                   "int_chunk_lengths.json")
SYNTHETIC = ("tokens", "timeseries", "iot", "enum", "nested")
PARTS = ("part:fixture_160k", "part:zipf_25k")


def part_tables() -> dict:
    """A fixture part at 160K rows (its tail block's tokens reach the
    wrap retry) and a seed-7 Zipf part of 25K rows, as the encode task
    writes them: clustered, in blocks of 65,536 rows."""
    from perfbench import corpus as C
    from zseq import synth

    return {"part:fixture_160k": synth.tokens_table_arrow(160_000),
            "part:zipf_25k": C.make_table("zipf", 7, 14_000_000, 25_000)}


@contextmanager
def _patched(owner, attr: str, wrap):
    fn = getattr(owner, attr)
    setattr(owner, attr, wrap(fn))
    try:
        yield
    finally:
        setattr(owner, attr, fn)


def _top_level(sink):
    """A wrapper that appends the length of every top-level result (none
    nested inside another call of the same function) to ``sink()``."""
    depth = [0]

    def wrap(fn):
        def recorded(*args, **kw):
            depth[0] += 1
            try:
                seg = fn(*args, **kw)
            finally:
                depth[0] -= 1
            if not depth[0]:
                sink().append(len(seg))
            return seg
        return recorded
    return wrap


def chunk_lengths(owner=IC, attr: str = "encode_ints") -> dict:
    """{"table/column": the column's top-level ``owner.attr`` segment
    lengths, in the order its encode writes them}. A part's columns are
    keyed by the column path the writer passes to the column layer."""
    from zseq import encode

    out, key = {}, [""]

    def named(fn):
        def column(arr, stats=None, path="", zone=False):
            key[0] = f"{table}/{path}"
            out.setdefault(key[0], [])
            return fn(arr, stats, path, zone)
        return column

    with _patched(owner, attr, _top_level(lambda: out[key[0]])):
        for table, tbl in parity_tables().items():
            for col in tbl.column_names:
                key[0] = f"{table}/{col}"
                out.setdefault(key[0], [])
                COL.encode_column(tbl.column(col).combine_chunks())
        with _patched(COL, "encode_column", named), \
                _patched(COL, "encode_column_reversed", named), \
                tempfile.TemporaryDirectory() as tmp:
            for i, (table, tbl) in enumerate(part_tables().items()):
                encode._encode_table_to_file(tbl, tmp, i, tbl.schema, True,
                                             1 << 16, 0.0)
    return out


def check_pins(path: str, got: dict) -> None:
    with open(path) as f:
        pins = json.load(f)
    assert set(got) <= set(pins), sorted(set(got) - set(pins))
    grew = {}
    for key, lengths in got.items():
        assert len(lengths) == len(pins[key]), key
        grew.update({f"{key}#{i}": (n, pin) for i, (n, pin)
                     in enumerate(zip(lengths, pins[key])) if n > pin})
    assert not grew, grew


def rewrite_pins(path: str, new: dict) -> None:
    """Write ``new`` as the pin file, refusing a pin that would rise or
    lose an entry."""
    old = {}
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
    lost = sorted(set(old) - set(new))
    rose = sorted(k for k in set(old) & set(new)
                  if len(new[k]) != len(old[k])
                  or any(n > p for n, p in zip(new[k], old[k])))
    if lost or rose:
        sys.exit(f"refused: entries lost {lost}, risen or reshaped {rose}")
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(new[k])}"
                                    for k in sorted(new)) + "\n}\n")
    print(f"{sum(map(len, new.values()))} chunk lengths in {len(new)} "
          f"columns -> {path}")


def test_no_top_level_int_chunk_grows():
    got = chunk_lengths()
    tables = {k.split("/")[0] for k in got}
    assert tables >= set(SYNTHETIC) | set(PARTS)
    check_pins(PIN, got)


if __name__ == "__main__":
    rewrite_pins(PIN, chunk_lengths())
