"""No top-level int chunk grows: every top-level ``encode_ints`` segment
written for the size-parity tables (``test_size_parity.parity_tables``:
the synthetic tables and the sf0.001 test tables) is at most its pinned
length in ``fixtures/int_chunk_lengths.json``, so a codec change gives
each chunk the same segment or a smaller one.

A change that shrinks chunks may lower the pin. Rewrite it with
``python tests/test_int_chunk_pins.py`` from the repo root; that refuses
a pin that would rise or lose an entry."""

import json
import os
import sys
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


@contextmanager
def _recorded(lengths: list):
    """Append the length of every top-level ``encode_ints`` segment
    (none nested inside another) to ``lengths``."""
    encode_ints, depth = IC.encode_ints, [0]

    def recorded(values, codec=None, exclude=frozenset()):
        depth[0] += 1
        try:
            seg = encode_ints(values, codec, exclude)
        finally:
            depth[0] -= 1
        if not depth[0]:
            lengths.append(len(seg))
        return seg

    IC.encode_ints = recorded
    try:
        yield
    finally:
        IC.encode_ints = encode_ints


def chunk_lengths() -> dict[str, list[int]]:
    """{"table/column": the column's top-level int segment lengths, in
    the order its encode writes them}."""
    out = {}
    for name, tbl in parity_tables().items():
        for col in tbl.column_names:
            lengths = out.setdefault(f"{name}/{col}", [])
            with _recorded(lengths):
                COL.encode_column(tbl.column(col).combine_chunks())
    return out


def test_no_top_level_int_chunk_grows():
    with open(PIN) as f:
        pins = json.load(f)
    got = chunk_lengths()
    assert {k.split("/")[0] for k in got} >= set(SYNTHETIC)
    assert set(got) <= set(pins), sorted(set(got) - set(pins))
    grew = {}
    for key, lengths in got.items():
        assert len(lengths) == len(pins[key]), key
        grew.update({f"{key}#{i}": (n, pin) for i, (n, pin)
                     in enumerate(zip(lengths, pins[key])) if n > pin})
    assert not grew, grew


if __name__ == "__main__":
    new = chunk_lengths()
    old = {}
    if os.path.exists(PIN):
        with open(PIN) as f:
            old = json.load(f)
    lost = sorted(set(old) - set(new))
    rose = sorted(k for k in set(old) & set(new)
                  if len(new[k]) != len(old[k])
                  or any(n > p for n, p in zip(new[k], old[k])))
    if lost or rose:
        sys.exit(f"refused: entries lost {lost}, risen or reshaped {rose}")
    with open(PIN, "w") as f:
        f.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(new[k])}"
                                    for k in sorted(new)) + "\n}\n")
    print(f"{sum(map(len, new.values()))} chunk lengths in {len(new)} "
          f"columns -> {PIN}")
