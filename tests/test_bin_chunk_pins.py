"""No top-level string chunk grows: every top-level ``encode_binary``
segment written for the size-parity tables and the two clustered parts of
``test_int_chunk_pins`` is at most its pinned length in
``fixtures/bin_chunk_lengths.json``. A change to how the string selector
estimates a codec may move a column to another codec, and this holds
each such move to the same segment length or a smaller one.

A change that shrinks chunks may lower the pin. Rewrite it with
``python tests/test_bin_chunk_pins.py`` from the repo root; that refuses
a pin that would rise or lose an entry."""

import os
import sys

if __name__ == "__main__":  # the script's own directory is on the path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))))

from test_int_chunk_pins import (PARTS, check_pins, chunk_lengths,
                                 rewrite_pins)

from zseq.codecs import bytescodecs as BC

PIN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                   "bin_chunk_lengths.json")


def test_no_top_level_string_chunk_grows():
    got = chunk_lengths(BC, "encode_binary")
    assert {k.split("/")[0] for k in got if got[k]} >= set(PARTS)
    assert sum(map(len, got.values())) >= 30
    check_pins(PIN, got)


if __name__ == "__main__":
    rewrite_pins(PIN, chunk_lengths(BC, "encode_binary"))
