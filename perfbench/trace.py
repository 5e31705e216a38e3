"""Spans around the engine's public functions, recorded from outside.

The engine looks its collaborators up through module attributes at call
time (``COL.encode_column``, ``IC.encode_ints``, ``P.pack_width``,
``select.select_int_codec``, ...), so replacing those attributes with
timing wrappers sees every call, nested ones included, without editing
the engine. Spans stay in memory; ``Tracer.dump`` writes them out when
the run ends. A span's self time is its duration minus the time its
direct child spans cover.

Codec kernels run inside Spark's Python workers, where the Spark driver's
wrappers do not reach, so the traced run replays task bodies in this
process (see ``perfbench.workloads``). Driver-side calls (``decode()``,
the commit protocol, file pruning) are traced where Spark runs them.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from zseq import column, decode, encode, select, zseqfile
from zseq.codecs import bytescodecs, intcodecs, primitives

# (owner, attribute, span name). Order does not matter; every span name
# is a module name first, so per-layer metrics group by the module.
PATCHES = [
    (encode, "_cluster_order", "encode.cluster"),
    (encode, "_take_table", "encode.cluster"),
    (encode, "read_manifest", "encode.read_manifest"),
    (encode, "append_commit", "encode.append_commit"),
    (encode, "gc_unreferenced", "encode.gc"),
    (os, "fsync", "encode.fsync"),
    (zseqfile.ZseqWriter, "write_batch", "zseqfile.write"),
    (zseqfile.ZseqWriter, "finish", "zseqfile.write"),
    (zseqfile, "check_crc", "zseqfile.crc"),
    (zseqfile, "prune_parts", "zseqfile.prune_parts"),
    (column, "encode_column", "column.encode"),
    (column, "encode_column_reversed", "column.encode"),
    (column, "decode_column", "column.decode"),
    (select, "select_int_codec", "select.int_select"),
    (intcodecs, "encode_ints", "intcodecs.encode"),
    (intcodecs, "decode_ints", "intcodecs.decode"),
    (primitives, "pack_width", "primitives.pack"),
    (primitives, "unpack_width", "primitives.unpack"),
    (bytescodecs, "encode_binary", "bytescodecs.encode"),
    (bytescodecs, "decode_binary", "bytescodecs.decode"),
    (bytescodecs, "zstd_compress", "bytescodecs.zstd_compress"),
    (bytescodecs, "zstd_decompress", "bytescodecs.zstd_decompress"),
    (decode, "decode", "decode.plan"),
]

# Segments returned straight to a column chunk carry the codec tag in
# their first byte; nested segments (a dict's indices, a wrapped inner
# segment) are inside their parent's bytes and are not counted again.
_HISTOGRAMS = {
    "intcodecs.encode": ("intcodecs", intcodecs.INT_CODEC_NAMES),
    "bytescodecs.encode": ("bytescodecs", bytescodecs.BIN_CODEC_NAMES),
}


class Tracer:
    def __init__(self):
        # (request, name, start, end, parent index or -1)
        self.spans: list[tuple] = []
        self.request = ""
        self._stack: list[list] = []  # [span index, child seconds]
        self.self_s: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = defaultdict(float)
        self._saved: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1][0] if self._stack else -1
        self.spans.append((self.request, name, time.perf_counter(), None,
                           parent))
        idx = len(self.spans) - 1
        self._stack.append([idx, 0.0])
        return idx

    def _close(self, idx: int) -> None:
        end = time.perf_counter()
        _i, child = self._stack.pop()
        req, name, start, _e, parent = self.spans[idx]
        self.spans[idx] = (req, name, start, end, parent)
        dur = end - start
        self.self_s[name] += dur - child
        if not any(self.spans[i][1] == name for i, _c in self._stack):
            self.total_s[name] += dur  # outermost of a recursion only
        self.calls[name] += 1
        if self._stack:
            self._stack[-1][1] += dur

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def parent_name(self) -> str | None:
        return self.spans[self._stack[-1][0]][1] if self._stack else None

    # -- patching ------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        hist = _HISTOGRAMS.get(name)

        if name == "zseqfile.prune_parts":
            def wrapper(parts, *a, **kw):
                with tracer.span(name):
                    out = fn(parts, *a, **kw)
                tracer.counts["decode.parts_total"] += len(parts)
                tracer.counts["decode.parts_read"] += len(out)
                return out
        elif hist is not None:
            layer, names = hist

            def wrapper(*a, **kw):
                direct = tracer.parent_name() == "column.encode"
                with tracer.span(name):
                    seg = fn(*a, **kw)
                if direct and seg:
                    codec = names.get(seg[0], f"0x{seg[0]:02x}")
                    tracer.counts[f"{layer}.blocks.{codec}"] += 1
                    tracer.counts[f"{layer}.bytes.{codec}"] += len(seg)
                return seg
        else:
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        for owner, attr, name in PATCHES:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    @contextmanager
    def installed(self):
        self.install()
        try:
            yield self
        finally:
            self.uninstall()

    def iterate(self, name: str, gen):
        """Drive a generator (``ZseqReader.batches``) with one span per
        step, so the decode work it does on each step is attributed."""
        while True:
            idx = self._open(name)
            try:
                item = next(gen)
            except StopIteration:
                self._close(idx)
                return
            except BaseException:
                self._close(idx)
                raise
            self._close(idx)
            yield item

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for req, name, start, end, parent in self.spans:
                f.write(json.dumps({"req": req, "name": name,
                                    "start": start, "end": end,
                                    "parent": parent}) + "\n")
