"""The .zseq blob file format — zseq's equivalent of zbra's binary layer.

Patterned on the reference's file layout (/root/reference/zbra-core/src/
binary.rs:26-54: magic + JSON'd schema header + block sequence) but not a
copy: the schema travels as Arrow IPC (exact type fidelity, zero-parse into
pyarrow), blocks are column-chunked with per-column codec tags, and a
trailing sentinel + row-count make truncation detectable (the reference's
reader silently zero-fills truncated data; we refuse).

File layout:

    magic: 16 bytes            b"||_ZSEQ||00003||"; readers accept
                               every revision in zseq.MAGIC_COMPAT:
                               00001  the first layout
                               00002  + zone-map sections (chunk
                                      flags-bit1)
                               00003  + the width-symbol int codec tag
    meta_len: u32 LE           JSON metadata (writer info, free-form)
    meta: bytes
    schema_len: u32 LE         Arrow IPC schema
    schema: bytes
    block*:
        marker: u8 = 1
        row_count: u32 LE
        per schema field: chunk_len u32 LE + column chunk (zseq.column)
    end: u8 = 0
    total_rows: u64 LE         integrity check

    The per-column length prefix is what makes the format *columnar on
    read*: projection pushdown (decode only requested columns, seek past
    the rest) and predicate pushdown (zone maps: int min/max derived
    from codec headers, string/binary byte-bounds envelopes stored in
    BINARY chunk headers -> skip whole blocks without decoding) both
    cost zero decompression work for skipped data.

One .zseq file is written per Spark partition from inside ``mapInArrow``;
a block is one (possibly coalesced) Arrow RecordBatch — blocks map to the
reference's Block (binary.rs:182-200), partitions to whole files.
"""

from __future__ import annotations

import io
import json
import struct
import zlib

import numpy as np
import pyarrow as pa

from . import MAGIC, MAGIC_COMPAT
from . import column as COL
from .codecs import intcodecs as IC


def check_crc(content, want: int | None, path: str = "") -> None:
    """Enforce the manifest's per-part crc32 (the ONE corruption gate
    shared by every read path)."""
    import zlib

    if want is not None and zlib.crc32(content) != want:
        raise ValueError(
            f"{path}: crc32 mismatch vs manifest — file is corrupt or "
            "was modified after commit")


class ZseqWriter:
    def __init__(self, sink, schema: pa.Schema, meta: dict | None = None):
        self._sink = sink
        self.schema = schema
        self.total_rows = 0
        self.bytes_written = 0
        #: running crc32 over every byte emitted — the manifest integrity
        #: value, maintained here so writers never re-read their output
        self.crc32 = 0
        #: {path: codec} of the last block (the manifest's ``codecs``)
        self.codec_stats: dict[str, str] = {}
        #: {path: {codec: [blocks, segment bytes]}} over every block, so
        #: a part whose blocks chose different codecs reports them all
        self.codec_hist: dict[str, dict[str, list[int]]] = {}
        # Per-column encoded bytes (top-level fields, incl. their chunk
        # length prefixes) — the lineage a 100 TB operator needs to see
        # WHICH column is eating the budget.
        self.col_bytes: dict[str, int] = {}
        # Part-LEVEL zone maps: the running envelope of every block's
        # zone map, per column. None = some block gave no stats for the
        # column, so no part-level bound exists (conservative). These
        # land in the manifest so the DRIVER can skip whole files before
        # any task launches — at cluster scale that beats block pruning,
        # which only happens after a task has already opened the blob.
        self.part_zones: dict[str, tuple | None] = {}
        # Per-column null counts for the whole part (pyarrow metadata,
        # zero decode cost) — committed next to the zone envelope so the
        # driver can prune files for IS [NOT] NULL predicates, and prune
        # value predicates on all-null columns (which the envelope can't
        # express: all-null chunks contribute no bounds at all).
        self.part_nulls: dict[str, int] = {}
        mb = json.dumps(meta or {}).encode()
        sb = schema.serialize().to_pybytes()
        self._write(MAGIC)
        self._write(struct.pack("<I", IC.u32_len(len(mb), "meta length")) + mb)
        self._write(
            struct.pack("<I", IC.u32_len(len(sb), "schema length")) + sb)

    def _write(self, b: bytes) -> None:
        self._sink.write(b)
        self.bytes_written += len(b)
        self.crc32 = zlib.crc32(b, self.crc32)

    def write_batch(self, batch: pa.RecordBatch) -> None:
        if batch.schema.names != self.schema.names:
            raise ValueError(
                f"batch schema {batch.schema.names} != file schema "
                f"{self.schema.names}"
            )
        out = io.BytesIO()
        out.write(struct.pack(
            "<BI", 1, IC.u32_len(batch.num_rows, "block row count")))
        block: dict[str, tuple[str, int]] = {}
        for i, name in enumerate(self.schema.names):
            try:
                if COL.is_reversed(self.schema.field(i)):
                    chunk = COL.encode_column_reversed(
                        batch.column(i), block, name, zone=True)
                else:
                    chunk = COL.encode_column(batch.column(i), block, name,
                                              zone=True)
                out.write(struct.pack(
                    "<I", IC.u32_len(len(chunk), "chunk length")))
            except ValueError as e:
                raise ValueError(f"column {name!r}: {e}") from e
            out.write(chunk)
            self.col_bytes[name] = (
                self.col_bytes.get(name, 0) + 4 + len(chunk))
            self.part_nulls[name] = (self.part_nulls.get(name, 0)
                                     + batch.column(i).null_count)
            # accumulate the part-level zone envelope (header parse only)
            if self.part_zones.get(name, ()) is not None:
                col = batch.column(i)
                if col.null_count == len(col):
                    # an ALL-NULL chunk has no zone section, but null
                    # rows can never satisfy a pushed comparison — it
                    # constrains nothing, so it must not poison the
                    # envelope the other chunks built
                    continue
                _kind, zm = COL.chunk_stats(chunk, 0, batch.num_rows)
                prev = self.part_zones.get(name, ())
                if zm is None:
                    self.part_zones[name] = None
                elif prev == ():  # first contributing chunk
                    self.part_zones[name] = zm
                else:
                    self.part_zones[name] = (min(prev[0], zm[0]),
                                             max(prev[1], zm[1]))
        for path, (codec, nbytes) in block.items():
            self.codec_stats[path] = codec
            h = self.codec_hist.setdefault(path, {}).setdefault(codec, [0, 0])
            h[0] += 1
            h[1] += nbytes
        self._write(out.getvalue())
        self.total_rows += batch.num_rows

    def finish(self) -> None:
        self._write(struct.pack("<BQ", 0, self.total_rows))


def encode_table(table: pa.Table) -> bytes:
    """Convenience: encode a pa.Table to bytes, one block per record
    batch of the table."""
    sink = io.BytesIO()
    w = ZseqWriter(sink, table.schema)
    for b in table.to_batches():
        w.write_batch(b)
    w.finish()
    return sink.getvalue()


class ZseqReader:
    def __init__(self, buf: bytes | memoryview):
        self._mv = memoryview(buf)
        magic = bytes(self._mv[:16])
        if magic not in MAGIC_COMPAT:
            if magic[:9] == MAGIC[:9]:
                rev = magic[9:14].decode(errors="replace")
                known = ", ".join(m[9:14].decode() for m in MAGIC_COMPAT)
                raise ValueError(
                    f"zseq: format revision {rev} is newer than this "
                    f"reader, which reads revisions {known} (magic "
                    "mismatch)")
            raise ValueError("not a .zseq file (bad magic)")
        pos = 16
        (mlen,) = struct.unpack_from("<I", self._mv, pos)
        pos += 4
        self.meta = json.loads(bytes(self._mv[pos : pos + mlen]) or b"{}")
        pos += mlen
        (slen,) = struct.unpack_from("<I", self._mv, pos)
        pos += 4
        self.schema = pa.ipc.read_schema(
            pa.py_buffer(bytes(self._mv[pos : pos + slen]))
        )
        pos += slen
        self._body = pos

    def batches(self, columns: list[str] | None = None,
                predicate: list[tuple[str, str, int]] | None = None):
        """Decode blocks, with pushdown:

        ``columns``: decode only these fields (others are seeked past via
        their chunk-length prefix — zero decompression work).
        ``predicate``: conjunction of (col, op, value) with op in
        {'>', '>=', '<', '<=', '=', '!=', 'in'} (plus 'isnull'/'notnull',
        which only prune at the manifest/file level via per-part null
        counts — blocks carry no null stats) over int-kind columns
        (values in the storage domain, e.g. micros for timestamp[us]) or
        binary/string columns (str/bytes values, compared bytewise).
        Blocks whose zone maps prove the conjunction empty are skipped
        whole. This is
        block-level pruning, not row filtering: surviving blocks may still
        contain non-matching rows (Spark's own filter handles those).
        """
        names = list(self.schema.names)
        if columns is not None:
            missing = set(columns) - set(names)
            if missing:
                raise KeyError(f"zseq: unknown columns {sorted(missing)}")
        sel = set(columns) if columns is not None else set(names)
        out_schema = pa.schema(
            [self.schema.field(n) for n in names if n in sel])
        self.blocks_read = 0
        self.blocks_skipped = 0
        mv = self._mv
        pos = self._body
        rows_seen = 0

        def need(nbytes: int) -> None:
            # Every marker/header/chunk read is bounds-checked so a file
            # cut at ANY byte fails with the contract's clean ValueError,
            # not an IndexError/struct.error from running off the buffer.
            if pos + nbytes > len(mv):
                raise ValueError("zseq: truncated file")

        while True:
            need(1)
            marker = mv[pos]
            pos += 1
            if marker == 0:
                need(8)
                (total,) = struct.unpack_from("<Q", mv, pos)
                pos += 8
                if total != rows_seen:
                    raise ValueError(
                        f"zseq: row-count mismatch (trailer {total}, "
                        f"decoded {rows_seen})"
                    )
                if pos != len(mv):
                    raise ValueError("zseq: trailing bytes after end marker")
                return
            if marker != 1:
                raise ValueError(f"zseq: bad block marker {marker}")
            need(4)
            (nrows,) = struct.unpack_from("<I", mv, pos)
            pos += 4
            rows_seen += nrows
            # First pass: chunk offsets + zone maps (headers only).
            offsets: dict[str, int] = {}
            zonemaps: dict[str, tuple[int, int] | None] = {}
            for name in names:
                need(4)
                (clen,) = struct.unpack_from("<I", mv, pos)
                pos += 4
                need(clen)
                offsets[name] = pos
                if predicate:
                    _kind, zm = COL.chunk_stats(mv, pos, nrows)
                    zonemaps[name] = zm
                pos += clen
            if predicate and _block_provably_empty(predicate, zonemaps):
                self.blocks_skipped += 1
                continue
            self.blocks_read += 1
            cols = []
            for name in names:
                if name not in sel:
                    continue
                arr, _end = COL.decode_column(
                    mv, offsets[name], self.schema.field(name).type, nrows)
                cols.append(arr)
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    def read_all(self) -> pa.Table:
        return pa.Table.from_batches(list(self.batches()),
                                     schema=self.schema)


_OPS = {
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    "=": lambda lo, hi, v: lo <= v <= hi,
    "!=": lambda lo, hi, v: not (lo == hi == v),
    # IN-list: the block can match iff any member falls in [lo, hi]
    "in": lambda lo, hi, v: any(lo <= x <= hi for x in v),
}


def _coerce_zone_value(x, lo):
    """Coerce a predicate literal into the zone map's domain (int for
    int-kind zone maps, bytes for byte-bounds maps); None = not
    comparable, so the conjunct can't prune (stays conservative)."""
    if isinstance(lo, int):
        if isinstance(x, bool) or not isinstance(x, (int, np.integer)):
            return None
        return int(x)
    if isinstance(x, str):
        return x.encode()
    if isinstance(x, (bytes, bytearray)):
        return bytes(x)
    return None


def zones_to_json(zones: dict, nulls: dict | None = None) -> str:
    """Part-level zone maps (+ optional per-column null counts) ->
    manifest JSON. Int bounds (incl. decimal limb domains past int64 —
    Python ints are arbitrary precision and json carries them exactly)
    stay ints; byte-envelope bounds (string/binary columns) go hex; a
    known null count rides as ``nc`` on the column's entry (kind ``x``
    when the column has a count but no envelope — e.g. all-null, or a
    type without zone support). None (no stats at all) round-trips."""
    out = {}
    nulls = nulls or {}
    for name in set(zones) | set(nulls):
        zm = zones.get(name, ())
        if zm is None or zm == ():
            e = None
        elif isinstance(zm[0], (bytes, bytearray)):
            e = {"k": "b", "lo": bytes(zm[0]).hex(),
                 "hi": bytes(zm[1]).hex()}
        else:
            e = {"k": "i", "lo": int(zm[0]), "hi": int(zm[1])}
        if name in nulls:
            if e is None:
                e = {"k": "x"}
            e["nc"] = int(nulls[name])
        out[name] = e
    return json.dumps(out)


def zones_from_json(s: str | None) -> dict:
    """Inverse of zones_to_json (envelopes half); tolerant of missing/
    empty input (parts committed by pre-zones code revisions have no
    'zones' key). Kind ``x`` = null-count-only entry -> no envelope."""
    if not s:
        return {}
    out = {}
    for name, z in json.loads(s).items():
        if z is None or z.get("k") == "x":
            out[name] = None
        elif z.get("k") == "b":
            out[name] = (bytes.fromhex(z["lo"]), bytes.fromhex(z["hi"]))
        else:
            out[name] = (int(z["lo"]), int(z["hi"]))
    return out


def nulls_from_json(s: str | None) -> dict:
    """The null-count half of a zones JSON: {column: nulls-in-part} for
    every entry that carries one (parts written before null counts
    existed simply yield {} — conservative)."""
    if not s:
        return {}
    return {name: int(z["nc"]) for name, z in json.loads(s).items()
            if isinstance(z, dict) and "nc" in z}


def prune_parts(parts: list[dict], predicate, *,
                mode: str | None = None, partition_col: str | None = None,
                partitions: int | None = None, key_type=None) -> list[dict]:
    """Driver-side FILE pruning, both rules in one place (decode() and
    the DataSource reader share it):

    1. zone envelopes — drop parts whose manifest [lo, hi] provably
       excludes the conjunction (``parts_provably_empty``);
    2. hash buckets — on a ``mode='hash'`` dataset, an equality/IN
       conjunct on the partition column pins the only bucket(s) whose
       files can hold matches: ``part_id == pmod(spark_hash(v), P)``
       (zseq/sparkhash.py, fuzz-verified against F.hash). A point lookup
       then opens ONE of P files — the pruning zone envelopes can never
       deliver on a hash-scattered key.

    Both rules are conservative supersets: unknown types, missing
    part_ids, or non-pinning predicates leave parts in; Spark still
    applies every filter exactly."""
    if not predicate:
        return parts
    keep = [p for p in parts if not parts_provably_empty(p, predicate)]
    if mode == "hash" and partition_col and partitions \
            and key_type is not None:
        from .sparkhash import buckets_for_predicate

        bs = buckets_for_predicate(predicate, partition_col, key_type,
                                   partitions)
        if bs is not None:
            keep = [p for p in keep
                    if p.get("part_id") is None or p["part_id"] in bs]
    return keep


def parts_provably_empty(part: dict, predicate) -> bool:
    """Driver-side FILE pruning: True when a manifest part's zone
    envelope (or null counts) proves the predicate conjunction empty —
    the whole file is skipped before any task launches. Rules, all
    conservative (missing stats never prune):

      - envelope [lo, hi] excludes a value conjunct;
      - ``isnull`` conjunct on a column with 0 nulls in the part;
      - ``notnull`` conjunct on a column that is ALL null in the part;
      - any value conjunct on an all-null column (SQL comparisons over
        null never match — the envelope can't express this case because
        all-null chunks contribute no bounds).

    Parts without a 'zones' entry (older code revisions) are never
    pruned; per-block pruning inside surviving files still applies."""
    zs = part.get("zones")
    if not zs:
        return False
    ncs = nulls_from_json(zs)
    if ncs:
        rows = part.get("rows")
        for col, op, _value in predicate:
            nc = ncs.get(col)
            if nc is None:
                continue
            if op == "isnull":
                if nc == 0:
                    return True
            elif nc == rows:  # all-null: no value can match, nor notnull
                return True
    return _block_provably_empty(predicate, zones_from_json(zs))


def _block_provably_empty(predicate, zonemaps) -> bool:
    """True when any conjunct can't match the block's zone map. Zone maps
    are inclusive [lo, hi] envelopes — ints for int-kind columns, byte
    strings for binary/string columns (possibly truncated, still
    enveloping) — and the op table below works identically on both."""
    for col, op, value in predicate:
        if op in ("isnull", "notnull"):
            continue  # null ops prune via part-level counts only
        zm = zonemaps.get(col)
        if zm is None:
            continue  # no stats -> can't prune on this conjunct
        if op not in _OPS:
            raise ValueError(f"zseq: unsupported predicate op {op!r}")
        lo, hi = zm
        if op == "in":
            vs = [_coerce_zone_value(x, lo) for x in value]
            if not vs or any(x is None for x in vs):
                continue
            v = tuple(vs)
        else:
            v = _coerce_zone_value(value, lo)
            if v is None:
                continue
        if not _OPS[op](lo, hi, v):
            return True
    return False


def decode_table(buf: bytes | memoryview) -> pa.Table:
    return ZseqReader(buf).read_all()
