"""Distributed encode job: DataFrame -> .zseq blobs + manifest.

The Spark rebuild of the reference's write path (EP1 in SURVEY.md §3:
parse -> validate -> shred -> compress -> write, all single-threaded in
zbra). Here the plan is declarative up to the codec boundary:

  df (mode preserve: no shuffle; hash/salted/range: one repartition)
     -> mapInArrow(encode_partition)     [Arrow batches -> numpy codecs]
     -> executor writes part-{token}-{pid}.zseq  [tmp + rename]
     -> metrics rows -> driver           [collect ~P small rows]
     -> manifest-r{N}.json, manifest.json [commit: put-if-absent link]

Every writer (``encode``, ``encode_parquet``, the DataSource batch and
stream writers, ``compact_parts``) encodes its parts through one kernel,
``_encode_table_to_file``; ``encode_parquet`` and ``decode`` launch
their tasks through ``session.run_tasks``, and ``compact_parts`` runs
on the driver.

Scale notes (design target: 10^12 sequences, 1000 executors):
  - The default mode, preserve, encodes Spark's byte-uniform input
    splits as they are; mode hash spreads rows by a hash of the key (a
    heavy doc is a single row, so hashing is the best possible row-level
    balance) and the per-part token counts in the manifest make residual
    skew observable.
  - No driver-side data movement: the driver sees only P metric rows.
  - Idempotent tasks: output names carry the job token and the part id
    (``part_name``); retried tasks overwrite via atomic rename. Resume
    filters ``spark_partition_id`` to the hash buckets whose parts are
    missing.
  - Row clustering: within a partition, rows are reordered by the bit
    width of their token arrays before encoding (order is free in a
    DataFrame; the correctness contract is keyed by doc_id). Mixed-width
    batches otherwise force every FORBP mini-block to the widest regime —
    measured ~2x size win on mixed-regime data.
  - Bounded task memory: a task holds its input once plus one block. The
    parquet fast path reads its file in ``READ_ROWS`` record batches
    through a 1 MiB buffered stream, so no column chunk is held whole,
    and copies each list-of-numbers column into one buffer sized from
    the file's footer, so no Arrow buffer grows (``_read_parquet``);
    no writer combines the input's chunks; the clustered order is
    computed once per part, and each block gathers its slice of it
    straight from the input chunks (``_take_table``); the int codecs
    pack in cache-sized pieces, and a FORBP segment is built once into
    one buffer. One fixture part (234,375 rows, 153 MB of Arrow) grows
    the task's peak RSS by about 1.65x its Arrow bytes.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc  # imported at module load: workers pay it once,
# outside any per-task timed region
from numpy.lib.stride_tricks import as_strided

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .zseqfile import ZseqWriter

METRICS_SCHEMA = (
    "part_id int, file string, rows long, list_elems long, raw_bytes long, "
    "enc_bytes long, wall_sec double, codecs string, col_bytes string, "
    "crc32 long, zones string, codec_hist string"
)

# Rows per block in every part file, and the most rows of a chunk the
# parquet read regroups its batches into.
BATCH_ROWS = 1 << 16
# Rows per record batch of the parquet task's read. Arrow grows each
# batch's list buffers to their size, and at BATCH_ROWS those
# allocations are too large for its pool to recycle: reading a fixture
# part faulted in fresh pages (112K minor faults in a fresh process at
# 65,536 rows, 7K-15K at 4,096). Of 1,024 to 16,384 rows, 4,096 read a
# fixture part fastest (min of 6 in process: 398 ms; 447 at 1,024, 490
# at 8,192, 687 at 16,384).
READ_ROWS = 1 << 12
_OFFSETS_MAX = (1 << 31) - 1  # the most bytes or values int32 offsets span

_METRICS_PA = pa.schema([
    ("part_id", pa.int32()), ("file", pa.string()), ("rows", pa.int64()),
    ("list_elems", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("wall_sec", pa.float64()),
    ("codecs", pa.string()), ("col_bytes", pa.string()),
    ("crc32", pa.int64()), ("zones", pa.string()),
    ("codec_hist", pa.string()),
])


def part_name(token: str | None, part_id: int | None = None) -> str:
    """``part-{token}-{part_id:05d}.zseq``: the one spelling of a part
    file name. Writers name their parts by job ``token``; a committed
    stream epoch's parts carry no token (``token`` None). Without
    ``part_id``: the prefix of every part file of job ``token``."""
    head = f"part-{token}-" if token is not None else "part-"
    return head if part_id is None else f"{head}{part_id:05d}.zseq"


def gc_unreferenced(out_dir: str, keep: set[str], old_files: set[str],
                    token: str | None) -> None:
    """After the commit (:meth:`Commit.finish`), remove exactly the
    files this job is entitled to delete and no others:

      - the old manifest's parts (``old_files``) — superseded by the
        manifest we just committed;
      - this job's own token-named files — retried/aborted leftovers;
      - ``.zseq.tmp-*`` staging leftovers of either of the above (and of
        kept files: after commit every task is done, so a tmp next to a
        committed part is a dead attempt).

    Everything else is spared — in particular a CONCURRENT writer's
    parts, regardless of when it started: its files are neither in the
    old manifest nor token-matched. Only one of two concurrent writers
    commits (the other raises in ``finish``), and the loser's staged
    parts stay unreferenced orphans for vacuum(); readers only follow
    the manifest. Salvageable parts of a crashed earlier job (no
    manifest) are likewise never deleted by a later non-overwrite
    write."""
    try:
        names = os.listdir(out_dir)
    except OSError:
        return
    for f in names:
        if ".zseq" not in f or f in keep:
            continue
        base = f.split(".zseq")[0] + ".zseq"
        ours = token is not None and base.startswith(part_name(token))
        stale_tmp = f != base and base in keep
        if not (base in old_files or ours or stale_tmp):
            continue
        try:
            os.remove(os.path.join(out_dir, f))
        except OSError:
            pass


def build_manifest(*, mode: str, partitions: int, arrow_schema: pa.Schema,
                   parts: list[dict], partition_col: str | None = None,
                   zstd_level: int | None = None,
                   reversed_cols: list[str] | None = None,
                   extra: dict | None = None) -> dict:
    """The one manifest shape every writer commits (batch encode, parquet
    fast path, DataSource batch + stream) — new fields thread through
    here exactly once."""
    m = {
        "format": "zseq/1",
        "mode": mode,
        "partitions": partitions,
        "partition_col": partition_col,
        "zstd_level": zstd_level or 3,
        "reversed_cols": reversed_cols or [],
        "schema": arrow_schema.serialize().to_pybytes().hex(),
        "schema_names": arrow_schema.names,
        "parts": parts,
        "totals": {
            "rows": sum(p["rows"] for p in parts),
            "list_elems": sum(p["list_elems"] for p in parts),
            "raw_bytes": sum(p["raw_bytes"] for p in parts),
            "enc_bytes": sum(p["enc_bytes"] for p in parts),
        },
    }
    if extra:
        m.update(extra)
    return m


@dataclass
class EncodeResult:
    out_dir: str
    manifest: dict
    parts: list[dict]

    @property
    def total_rows(self) -> int:
        return sum(p["rows"] for p in self.parts)

    @property
    def total_list_elems(self) -> int:
        return sum(p["list_elems"] for p in self.parts)

    @property
    def total_enc_bytes(self) -> int:
        return sum(p["enc_bytes"] for p in self.parts)


def _type_has_map(t: pa.DataType) -> bool:
    if pa.types.is_map(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _type_has_map(t.value_type)
    if pa.types.is_struct(t) or pa.types.is_union(t):
        return any(_type_has_map(t.field(i).type)
                   for i in range(t.num_fields))
    return False


def spark_type_has_map(dt) -> bool:
    """True when a Spark DataType contains a MapType at any nesting depth
    (shared by the encode-side map stripping and the CLI verify's map
    normalization — one recursion, not two drifting copies)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return spark_type_has_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(spark_type_has_map(f.dataType) for f in dt.fields)
    return False


def strip_maps_df(df: DataFrame) -> tuple[DataFrame, bool]:
    """Replace every map-bearing column with its map-free equivalent
    (map -> array<struct<key,value>> via map_entries, recursively through
    structs/arrays, preserving null slots at every level). Returns
    (stripped df, whether anything changed).

    Why: transferring Arrow MAP arrays from the JVM into Python workers
    segfaults intermittently in this Spark/pyarrow pairing (observed:
    worker crashes at the first buffer-walking op on a parquet-scanned
    list<map> column; even an IPC re-copy of the delivered batch carries
    the corruption). Entries arrays are plain lists of structs — the
    shape that transfers reliably — and ``_restore_maps`` rebuilds true
    map arrays worker-side into self-owned buffers, so the .zseq format
    and the decode path are completely unchanged."""
    from pyspark.sql import types as T

    has_map = spark_type_has_map

    def strip(col, dt):
        if isinstance(dt, T.MapType):
            entries = F.map_entries(col)
            if has_map(dt.keyType) or has_map(dt.valueType):
                entries = F.transform(entries, lambda e: F.struct(
                    strip(e["key"], dt.keyType).alias("key"),
                    strip(e["value"], dt.valueType).alias("value")))
            return entries
        if isinstance(dt, T.ArrayType) and has_map(dt.elementType):
            return F.transform(col, lambda x: strip(x, dt.elementType))
        if isinstance(dt, T.StructType) and has_map(dt):
            rebuilt = F.struct(*[
                strip(col[f.name], f.dataType).alias(f.name)
                for f in dt.fields])
            return F.when(col.isNotNull(), rebuilt)
        return col

    changed = False
    cols = []
    for f in df.schema.fields:
        if has_map(f.dataType):
            changed = True
            cols.append(strip(F.col(f.name), f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return (df.select(*cols) if changed else df), changed


def _restore_maps(tbl: pa.Table, schema: pa.Schema) -> pa.Table:
    """Worker-side inverse of ``strip_maps_df``: rebuild map arrays (per
    the target ``schema``) from the transferred entries arrays, into
    fully self-owned buffers. A no-op for a map-free ``schema``."""
    if not any(_type_has_map(f.type) for f in schema):
        return tbl

    def rebuild(arr: pa.Array, want: pa.DataType) -> pa.Array:
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if arr.type == want:
            return arr
        n = len(arr)
        valid = None
        if arr.null_count:
            bits = np.packbits(
                pc.is_valid(arr).to_numpy(zero_copy_only=False),
                bitorder="little")
            valid = pa.py_buffer(bits.tobytes())
        if pa.types.is_map(want):
            lengths = pc.list_value_length(arr).to_numpy(
                zero_copy_only=False)
            lengths = np.nan_to_num(lengths, nan=0).astype(np.int64) \
                if lengths.dtype.kind == "f" else lengths.astype(np.int64)
            offs = np.zeros(n + 1, dtype=np.int32)
            offs[1:] = np.cumsum(lengths)
            flat = arr.flatten()
            entry_type = pa.struct([want.key_field, want.item_field])
            entries = pa.StructArray.from_arrays(
                [rebuild(flat.field(0), want.key_type),
                 rebuild(flat.field(1), want.item_type)],
                fields=[entry_type.field(0), entry_type.field(1)])
            return pa.Array.from_buffers(
                want, n, [valid, pa.py_buffer(offs.tobytes())],
                children=[entries])
        if pa.types.is_list(want) or pa.types.is_large_list(want):
            lengths = pc.list_value_length(arr).to_numpy(
                zero_copy_only=False)
            lengths = np.nan_to_num(lengths, nan=0).astype(np.int64) \
                if lengths.dtype.kind == "f" else lengths.astype(np.int64)
            odt = "<i8" if pa.types.is_large_list(want) else "<i4"
            offs = np.zeros(n + 1, dtype=np.int64)
            offs[1:] = np.cumsum(lengths)
            child = rebuild(arr.flatten(), want.value_type)
            return pa.Array.from_buffers(
                want, n, [valid, pa.py_buffer(offs.astype(odt).tobytes())],
                children=[child])
        if pa.types.is_struct(want):
            children = [
                rebuild(arr.field(i), want.field(i).type)
                for i in range(want.num_fields)]
            return pa.Array.from_buffers(
                want, n, [valid], children=children)
        raise TypeError(
            f"cannot restore {arr.type} to {want}")  # pragma: no cover

    cols = []
    for i, name in enumerate(schema.names):
        want = schema.field(i).type
        col = tbl.column(name)
        if _type_has_map(want):
            col = rebuild(
                col.combine_chunks() if isinstance(col, pa.ChunkedArray)
                else col, want)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def own_batches(batches: list) -> list:
    """Defensive copy for map-typed inputs: Spark-delivered zero-copy
    Arrow batches with map columns intermittently segfault pyarrow later
    in the task (observed as Table.from_batches / buffer reads crashing
    the worker — a JVM-owned-buffer lifetime issue, reproducible under
    the test harness). An IPC roundtrip re-materializes the batch into
    self-owned buffers; only map-bearing schemas pay the memcpy.
    Second-line defense for the DataSource writers, whose input batches
    Spark produces directly (``strip_maps_df`` cannot intercept them)."""
    if not batches or not any(
            _type_has_map(f.type) for f in batches[0].schema):
        return batches
    out: list = []
    for b in batches:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        out.extend(
            pa.ipc.open_stream(sink.getvalue()).read_all().to_batches())
    return out


def _cluster_order(tbl: pa.Table) -> np.ndarray | None:
    """Row order by (bit width of per-row max |value| of the first list
    column, list length); null elements count as no value. Returns None
    when there is nothing to cluster.
    Reads the column chunk by chunk (the parquet task reads it as one):
    the per-row stats need no combined copy, and neither does
    ``_take_table``'s gather."""
    list_col = None
    for name in tbl.column_names:
        t = tbl.schema.field(name).type
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            if pa.types.is_integer(t.value_type):
                list_col = name
                break
    if list_col is None or tbl.num_rows < 2:
        return None
    lengths, rowmax = [], []
    for arr in tbl.column(list_col).chunks:
        ln = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
        ln = np.nan_to_num(ln, nan=0).astype(np.int64) \
            if ln.dtype.kind == "f" else ln.astype(np.int64)
        flat = arr.flatten()
        if flat.null_count:  # a zero never raises a row's max |value|
            flat = pc.fill_null(flat, 0)
        vals = flat.to_numpy(zero_copy_only=False)
        offs = np.zeros(ln.size + 1, dtype=np.int64)
        np.cumsum(ln, out=offs[1:])
        rm = np.zeros(ln.size, dtype=np.int64)
        nz = ln > 0
        if nz.any():
            starts = offs[:-1][nz]
            # max |value| per row WITHOUT materializing |values| in int64:
            # reduceat min and max on the native (usually int32) buffer,
            # abs on the tiny per-row results — same rowmax, ~4x less
            # traffic. Without a negative value (token ids; one min
            # tells) it is the row max. uint64 keeps both reductions:
            # its cast to int64 can wrap.
            row_hi = np.maximum.reduceat(vals, starts).astype(np.int64)
            if vals.dtype != np.uint64 and vals.min() >= 0:
                rm[nz] = row_hi
            else:
                row_lo = np.minimum.reduceat(vals, starts).astype(np.int64)
                rm[nz] = np.maximum(np.abs(row_hi), np.abs(row_lo))
        lengths.append(ln)
        rowmax.append(rm)
    lengths, rowmax = np.concatenate(lengths), np.concatenate(rowmax)
    # bit width via frexp (exact for |v| < 2^53; clustering is heuristic
    # so clipping larger values is fine)
    width = np.frexp(np.clip(rowmax, 0, 1 << 52).astype(np.float64))[1]
    return np.lexsort((lengths, width))


_GATHER_VALUES = 1 << 16  # bound on the gather's temporary, in values


def _take_rows(fvs: list[np.ndarray], which: np.ndarray,
               starts: np.ndarray, lengths: np.ndarray,
               new_offs: np.ndarray) -> np.ndarray:
    """Flat values of the rows ``fvs[which[i]][starts[i]:starts[i] +
    lengths[i]]``, concatenated in order, written straight into one
    output buffer.

    ``_cluster_order`` sorts rows by (width, length), so rows of equal
    length are contiguous: each run of length L is a fancy-index gather
    of whole rows from a read-only (fv.size - L + 1, L) sliding-window
    view of each input chunk's values, at most ``_GATHER_VALUES`` values
    at a time. Any order is correct; clustered orders make it a few
    hundred runs."""
    out = np.empty(int(new_offs[-1]), dtype=fvs[0].dtype)
    firsts = np.flatnonzero(np.diff(lengths, prepend=-1)).tolist()
    for a, e in zip(firsts, firsts[1:] + [lengths.size]):
        L = int(lengths[a])
        if L == 0:
            continue
        dst = out[new_offs[a]:new_offs[e]].reshape(e - a, L)
        step = max(1, _GATHER_VALUES // L)
        for k, fv in enumerate(fvs):
            rows = a + np.flatnonzero(which[a:e] == k)
            if rows.size == 0:
                continue
            win = as_strided(fv, shape=(fv.size - L + 1, L),
                             strides=(fv.strides[0],) * 2, writeable=False)
            for i in range(0, rows.size, step):
                r = rows[i:i + step]
                dst[r - a] = win[starts[r]]
    return out


def _numeric_list(t: pa.DataType) -> bool:
    """A list or large list of ints or floats."""
    return (pa.types.is_list(t) or pa.types.is_large_list(t)) \
        and (pa.types.is_integer(t.value_type)
             or pa.types.is_floating(t.value_type))


def _chunk_plan(lengths: tuple[int, ...], order: np.ndarray) -> tuple:
    """How to gather the rows ``order`` from a column chunked as
    ``lengths``: per chunk, the rows of ``order`` it holds (indices
    within the chunk, in order), and where each row of ``order`` lies
    among those pieces concatenated."""
    bounds = np.cumsum((0,) + lengths)
    which = np.searchsorted(bounds, order, side="right") - 1
    by = np.argsort(which, kind="stable")
    cuts = np.searchsorted(which[by], np.arange(len(lengths) + 1))
    local = [pa.array(order[by[a:e]] - bounds[k])
             for k, (a, e) in enumerate(zip(cuts, cuts[1:]))]
    at = np.empty_like(by)
    at[by] = np.arange(by.size)
    return local, pa.array(at)


def _take_table(tbl: pa.Table, order: np.ndarray) -> pa.Table:
    """``tbl.take(order)``, fast for list columns of numbers: Arrow's
    take gathers lists element by element (measured ~2x the cost of the
    codecs), while ``_take_rows`` copies whole rows from their input
    chunks into the one output buffer, so a multi-chunk list column is
    never combined. The parquet task reads such a column as one chunk,
    so each run of equal-length rows is one gather (367 for a fixture
    part, where four 65,536-row chunks made 1,459 pieces). Null-bearing
    lists and other value types take the Arrow path: Arrow's take of a
    multi-chunk column concatenates all its chunks on every call, so
    each chunk gives up its rows of the block (``_chunk_plan``, shared
    by columns chunked alike) and one take of those pieces puts them in
    order. ``_encode_table_to_file`` calls it once per block, with that
    block's slice of the clustered order."""
    cols, plans = [], {}
    for col in tbl.columns:
        t = col.type
        if _numeric_list(t) and col.null_count == 0 \
                and all(c.values.null_count == 0 for c in col.chunks):
            offs = [c.offsets.to_numpy().astype(np.int64)
                    for c in col.chunks]
            starts = np.concatenate([o[:-1] for o in offs])[order]
            lengths = np.concatenate([np.diff(o) for o in offs])[order]
            which = np.repeat(np.arange(len(offs)),
                              [o.size - 1 for o in offs])[order]
            new_offs = np.zeros(order.size + 1, dtype=np.int64)
            np.cumsum(lengths, out=new_offs[1:])
            new_flat = pa.array(
                _take_rows([c.values.to_numpy() for c in col.chunks],
                           which, starts, lengths, new_offs),
                type=t.value_type)
            if pa.types.is_large_list(t):
                rebuilt = pa.LargeListArray.from_arrays(
                    pa.array(new_offs, type=pa.int64()), new_flat)
            else:
                rebuilt = pa.ListArray.from_arrays(
                    pa.array(new_offs.astype(np.int32), type=pa.int32()),
                    new_flat)
            cols.append(rebuilt.cast(t))
        elif col.num_chunks < 2:
            cols.append(col.take(pa.array(order)))
        else:
            key = tuple(len(c) for c in col.chunks)
            if key not in plans:
                plans[key] = _chunk_plan(key, order)
            local, at = plans[key]
            cols.append(pa.concat_arrays(
                [c.take(i) for c, i in zip(col.chunks, local)]).take(at))
    return pa.Table.from_arrays(cols, schema=tbl.schema)


def _one_batch(tbl: pa.Table) -> pa.RecordBatch:
    """``tbl`` (one block's rows) as one record batch: only a column
    that spans chunks is copied (``combine_chunks`` copies even a single
    chunk)."""
    return pa.RecordBatch.from_arrays(
        [c.chunk(0) if c.num_chunks == 1 else c.combine_chunks()
         for c in tbl.columns], schema=tbl.schema)


def _offsets(a: pa.Array) -> np.ndarray:
    """The ``len(a) + 1`` offsets of a non-empty string, binary, list or
    map array's rows, read in place."""
    t = a.type
    wide = pa.types.is_large_list(t) or pa.types.is_large_binary(t) \
        or pa.types.is_large_string(t)
    return np.frombuffer(a.buffers()[1], np.int64 if wide else np.int32,
                         a.offset + len(a) + 1)[a.offset:]


def _check_block_bytes(tbl: pa.Table, order: np.ndarray | None,
                       batch_rows: int) -> None:
    """Refuse, naming the column, a part one of whose blocks holds more
    ``string`` or ``binary`` bytes than int32 offsets span: gathering
    the block (``_take_table``) or combining its chunks (``_one_batch``)
    would otherwise fail inside pyarrow. Only a column whose part-level
    bytes pass the limit is counted row by row."""
    for name, col in zip(tbl.column_names, tbl.columns):
        if not (pa.types.is_string(col.type) or pa.types.is_binary(col.type)):
            continue
        offs = [_offsets(c) for c in col.chunks if len(c)]
        if sum(int(o[-1]) - int(o[0]) for o in offs) <= _OFFSETS_MAX:
            continue
        lens = np.concatenate([np.diff(o) for o in offs]).astype(np.int64)
        if order is not None:
            lens = lens[order]
        most = int(np.add.reduceat(
            lens, np.arange(0, lens.size, batch_rows)).max())
        if most > _OFFSETS_MAX:
            raise ValueError(
                f"column {name!r}: a block of at most {batch_rows:,} rows "
                f"holds {most:,} bytes, past the {_OFFSETS_MAX:,} that "
                f"{col.type} offsets span; write it as large_{col.type}")


def _data_bytes(chunks: list[pa.Array]) -> int:
    """Arrow bytes of the rows in ``chunks`` (one column's chunks): per
    row its fixed-width value or offset, the string bytes and list
    children it spans, and a validity bit where the column has nulls.
    Chunking does not change it, where ``Table.nbytes`` counts whole
    buffers: a sliced chunk's unreferenced values, a bitmap per chunk
    that carries one, an offset per chunk. Unions count their
    buffers."""
    chunks = [a for a in chunks if len(a)]
    if not chunks:
        return 0
    t = chunks[0].type
    n = sum(len(a) for a in chunks)
    total = (n + 7) // 8 if any(a.null_count for a in chunks) else 0
    if pa.types.is_struct(t):
        return total + sum(_data_bytes([a.field(i) for a in chunks])
                           for i in range(t.num_fields))
    lists = pa.types.is_list(t) or pa.types.is_large_list(t) \
        or pa.types.is_map(t)
    wide = pa.types.is_large_list(t) or pa.types.is_large_binary(t) \
        or pa.types.is_large_string(t)
    if lists or wide or pa.types.is_binary(t) or pa.types.is_string(t):
        spans = [_offsets(a)[[0, -1]].tolist() for a in chunks]
        total += n * (8 if wide else 4)
        if lists:
            return total + _data_bytes([a.values.slice(lo, hi - lo)
                                        for a, (lo, hi) in zip(chunks, spans)])
        return total + sum(hi - lo for lo, hi in spans)
    try:
        return total + (n * t.bit_width + 7) // 8
    except ValueError:  # not fixed-width: a union, or the null type
        return sum(a.nbytes for a in chunks)


def _encode_table_to_file(tbl: pa.Table, out_dir: str, part_id: int,
                          schema: pa.Schema, cluster: bool,
                          batch_rows: int, t0: float,
                          zstd_level: int | None = None,
                          fname: str | None = None) -> dict:
    # ALWAYS set the level: PySpark reuses daemon workers across jobs
    # (spark.python.worker.reuse), so a previous job's non-default level
    # would otherwise leak into this job's "default" encode and break
    # encoded-byte determinism.
    from .codecs import bytescodecs as _BC

    _BC.set_zstd_level(zstd_level if zstd_level is not None else 3)
    raw_bytes = sum(_data_bytes(c.chunks) for c in tbl.columns)
    # The clustered order is computed once; each block gathers its slice
    # of it from the input, so no clustered copy of the whole part exists.
    order = _cluster_order(tbl) if cluster else None
    _check_block_bytes(tbl, order, batch_rows)
    fname = fname or part_name(None, part_id)
    final = os.path.join(out_dir, fname)
    # Attempt-unique tmp: pid alone can COLLIDE across machines on a
    # shared filesystem (speculative execution / zombie retries of the
    # same task), interleaving two writers into one tmp file.
    tmp = final + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    list_elems = 0
    for name in tbl.column_names:
        t = tbl.schema.field(name).type
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            le = pc.sum(pc.list_value_length(tbl.column(name))).as_py()
            list_elems += int(le or 0)
    with open(tmp, "wb") as f:
        w = ZseqWriter(f, schema, {"part_id": part_id})
        # no name holds a block, so each is freed before the next gather
        for lo in range(0, tbl.num_rows, batch_rows):
            w.write_batch(_one_batch(
                tbl.slice(lo, batch_rows) if order is None
                else _take_table(tbl, order[lo:lo + batch_rows])))
        w.finish()
        f.flush()
        os.fsync(f.fileno())
    # The writer maintains a running crc over every byte it EMITS, so the
    # manifest records the intended content — a write corrupted on the
    # way to disk now mismatches at first read instead of being blessed
    # by a crc computed from re-reading the corrupt file (which also
    # cost a full second pass of I/O per part).
    crc = w.crc32
    os.replace(tmp, final)
    from .zseqfile import zones_to_json

    return {
        "part_id": part_id, "file": fname, "rows": tbl.num_rows,
        "list_elems": list_elems, "raw_bytes": raw_bytes,
        "enc_bytes": w.bytes_written, "wall_sec": time.time() - t0,
        "codecs": json.dumps(w.codec_stats),
        "col_bytes": json.dumps(w.col_bytes), "crc32": crc,
        # part-level zone envelope -> manifest: lets decode()/the
        # DataSource prune whole FILES on the driver before any task
        # launches (block pruning inside surviving files is unchanged)
        "zones": zones_to_json(w.part_zones, w.part_nulls),
        "codec_hist": json.dumps(w.codec_hist),
    }


def encode_batches(batches, out_dir: str, part_id: int, schema: pa.Schema,
                   cluster: bool, batch_rows: int, zstd_level: int | None,
                   token: str) -> dict | None:
    """A task's Arrow batches -> one part file named by job ``token``:
    the batches are owned (``own_batches``), map columns rebuilt
    (``_restore_maps``), and the table encoded block by block by
    ``_encode_table_to_file``; nothing combines the whole task's
    batches. None for a task with no rows. Serves ``encode`` and both
    DataSource writers."""
    t0 = time.time()
    got = own_batches(list(batches))
    if not got:
        return None
    tbl = _restore_maps(pa.Table.from_batches(got), schema)
    return _encode_table_to_file(tbl, out_dir, part_id, schema, cluster,
                                 batch_rows, t0, zstd_level,
                                 fname=part_name(token, part_id))


def _encode_partition(out_dir: str, schema: pa.Schema, cluster: bool,
                      zstd_level: int | None, token: str, part_base: int):
    def fn(batches):
        from pyspark import TaskContext

        from .session import quiet_worker_zip_finders

        quiet_worker_zip_finders()
        # part_base offsets appended parts past the committed ids so the
        # in-file header metadata, file name, and manifest all agree
        pid = TaskContext.get().partitionId() + part_base
        row = encode_batches(batches, out_dir, pid, schema, cluster,
                             BATCH_ROWS, zstd_level, token)
        if row is not None:
            yield pa.RecordBatch.from_pylist([row], schema=_METRICS_PA)

    return fn


def _leaves(t: pa.DataType) -> int:
    """Parquet leaf columns of an Arrow field of type ``t``."""
    if pa.types.is_struct(t):
        return sum(_leaves(f.type) for f in t)
    if pa.types.is_map(t):
        return _leaves(t.key_type) + _leaves(t.item_type)
    if pa.types.is_list(t) or pa.types.is_large_list(t) \
            or pa.types.is_fixed_size_list(t):
        return _leaves(t.value_type)
    return 1


class _ListBuffer:
    """The rows of one list-of-numbers column, copied batch by batch into
    one values buffer sized from the parquet footer and one offsets
    array sized from the row count."""

    def __init__(self, t: pa.DataType, values: int, rows: int):
        self.type = t
        self.values = np.empty(values, t.value_type.to_pandas_dtype())
        self.offsets = np.zeros(
            rows + 1, np.int64 if pa.types.is_large_list(t) else np.int32)
        self.rows = 0

    def add(self, arr: pa.Array) -> bool:
        """Append ``arr``'s rows. False, and nothing appended, if it holds
        a null row or element, or more rows or values than the buffers
        have left (a footer that undercounts)."""
        if arr.null_count or arr.values.null_count:
            return False
        offs = _offsets(arr)
        lo, hi = int(offs[0]), int(offs[-1])
        at, r = int(self.offsets[self.rows]), self.rows
        if at + hi - lo > self.values.size \
                or r + len(arr) >= self.offsets.size:
            return False
        self.values[at:at + hi - lo] = arr.values.to_numpy()[lo:hi]
        self.offsets[r + 1:r + 1 + len(arr)] = offs[1:] - (lo - at)
        self.rows += len(arr)
        return True

    def array(self) -> pa.Array:
        """The rows appended so far, over the buffers (no copy)."""
        offs = self.offsets[:self.rows + 1]
        return (pa.LargeListArray if pa.types.is_large_list(self.type)
                else pa.ListArray).from_arrays(
            pa.array(offs), pa.array(self.values[:int(offs[-1])]),
            type=self.type)


class _Regroup:
    """The batches of one column, concatenated into chunks of at most
    ``BATCH_ROWS`` rows, each within what int32 offsets span."""

    def __init__(self):
        self.chunks: list[pa.Array] = []
        self.pending: list[pa.Array] = []
        self.rows = self.span = 0

    def add(self, arr: pa.Array) -> None:
        t = arr.type
        span = 0
        if pa.types.is_string(t) or pa.types.is_binary(t) \
                or pa.types.is_list(t):
            offs = _offsets(arr)
            span = int(offs[-1]) - int(offs[0])
        if self.rows + len(arr) > BATCH_ROWS \
                or self.span + span > _OFFSETS_MAX:
            self.flush()
        self.pending.append(arr)
        self.rows += len(arr)
        self.span += span

    def flush(self) -> None:
        if self.pending:
            self.chunks.append(pa.concat_arrays(self.pending))
        self.pending, self.rows, self.span = [], 0, 0


def _read_parquet(path: str) -> pa.Table:
    """A parquet file as a table, read in ``READ_ROWS`` record batches
    through a 1 MiB buffered stream, which reads each column chunk a
    piece at a time instead of holding it whole. Arrow's pool holds no
    more than a few batches and the chunks below: 28 MB at its peak for
    a fixture part of 153 MB, where ``BATCH_ROWS`` batches peaked at
    245 MB and ``pq.read_table`` at several times the table.

    A list-of-numbers column (one parquet leaf) is one chunk:
    its values are streamed into one buffer whose size is the leaf's
    ``num_values`` over the row groups, an upper bound on its element
    count, so no Arrow buffer grows, and ``_take_table`` gathers each
    run of equal-length rows from it at once. Every other column, and a
    list column whose footer bound passes its offsets or whose data
    holds a null, keeps Arrow's batches, regrouped into chunks of at
    most ``BATCH_ROWS`` rows. The file's schema makes a zero-row file
    an empty table."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(path, buffer_size=1 << 20) as pf:
        schema, meta = pf.schema_arrow, pf.metadata
        flat: dict[int, _ListBuffer] = {}
        leaf = 0
        for i, t in enumerate(schema.types):
            if _numeric_list(t):
                bound = sum(meta.row_group(g).column(leaf).num_values
                            for g in range(meta.num_row_groups))
                if pa.types.is_large_list(t) or bound <= _OFFSETS_MAX:
                    flat[i] = _ListBuffer(t, bound, meta.num_rows)
            leaf += _leaves(t)
        if leaf != meta.num_columns:  # a layout _leaves does not know
            flat = {}
        groups = [_Regroup() for _ in schema]
        for batch in pf.iter_batches(batch_size=READ_ROWS,
                                     use_threads=False):
            for i, arr in enumerate(batch.columns):
                if i in flat and not flat[i].add(arr):
                    if flat[i].rows:  # the rows before it stay one chunk
                        groups[i].chunks.append(flat[i].array())
                    del flat[i]
                if i not in flat:
                    groups[i].add(arr)
    cols = []
    for i, t in enumerate(schema.types):
        if i in flat:
            cols.append(pa.chunked_array([flat[i].array()], t))
        else:
            groups[i].flush()
            cols.append(pa.chunked_array(groups[i].chunks, t))
    return pa.Table.from_arrays(cols, schema=schema)


def _encode_files(out_dir: str, schema: pa.Schema, zstd_level: int | None,
                  token: str):
    """Task body of the parquet fast path (manifest mode ``files``), one
    (part_id, parquet path) item per task — a deterministic,
    resume-friendly 1:1 mapping of input file to .zseq part. The worker
    reads the parquet itself via pyarrow (bypassing the JVM row->Arrow
    conversion, which profiling shows costs more than the codecs for
    array columns) and writes one .zseq."""
    def fn(item):
        # One task == one core: pyarrow's internal pool would otherwise
        # use every machine core per read, silently oversubscribing (and
        # making any cores-vs-throughput measurement meaningless).
        pa.set_cpu_count(1)
        pa.set_io_thread_count(2)
        part_id, path = item
        t0 = time.time()
        tbl = _read_parquet(path)
        if schema.names != tbl.schema.names:
            tbl = tbl.select(schema.names)
        tbl = tbl.cast(schema)
        row = _encode_table_to_file(tbl, out_dir, part_id, schema, True,
                                    BATCH_ROWS, t0, zstd_level,
                                    fname=part_name(token, part_id))
        yield pa.RecordBatch.from_pylist([row], schema=_METRICS_PA)

    return fn


def encode(df: DataFrame, out_dir: str, *, mode: str = "preserve",
           partitions: int | None = None,
           partition_col: str | None = None,
           resume: bool = False,
           append: bool = False,
           zstd_level: int | None = None,
           reversed_cols: list[str] | None = None) -> EncodeResult:
    """Encode ``df`` into ``out_dir`` as .zseq blobs + manifest.json.

    ``mode='preserve'`` (default): no shuffle — one encode task per input
    split. Spark sizes splits uniformly in *bytes*
    (spark.sql.files.maxPartitionBytes), which is exactly balanced for
    codec work, so for already-well-laid-out input (Iceberg/parquet at
    scale) this is both the fastest and the skew-safest path. Measured:
    the hash shuffle alone costs more than the entire codec stage on
    array-typed rows.

    ``mode='hash'``: repartition(P, partition_col) first. Use when the
    input layout is pathological or a fixed deterministic bucket count is
    needed — it is the mode that supports ``resume`` (bucket assignment
    is a pure function of (key, P), so surviving part files are reused).

    ``mode='salted'``: skew-aware salted repartition by the n_tok
    histogram — rows are bucketed so every partition carries roughly
    equal *token mass*, and heavy-tail rows (above the sampled p99.9 of
    the list-length column) are spread across dedicated buckets instead
    of landing wherever their key hashes. Use when row sizes are wildly
    skewed AND the input layout is row-based rather than byte-based
    (byte-uniform splits — preserve/files modes — are already mass-
    balanced, which is why this is not the default).

    ``mode='range'``: sort-ordered layout — range-partition on
    partition_col, then sort within each partition. Parts get DISJOINT
    zone envelopes on the key, so driver-side file pruning nails any
    range predicate to the few overlapping files, and per-block zone
    maps inside a surviving file are equally tight. Use for a dataset
    whose dominant read pattern is range scans on one column (time
    series, ids). Range boundaries come from Spark's reservoir sampling,
    so this mode makes no bucket-determinism claim: no resume, no
    hash-bucket pinning.

    ``resume``: skip partitions already committed in an existing manifest
    (hash mode only).

    ``append``: grow a committed dataset instead of replacing it — new
    parts are staged under a fresh job token, then the manifest old
    parts + new parts is committed as the next revision (put-if-absent;
    see :class:`Commit`). The appended data's schema / zstd level /
    reversed set must match the committed manifest exactly. Appending to
    a path with no committed manifest degrades to a fresh encode. The
    resulting manifest's mode is ``append`` (no bucketing claim survives
    an append, so ``resume`` refuses appended datasets).

    ``zstd_level``: zstd compression level 1-22 applied inside every
    encode worker (reference compression.rs:14-23; default 3). Recorded
    in the manifest; decode never needs it (zstd frames self-describe).

    ``reversed_cols``: mark these columns Reversed (descending-order
    semantics, striped.rs:490-513) — a no-op wrapper in the chunk stream
    plus schema metadata, honored transparently on decode.
    """
    spark = df.sparkSession
    from .session import ship_package

    ship_package(spark)  # executors must import zseq (--py-files pattern)
    if mode not in ("preserve", "hash", "salted", "range"):
        raise ValueError(f"unknown encode mode {mode!r}")
    if resume and mode != "hash":
        raise ValueError(
            "resume requires mode='hash' (preserve-mode split ids are not "
            "stable across plan changes)"
        )
    P = partitions or spark.sparkContext.defaultParallelism
    key = partition_col or df.columns[0]
    os.makedirs(out_dir, exist_ok=True)

    from .codecs.bytescodecs import validate_zstd_level

    validate_zstd_level(zstd_level)
    arrow_schema = to_arrow_schema(df)
    if reversed_cols:
        from .column import mark_reversed

        arrow_schema = mark_reversed(arrow_schema, reversed_cols)
    c = begin(out_dir, append=append, resume=resume,
              arrow_schema=arrow_schema, zstd_level=zstd_level,
              reversed_cols=reversed_cols)
    if resume and c.prev is not None and c.prev["partitions"] != P:
        raise ValueError(
            f"resume with partitions={P} but manifest has "
            f"{c.prev['partitions']} — hash assignment would differ")
    # Map columns cross the JVM->Python boundary as entries arrays (see
    # strip_maps_df) and are rebuilt to true maps inside the worker; the
    # committed schema/format is the original, map-typed one.
    df, _ = strip_maps_df(df)
    parts: list[dict] = []
    cluster = True
    if mode == "salted":
        work = _salted_repartition(df, P, key)
        run = True
    elif mode == "range":
        # Sort-ordered layout: range-partition on the key (disjoint
        # per-PART zone envelopes -> driver file pruning nails any range
        # predicate to the few files that overlap it), then sort within
        # each partition (tight per-BLOCK zone maps inside the surviving
        # files). The codec-locality reorder is skipped — key order IS
        # the clustering here. Range boundaries come from Spark's
        # sampling, so this mode makes no bucket-determinism claim
        # (no resume, no hash-bucket pinning).
        work = (df.repartitionByRange(P, F.col(key))
                .sortWithinPartitions(key))
        cluster = False
        run = True
    elif mode == "hash":
        work = df.repartition(P, F.col(key))
        todo = sorted(set(range(P)) - set(c.done_parts))
        if c.done_parts and todo:
            # Hash assignment is deterministic for fixed (key, P): after
            # the repartition, spark_partition_id IS the hash bucket —
            # filter to the buckets whose part files are missing.
            work = work.filter(F.spark_partition_id().isin(todo))
        run = bool(todo)
    else:
        work = df
        run = True
    if run:
        fn = _encode_partition(out_dir, arrow_schema, cluster, zstd_level,
                               c.token, c.part_base)
        metrics = work.mapInArrow(fn, METRICS_SCHEMA)
        parts = [r.asDict() for r in metrics.collect()]
    parts.extend(c.done_parts.values())
    parts.sort(key=lambda p: p["part_id"])

    manifest = c.publish(
        parts, mode=mode, arrow_schema=arrow_schema,
        zstd_level=zstd_level, reversed_cols=reversed_cols,
        partitions=P if mode == "hash" else None,
        # preserve mode did not partition by any column — recording the
        # defaulted key would claim a bucketing that never happened
        partition_col=key if mode in ("hash", "salted", "range") else None)
    return EncodeResult(out_dir, manifest, manifest["parts"])


def check_append_compat(prev: dict, arrow_schema: pa.Schema,
                        zstd_level: int | None,
                        reversed_cols: list[str] | None) -> None:
    """Appended parts must be indistinguishable from the committed ones:
    exact schema (byte-equal Arrow serialization, including reversed-
    marker metadata), same zstd level (the manifest records ONE level
    for every part), same reversed set. Widening readers are a DECODE
    feature (schema evolution) — writes never mix schemas.

    Schema-LEVEL metadata is ignored in the comparison (Spark's parquet
    writer stamps provenance keys there, so a DataFrame append onto a
    parquet-fast-path dataset would spuriously mismatch); field-level
    metadata — where the reversed markers live — still must match."""
    def key(s: pa.Schema) -> bytes:
        return s.remove_metadata().serialize().to_pybytes()

    try:
        prev_schema = pa.ipc.read_schema(
            pa.py_buffer(bytes.fromhex(prev.get("schema", ""))))
    except Exception as e:
        # a missing/corrupt manifest 'schema' must surface as the
        # append-contract error, not an opaque ArrowInvalid
        raise ValueError(
            "append: the committed manifest has no readable 'schema' "
            f"entry ({e!r}) — cannot prove the appended parts match; "
            "re-encode fresh or restore the manifest") from e
    if key(prev_schema) != key(arrow_schema):
        raise ValueError(
            "append: dataframe schema differs from the committed "
            "manifest's — appended parts must match the dataset schema "
            "exactly (schema evolution is a read-side feature; writes "
            "never mix schemas)")
    _check_zstd_level(prev, zstd_level, "append")
    if (reversed_cols or []) != prev.get("reversed_cols", []):
        raise ValueError(
            "append: reversed_cols differ from the committed manifest's "
            f"{prev.get('reversed_cols', [])}")


def append_commit(c: Commit, new_parts: list[dict],
                  arrow_schema: pa.Schema, zstd_level: int | None,
                  reversed_cols: list[str] | None,
                  extra: dict | None = None) -> dict:
    """The append branch of :meth:`Commit.publish`: the committed parts
    verbatim, then the new ones, published through ``c.finish`` (which
    alone decides whether a concurrent commit won). ``input_files``
    provenance survives an append from any entry point: the committed
    list, extended by ``extra``'s. Old files are never GC'd on append:
    they are still referenced. A module function, looked up at call
    time, so ``perfbench/trace.py`` times it as ``encode.append_commit``."""
    prev = c.prev
    all_parts = prev.get("parts", []) + new_parts
    extra = dict(extra or {})
    if "input_files" in prev or "input_files" in extra:
        extra["input_files"] = (prev.get("input_files", [])
                                + extra.get("input_files", []))
    return c.finish(build_manifest(
        mode="append", partitions=len(all_parts),
        arrow_schema=arrow_schema, parts=all_parts,
        zstd_level=zstd_level, reversed_cols=reversed_cols,
        extra={**extra,
               "revision": c.revision,
               "appends": prev.get("appends", 0) + 1}))


def _merge_group(out_dir: str, files: list[tuple], schema: pa.Schema,
                 zstd_level: int, part_id: int, fname: str) -> dict:
    """One compaction unit: read a group of committed small parts
    ((file, crc32) pairs, crc-gated), concatenate (no combined copy),
    re-encode as ONE staged part file named ``fname``; returns its
    metrics row."""
    from .zseqfile import ZseqReader, check_crc

    tables = []
    for rel, crc in files:
        path = os.path.join(out_dir, rel)
        with open(path, "rb") as f:
            content = f.read()
        check_crc(content, crc, path)
        tables.append(ZseqReader(content).read_all())
    tbl = pa.concat_tables(tables)
    return _encode_table_to_file(tbl, out_dir, part_id, schema, False,
                                 BATCH_ROWS, time.time(), zstd_level,
                                 fname=fname)


def compact_parts(out_dir: str, *,
                  target_bytes: int = 128 << 20,
                  small_bytes: int | None = None,
                  dry_run: bool = False) -> dict:
    """In-place incremental compaction: merge a committed dataset's
    SMALL part files into ~``target_bytes`` parts, leaving large parts
    untouched. The small-files maintenance op a long-lived dataset needs
    after many appends (each append commits its own parts) — cost is
    O(small data), never O(dataset), unlike the stream->batch rewrite
    (``python -m zseq compact <stream> <out>``) which re-encodes
    everything through Spark.

    Parts with encoded size under ``small_bytes`` (default
    ``target_bytes // 2``) are greedily grouped in manifest order up to
    ``target_bytes``; groups of one are left alone (no gain). The groups
    are merged one after another on the driver, no Spark session needed
    (re-selection of codecs over the bigger concatenated chunks
    typically also shrinks the bytes). The merged part's zone envelope
    is computed fresh by the writer, so driver-side file pruning keeps
    working.

    Commit = the manifest (untouched parts in order, then the merged
    ones) published through :meth:`Commit.finish`, like an append: a
    concurrent commit that wins the revision makes this compaction raise
    and leaves its staged parts as orphans for vacuum(). Replaced files
    are deliberately NOT deleted at commit: an in-flight reader may
    still hold the previous manifest, so they age out via ``vacuum()``
    exactly like any other superseded part. A crash before the commit
    leaves token-named staged orphans and an untouched dataset.
    ``resume`` refuses compacted datasets (part ids no longer mirror
    hash buckets), same as appended ones."""
    # builds on the live manifest like an append: its parts stay
    # referenced by the retained snapshots
    c = begin(out_dir, append=True)
    prev = c.prev
    if prev is None:
        raise FileNotFoundError(
            f"{out_dir}/manifest.json missing — compact_parts operates "
            "on a committed batch dataset; for streaming epochs use "
            "'python -m zseq compact <stream_dir> <out_dir>'")
    small = small_bytes if small_bytes is not None else target_bytes // 2
    parts = prev.get("parts", [])
    sized = []
    for p in parts:
        e = p.get("enc_bytes")
        if e is None:
            try:
                e = os.path.getsize(os.path.join(out_dir, p["file"]))
            except OSError:
                continue  # unknown size: never a merge candidate
        if e < small:
            sized.append((p, e))
    groups: list[list[dict]] = []
    cur: list[dict] = []
    cur_b = 0
    for p, e in sized:
        if cur and cur_b + e > target_bytes:
            groups.append(cur)
            cur, cur_b = [], 0
        cur.append(p)
        cur_b += e
    if cur:
        groups.append(cur)
    groups = [g for g in groups if len(g) >= 2]
    summary = {
        "merged_groups": len(groups),
        "parts_merged": sum(len(g) for g in groups),
        "parts_before": len(parts),
        "revision": prev.get("revision", 1),
        "dry_run": dry_run,
    }
    if not groups or dry_run:
        summary["parts_after"] = len(parts) - summary["parts_merged"] \
            + len(groups)
        return summary
    lvl = int(prev.get("zstd_level", 3) or 3)
    schema = pa.ipc.read_schema(pa.py_buffer(bytes.fromhex(prev["schema"])))
    merged = [
        _merge_group(out_dir, [(p["file"], p.get("crc32")) for p in g],
                     schema, lvl, c.part_base + i,
                     part_name(c.token, c.part_base + i))
        for i, g in enumerate(groups)
    ]
    replaced = {p["file"] for g in groups for p in g}
    new_parts = [p for p in parts if p["file"] not in replaced] + merged
    extra = {k: prev[k] for k in ("input_files", "appends") if k in prev}
    manifest = c.finish(build_manifest(
        mode="compact", partitions=len(new_parts), arrow_schema=schema,
        parts=new_parts,
        partition_col=prev.get("partition_col"),
        zstd_level=prev.get("zstd_level"),
        reversed_cols=prev.get("reversed_cols"),
        extra={**extra,
               "revision": c.revision,
               "compactions": prev.get("compactions", 0) + 1}))
    summary.update(
        parts_after=len(manifest["parts"]),
        revision=manifest["revision"],
        enc_bytes_merged_before=sum(e for p, e in sized
                                    if p["file"] in replaced),
        enc_bytes_merged_after=sum(m["enc_bytes"] for m in merged),
    )
    return summary


def _check_zstd_level(prev: dict, zstd_level: int | None,
                      verb: str) -> None:
    """The manifest records ONE zstd level for all its parts, so a job
    that keeps the committed parts (``verb``: append, resume) must
    encode at the committed level (default 3): otherwise the recorded
    level would be wrong for some parts. Decode is unaffected — zstd
    frames self-describe — but lineage must not lie. Refuse."""
    prev_lvl = int(prev.get("zstd_level") or 3)
    this_lvl = int(zstd_level or 3)
    if prev_lvl != this_lvl:
        raise ValueError(
            f"{verb}: zstd_level {this_lvl} differs from the committed "
            f"manifest's {prev_lvl} — the manifest records one level for "
            f"all parts; pass zstd_level={prev_lvl}")


def _salted_repartition(df: DataFrame, P: int, key: str) -> DataFrame:
    """Skew-aware bucketing by token mass (the north-rule salted
    repartition): sample the n_tok histogram, put heavy-tail rows (above
    the sampled p99.9) into buckets weighted by how many target-partition
    masses each row is worth, and spread light rows uniformly. One extra
    cheap aggregation job + one shuffle.

    A single row cannot be split, so a row heavier than the target mass
    still bounds its partition — the histogram makes that bound explicit
    and observable (per-part list_elems in the manifest)."""
    weight_col = None
    for f in df.schema.fields:
        if f.dataType.simpleString().startswith("array"):
            weight_col = f"size({f.name})"
            break
        if f.name == "n_tok":
            weight_col = "n_tok"
    if weight_col is None:
        weight_col = "1"
    stats = df.selectExpr(
        f"cast({weight_col} as double) as w"
    ).selectExpr(
        "sum(w) as total",
        "approx_percentile(w, 0.999) as p999",
    ).collect()[0]
    total = float(stats["total"] or 0.0)
    p999 = float(stats["p999"] or 1.0)
    target = max(1.0, total / P)
    # Heavy = rows whose mass is a material fraction of a partition's
    # target. There are at most ~4P such rows (mass bound), so they are
    # collectable at any corpus scale; everything lighter balances itself
    # by the law of large numbers under uniform hashing.
    heavy_cut = max(p999, target / 4.0)
    # Aggregate mass PER KEY before the heavy cut: routing is by key
    # (every row of a key lands in its assigned bucket), so what must be
    # bin-packed is each key's TOTAL mass — a key spread over many
    # individually-light duplicate rows is exactly as skew-dangerous as
    # one giant row, and per-row packing both missed those and credited
    # duplicate heavy rows to several buckets while the dict kept only
    # the last label. The aggregation is map-side-combinable and
    # shuffles only (key, double) partial sums — ~2 small values per
    # key, not the token arrays the hash mode would shuffle — and the
    # collect stays bounded by the ~4P heavy-mass budget.
    heavy = (
        df.selectExpr(f"{key} as k",
                      f"cast({weight_col} as double) as w")
        .groupBy("k").agg(F.sum("w").alias("w"))
        .filter(F.col("w") >= heavy_cut)
        .collect()
    )
    # repartition(P, col) applies Spark's own hash to the column value, so
    # bucket ids 0..P-1 would collide into partitions. Instead, find one
    # *label* per target partition by probing Spark's hash (F.hash is the
    # same Murmur3 the shuffle uses), then route rows via labels.
    spark = df.sparkSession
    probe = spark.range(0, 32 * P).selectExpr(
        "cast(id as int) as b", f"pmod(hash(cast(id as int)), {P}) as p")
    label_for: dict[int, int] = {}
    for r in probe.collect():
        label_for.setdefault(r["p"], r["b"])
    if len(label_for) < P:  # astronomically unlikely with 32P probes
        raise RuntimeError("salted: could not cover all partitions")
    labels = [label_for[p] for p in range(P)]

    # Greedy bin packing of heavy rows, heaviest first, lightest bucket.
    import heapq

    load = [(0.0, p) for p in range(P)]
    heapq.heapify(load)
    assign: dict = {}
    for row in sorted(heavy, key=lambda r: -r["w"]):
        mass, p = heapq.heappop(load)
        assign[row["k"]] = labels[p]
        heapq.heappush(load, (mass + float(row["w"]), p))
    light_label = F.element_at(
        F.array(*[F.lit(l) for l in labels]),
        (F.pmod(F.xxhash64(F.col(key)), F.lit(P)) + 1).cast("int"),
    )
    if assign:
        mapping = F.create_map(*[
            F.lit(x) for kv in assign.items() for x in kv
        ])
        bucket = F.coalesce(mapping[F.col(key)], light_label)
    else:
        bucket = light_label
    return (
        df.withColumn("__bucket", bucket.cast("int"))
        .repartition(P, F.col("__bucket"))
        .drop("__bucket")
    )


def encode_parquet(spark, input_dir: str, out_dir: str, *,
                   resume: bool = False,
                   append: bool = False,
                   zstd_level: int | None = None) -> EncodeResult:
    """Parquet -> .zseq fast path: workers read parquet files directly
    with pyarrow instead of scanning through Spark's row pipeline.

    Why this exists: for a pure encode job there is no relational plan for
    Catalyst to optimize — it is scan -> columnar transform -> write. The
    JVM's parquet -> InternalRow -> Arrow conversion of array columns
    costs more CPU than the entire codec stage (measured ~60% of task
    time), and pyarrow reads the same files columnar end-to-end. Each
    input file maps 1:1 to an output part (part id = index in the sorted
    file list), which makes resume exact and idempotent regardless of
    Spark scheduling.

    ``append=True`` encodes ``input_dir``'s files as NEW parts on top of
    the committed dataset (same protocol as :func:`encode`'s append:
    token-staged parts, put-if-absent commit of the next revision,
    exact schema match required).
    """
    from .session import ship_package

    ship_package(spark)
    files = sorted(
        os.path.join(input_dir, f) for f in os.listdir(input_dir)
        if f.endswith(".parquet")
    )
    if not files:
        raise FileNotFoundError(f"no .parquet files in {input_dir}")
    os.makedirs(out_dir, exist_ok=True)

    import pyarrow.parquet as pq

    from .codecs.bytescodecs import validate_zstd_level

    validate_zstd_level(zstd_level)
    arrow_schema = pq.read_schema(files[0])
    want = {f.name: f.type for f in arrow_schema}
    c = begin(out_dir, append=append, resume=resume,
              arrow_schema=arrow_schema, zstd_level=zstd_level)
    if resume and c.prev is not None and c.prev.get("input_files") != files:
        raise ValueError(
            "resume: input file list changed since the manifest was "
            "committed")
    # Schema-drift check UP FRONT (footer reads in a thread pool): a
    # mismatching file otherwise surfaces as a cast failure inside some
    # task minutes into the job, without naming the culprit. The check
    # mirrors exactly what the task path tolerates — extra columns are
    # dropped by select(), field order may differ, and losslessly-
    # castable type drift rides tbl.cast(); only a MISSING required
    # column or a cast-incompatible type is refused. Files already
    # committed by a resume manifest were validated when first encoded
    # (input_files is pinned) and are skipped.
    required = set(want)
    to_check = [f for i, f in enumerate(files)
                if i not in c.done_parts and f != files[0]]
    if to_check:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(16, len(to_check))) as pool:
            footers = list(pool.map(pq.read_schema, to_check))
        for f, got_schema in zip(to_check, footers):
            got = {g.name: g.type for g in got_schema}
            missing = required - set(got)
            if missing:
                raise ValueError(
                    f"encode_parquet: {f} is missing column(s) "
                    f"{sorted(missing)} present in {files[0]}")
            drift = {col for col in required
                     if not _types_castable(got[col], want[col])}
            if drift:
                raise ValueError(
                    f"encode_parquet: {f} column type(s) are not "
                    f"castable to {files[0]}'s: "
                    + ", ".join(f"{col}: {got[col]} -> {want[col]}"
                                for col in sorted(drift)))
    tasks = [(i + c.part_base, f) for i, f in enumerate(files)
             if i not in c.done_parts]
    from .session import run_tasks

    parts = [r.asDict() for r in run_tasks(
        spark, tasks,
        _encode_files(out_dir, arrow_schema, zstd_level, c.token),
        METRICS_SCHEMA).collect()] if tasks else []
    parts.extend(c.done_parts.values())
    parts.sort(key=lambda p: p["part_id"])
    manifest = c.publish(
        parts, mode="files", arrow_schema=arrow_schema,
        zstd_level=zstd_level, partitions=len(files),
        extra={"input_files": files})
    return EncodeResult(out_dir, manifest, manifest["parts"])


def vacuum(out_dir: str, min_age_sec: float = 86400.0,
           dry_run: bool = False, keep_revisions: int = 1) -> list[str]:
    """Remove .zseq files (and their .tmp leftovers) that no committed
    manifest references and that are older than ``min_age_sec``.

    Why it exists: a batch encode that crashes before its commit, or
    loses the commit to a concurrent writer, leaves token-named orphans
    no later job is entitled to delete (gc_unreferenced only touches
    superseded-manifest parts and the running job's own token), so
    repeatedly failed writes leak disk in long-lived directories.
    Vacuum is the explicit, age-gated sweep for exactly those; the age
    gate keeps a concurrently RUNNING writer's
    fresh parts safe.

    Layouts: a committed batch dataset (keeps the manifest's parts), or
    a streaming-epoch dir (keeps every committed epoch's parts, sweeps
    aged .staging leftovers and aged uncommitted-epoch debris). A dir
    with neither a manifest nor epochs is refused — a crashed encode's
    parts may still be salvageable via decode(allow_partial=True).

    Time-travel history: vacuum EXPIRES manifest revision snapshots
    older than the same age gate (never the live revision's), then
    sweeps files referenced by neither the live manifest nor any
    RETAINED snapshot — so every revision ``revisions()`` still lists
    stays fully readable, and expiry is what frees the parts that only
    old revisions referenced (compacted-away or deleted-from files).
    ``keep_revisions`` is the retention floor (Iceberg's
    ``retain_last``): the NEWEST N revisions' snapshots are never
    expired no matter their age — the default 1 protects only the live
    revision (the pre-snapshot behavior); a snapshot expires only when
    it is BOTH past the age gate AND beyond the retention floor.
    """
    if keep_revisions < 1:
        raise ValueError("keep_revisions must be >= 1 (the live "
                         "revision is never expired)")
    now = time.time()
    removed: list[str] = []

    def sweep(d: str, keep: set[str]) -> None:
        try:
            names = os.listdir(d)
        except OSError:
            return
        for f in names:
            if ".zseq" not in f or f in keep:
                continue
            p = os.path.join(d, f)
            try:
                if now - os.stat(p).st_mtime < min_age_sec:
                    continue
            except OSError:
                continue
            removed.append(p)
            if not dry_run:
                try:
                    os.remove(p)
                except OSError:
                    pass

    m = read_manifest(out_dir)
    epochs = [
        n for n in sorted(os.listdir(out_dir)) if n.startswith("epoch-")
    ] if os.path.isdir(out_dir) else []
    if m is not None:
        keep = {p["file"] for p in m.get("parts", [])}
        live_rev = m.get("revision", 1)
        snaps = sorted(_snapshots(out_dir))
        protected = set(snaps[-keep_revisions:]) | {live_rev}
        for f in sorted(os.listdir(out_dir)):
            mt = _SNAPSHOT_RE.match(f)
            if not mt:
                continue
            p = os.path.join(out_dir, f)
            expired = int(mt.group(1)) not in protected
            if expired:
                try:
                    expired = now - os.stat(p).st_mtime >= min_age_sec
                except OSError:
                    continue
            if expired:
                removed.append(p)
                if not dry_run:
                    try:
                        os.remove(p)
                    except OSError:
                        pass
            else:
                # retained snapshot: its part list must stay readable
                try:
                    with open(p) as fh:
                        keep |= {q["file"]
                                 for q in json.load(fh).get("parts", [])}
                except (OSError, ValueError):
                    pass  # unreadable snapshot protects nothing
        sweep(out_dir, keep)
    elif epochs:
        for name in epochs:
            d = os.path.join(out_dir, name)
            em = read_manifest(d)
            sweep(d, {p["file"] for p in em.get("parts", [])}
                  if em else set())
            if em is None and not dry_run:
                try:
                    os.rmdir(d)  # uncommitted epoch, now empty
                except OSError:
                    pass
        staging = os.path.join(out_dir, ".staging")
        if os.path.isdir(staging):
            sweep(staging, set())
    else:
        raise FileNotFoundError(
            f"{out_dir}: no committed manifest or epochs — refusing to "
            "vacuum (a crashed encode's parts may still be salvageable "
            "via decode(allow_partial=True))")
    return removed


def _types_castable(got: pa.DataType, want: pa.DataType) -> bool:
    """Conservative static mirror of what the task path's ``tbl.cast``
    accepts: equal types, any-numeric -> any-numeric, temporal ->
    temporal, string-kind -> string-kind, binary-kind -> binary-kind,
    and the same recursively through lists/structs/maps. (Runtime cast
    can still fail on overflow — this check exists to NAME clear drift
    up front, not to certify every value.)"""
    if got.equals(want):
        return True

    def num(t):
        return (pa.types.is_integer(t) or pa.types.is_floating(t)
                or pa.types.is_decimal(t) or pa.types.is_boolean(t))

    def strlike(t):
        return pa.types.is_string(t) or pa.types.is_large_string(t)

    def binlike(t):
        return pa.types.is_binary(t) or pa.types.is_large_binary(t)

    if num(got) and num(want):
        return True
    if pa.types.is_temporal(got) and pa.types.is_temporal(want):
        return True
    if (strlike(got) and strlike(want)) or (binlike(got) and binlike(want)):
        return True
    if (pa.types.is_list(got) or pa.types.is_large_list(got)) and \
            (pa.types.is_list(want) or pa.types.is_large_list(want)):
        return _types_castable(got.value_type, want.value_type)
    if pa.types.is_struct(got) and pa.types.is_struct(want):
        if got.num_fields != want.num_fields:
            return False
        return all(
            got.field(i).name == want.field(i).name
            and _types_castable(got.field(i).type, want.field(i).type)
            for i in range(want.num_fields))
    if pa.types.is_map(got) and pa.types.is_map(want):
        return (_types_castable(got.key_type, want.key_type)
                and _types_castable(got.item_type, want.item_type))
    return False


def to_arrow_schema(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema as _tas

    return _tas(df.schema)


def read_manifest(out_dir: str, revision: int | None = None) -> dict | None:
    """Read the live manifest, or — time travel — a retained revision
    snapshot. Every commit (:meth:`Commit.finish`) publishes its manifest
    twice: first the immutable ``manifest-r{N}.json`` snapshot, whose
    put-if-absent creation IS the commit, then the live
    ``manifest.json``. So the live manifest is the highest snapshot
    whenever that is newer than ``manifest.json`` (a writer died between
    the two steps, or two commits replaced ``manifest.json`` out of
    order). A directory without ``manifest.json`` holds no committed
    dataset; datasets without snapshots (the rev00001 fixture) read
    ``manifest.json`` alone. Because append never deletes parts and
    compaction leaves replaced files for the age-gated vacuum, a
    retained snapshot's part list stays readable until vacuum expires
    it; overwrite resets history (its commit deletes the superseded
    parts immediately, so their snapshots would be lies).

    ``revision=N`` returns that snapshot (answered from the live
    manifest when N is the live revision). Missing/expired revisions
    raise with the list of retained ones."""
    path = os.path.join(out_dir, "manifest.json")
    live = None
    if os.path.exists(path):
        with open(path) as f:
            live = json.load(f)
        top = _latest_snapshot(out_dir)
        if top > live.get("revision", 1):
            with open(os.path.join(out_dir, _snapshot_name(top))) as f:
                live = json.load(f)
    if revision is None:
        return live
    if live is not None and live.get("revision", 1) == revision:
        return live
    snap = os.path.join(out_dir, _snapshot_name(revision))
    if os.path.exists(snap):
        with open(snap) as f:
            return json.load(f)
    have = sorted(r["revision"] for r in revisions(out_dir))
    raise FileNotFoundError(
        f"{out_dir}: no retained manifest for revision {revision} — "
        f"retained revisions: {have or 'none'} (snapshots are expired "
        "by vacuum() after the age gate, and an overwrite resets "
        "history)")


def _snapshot_name(revision: int) -> str:
    return f"manifest-r{int(revision):08d}.json"


# \d{8,}: _snapshot_name's {:08d} pads WITHOUT truncation, so a revision
# >= 10^8 writes 9+ digits — an exactly-8 regex would hide it from
# revisions()/vacuum (never expired, parts unprotected by the keep-set)
# while read_manifest(revision=N) still found it by direct path.
_SNAPSHOT_RE = re.compile(r"^manifest-r(\d{8,})\.json$")


def _snapshots(out_dir: str) -> list[int]:
    try:
        names = os.listdir(out_dir)
    except OSError:
        return []
    return [int(mt.group(1)) for f in names if (mt := _SNAPSHOT_RE.match(f))]


def _latest_snapshot(out_dir: str) -> int:
    return max(_snapshots(out_dir), default=0)


def revisions(out_dir: str) -> list[dict]:
    """Time-travel catalog: one row per retained manifest revision
    (snapshot files plus the live manifest), oldest first — revision,
    mode, parts, totals. ``read_manifest(out_dir, revision=...)`` /
    ``decode(..., revision=...)`` accept any revision listed here."""
    rows: dict[int, dict] = {}
    try:
        names = os.listdir(out_dir)
    except OSError:
        return []
    for f in names:
        mt = _SNAPSHOT_RE.match(f)
        if not mt:
            continue
        try:
            with open(os.path.join(out_dir, f)) as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            continue  # half-written/corrupt snapshot: not readable, skip
        rows[m.get("revision", int(mt.group(1)))] = m
    live = read_manifest(out_dir)
    if live is not None:
        rows.setdefault(live.get("revision", 1), live)
    return [{"revision": rev, "mode": m.get("mode"),
             "parts": len(m.get("parts", [])),
             "totals": m.get("totals", {})}
            for rev, m in sorted(rows.items())]


def rollback(out_dir: str, revision: int) -> dict:
    """Restore the live dataset to a retained revision (the lakehouse
    rollback: Iceberg's ``rollback_to_snapshot``). The target snapshot's
    manifest becomes the live manifest under a NEW revision number —
    history only moves forward, so the rolled-back-FROM revision stays
    retained and time-travel-readable until vacuum() expires its
    snapshot. No data files move or are deleted (vacuum later sweeps
    parts no retained revision references).

    Refuses if any of the target's part files are already gone (vacuum
    expired that revision's data — the catalog entry alone can't bring
    it back), and commits through :meth:`Commit.finish` like every
    writer, so a concurrent writer's commit is never silently
    overwritten. Rolling back to the live revision is a no-op returning
    it."""
    target = read_manifest(out_dir, revision=revision)  # raises if gone
    c = begin(out_dir, append=True)
    if c.prev is None:
        raise FileNotFoundError(f"{out_dir}/manifest.json missing — "
                                "nothing to roll back")
    if revision == c.prev.get("revision", 1):
        return c.prev
    missing = [p["file"] for p in target.get("parts", [])
               if not os.path.exists(os.path.join(out_dir, p["file"]))]
    if missing:
        raise FileNotFoundError(
            f"{out_dir}: cannot roll back to revision {revision} — "
            f"{len(missing)} of its part files were already removed by "
            f"vacuum (first: {missing[0]}); the snapshot is a catalog "
            "entry only")
    return c.finish({**target,
                     "revision": c.revision,
                     "rollback_of": revision,
                     "rollbacks": c.prev.get("rollbacks", 0) + 1})


@dataclass
class Commit:
    """One write job on ``out_dir``, from :func:`begin` to
    :meth:`finish` (publish) or :meth:`abort` (discard). Every writer
    commits through it: ``encode``, ``encode_parquet``, the DataSource
    batch and stream writers, ``compact_parts`` and ``rollback``. The
    first four publish through :meth:`publish`; ``compact_parts`` and
    ``rollback`` build their own manifest shapes and call
    :meth:`finish`.

    ``prev`` is the manifest the job builds on (None: fresh) and
    ``revision`` the one it commits (prev's + 1). ``replace``: the
    commit supersedes prev's parts (fresh/overwrite: they are GC'd and
    history resets); otherwise (append, compact, rollback) they stay
    referenced. ``token`` names the job's staged part files,
    ``part_base`` is the first part id past the committed ones, and
    ``done_parts`` maps part id -> committed entry for the parts a
    resume reuses."""
    out_dir: str
    prev: dict | None
    revision: int
    replace: bool
    token: str
    part_base: int = 0
    done_parts: dict = field(default_factory=dict)

    def publish(self, parts: list[dict], *, mode: str,
                arrow_schema: pa.Schema, zstd_level: int | None = None,
                reversed_cols: list[str] | None = None,
                partitions: int | None = None,
                partition_col: str | None = None,
                extra: dict | None = None) -> dict:
        """Commit the manifest of ``parts``, the job's parts in part-id
        order, through :meth:`finish`: the one place a writer's manifest
        becomes a fresh dataset or an append.

        replace: :func:`build_manifest` of ``parts`` with ``mode``,
        ``partitions`` (default ``len(parts)``), ``partition_col`` and
        ``extra``. append: :func:`append_commit` — the committed parts,
        then ``parts``, mode ``append``, ``input_files`` carried over and
        extended by ``extra``'s, ``appends`` + 1."""
        if not self.replace:
            return append_commit(self, parts, arrow_schema, zstd_level,
                                 reversed_cols, extra)
        return self.finish(build_manifest(
            mode=mode,
            partitions=len(parts) if partitions is None else partitions,
            arrow_schema=arrow_schema, parts=parts,
            partition_col=partition_col, zstd_level=zstd_level,
            reversed_cols=reversed_cols,
            extra={**(extra or {}), "revision": self.revision}))

    def finish(self, manifest: dict) -> dict:
        """Publish ``manifest`` (whose ``revision`` is ``self.revision``):

        1. write it to a job-token-named tmp and fsync;
        2. ``os.link`` the tmp to ``manifest-r{revision}.json`` — THE
           commit point. Linking is put-if-absent, so of the writers
           that read the same revision exactly one commits the next; the
           others raise;
        3. lose as well when a higher snapshot exists: an overwrite's
           history reset freed this revision under a stale writer;
        4. atomically replace ``manifest.json`` through a token-named
           tmp — a separate file, not a link to the snapshot, because
           operators edit ``manifest.json`` in place;
        5. overwrite only: remove the snapshots below this revision
           (they reference the parts step 6 deletes);
        6. GC the files this job is entitled to delete.

        A crash after step 2 leaves the commit live (read_manifest
        follows the highest snapshot); a crash before it leaves the
        previous revision live and token-named orphans for vacuum()."""
        d = self.out_dir
        snap = os.path.join(d, _snapshot_name(self.revision))
        tmp = _write_json_tmp(os.path.join(d, "manifest.json"), manifest,
                              self.token)
        try:
            try:
                os.link(tmp, snap)
                won = _latest_snapshot(d) == self.revision
                if not won:
                    os.remove(snap)
            except FileExistsError:
                won = False
        finally:
            os.remove(tmp)
        if not won:
            raise RuntimeError(
                f"commit of revision {self.revision}: the dataset's "
                "manifest changed while this job ran (a concurrent writer "
                "committed first) — refusing to commit on top of it. This "
                "job's staged parts are token-named orphans; vacuum() "
                "removes them after the age gate.")
        _atomic_write_json(os.path.join(d, "manifest.json"), manifest,
                           self.token)
        if self.replace:
            for r in _snapshots(d):
                if r < self.revision:
                    try:
                        os.remove(os.path.join(d, _snapshot_name(r)))
                    except OSError:
                        pass
        old = {p["file"] for p in (self.prev or {}).get("parts", [])} \
            if self.replace else set()
        gc_unreferenced(d, {p["file"] for p in manifest.get("parts", [])},
                        old, self.token)
        return manifest

    def abort(self) -> None:
        """Remove this job's token-named parts and their ``.zseq.tmp-*``
        leftovers; committed files and manifests are untouched."""
        gc_unreferenced(self.out_dir, set(), set(), self.token)


def begin(out_dir: str, *, append: bool = False, resume: bool = False,
          arrow_schema: pa.Schema | None = None,
          zstd_level: int | None = None,
          reversed_cols: list[str] | None = None) -> Commit:
    """Start a write job on ``out_dir``: read the manifest it builds on
    and run the checks every writer shares.

    ``append``: build on the committed manifest (append, compact,
    rollback); with no committed manifest this is a fresh commit.
    ``resume``: reuse the committed parts whose files survive — refused
    with ``append``, and after an append or compaction (part ids no
    longer mirror the input); the caller checks its own resume key
    (partition count, input file list). ``arrow_schema``: what the job
    writes, checked against reused parts and, on append, against the
    committed schema.
    With no manifest the job commits past the highest leftover snapshot
    (a fresh commit that died before its ``manifest.json`` swap), so no
    writer is wedged on a revision that is already taken."""
    if append and resume:
        raise ValueError(
            "append and resume are mutually exclusive: resume finishes a "
            "crashed job over the SAME input; append adds NEW input")
    prev = read_manifest(out_dir)
    done: dict[int, dict] = {}
    part_base = 0
    if prev is not None and resume:
        if prev.get("mode") in ("append", "compact"):
            raise ValueError(
                f"resume cannot target a dataset after '{prev['mode']}' — "
                "its part ids no longer mirror the input (hash buckets, "
                "input_files); append new data with append=True or "
                "re-encode fresh")
        _check_zstd_level(prev, zstd_level, "resume")
        done = {p["part_id"]: p for p in prev.get("parts", [])
                if os.path.exists(os.path.join(out_dir, p["file"]))}
        if done and prev.get("schema") != \
                arrow_schema.serialize().to_pybytes().hex():
            raise ValueError(
                "resume: the schema (columns, reversed_cols) differs from "
                "the committed manifest's — reused parts would contradict "
                "the new manifest and every read would fail; encode fresh "
                "(resume=False) or restore the original schema")
    if prev is not None and append:
        if arrow_schema is not None:
            check_append_compat(prev, arrow_schema, zstd_level,
                                reversed_cols)
        part_base = 1 + max(
            (p.get("part_id", -1) for p in prev.get("parts", [])),
            default=-1)
    n = prev.get("revision", 1) if prev is not None \
        else _latest_snapshot(out_dir)
    return Commit(out_dir, prev, revision=n + 1,
                  replace=not (append and prev is not None),
                  token=uuid.uuid4().hex[:8], part_base=part_base,
                  done_parts=done)


def _write_json_tmp(path: str, obj: dict, token: str) -> str:
    tmp = f"{path}.tmp-{token}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def _atomic_write_json(path: str, obj: dict,
                       token: str | None = None) -> None:
    """tmp + fsync + rename. The tmp carries the writer's job token, so
    two interleaved commits never write into one tmp file."""
    os.replace(_write_json_tmp(path, obj, token or uuid.uuid4().hex[:8]),
               path)
