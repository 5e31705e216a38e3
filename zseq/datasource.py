"""Native Spark DataSource: ``spark.read.format("zseq")`` and
``df.write.format("zseq")``.

The Spark-first integration of the .zseq format, built on the Python
DataSource API (Spark 4.0) with filter pushdown (Spark 4.1):

read
    The read path of ``zseq.decode`` (``decode.plan_groups`` on the
    driver, ``decode.read_group`` in the worker): one InputPartition per
    group of whole committed part files (cut at byte quantiles, one
    wave), opened and crc-checked by the worker. Catalyst pushes
    comparison filters through ``pushFilters()``; int, timestamp/date,
    string, and startswith comparisons become zone-map block pruning
    inside the reader (a conservative superset — whole blocks are
    skipped without decompression), and ALL filters are handed back to
    Spark so exact row filtering still happens JVM-side: the parquet
    model. Column pruning: ``.option("columns", "a,b")`` (the Python DS
    API has no required-columns pushdown yet); pruned columns are seeked
    past in the blob, never decompressed.

write
    Each task encodes its partition into one job-token-named .zseq file
    (Arrow batches straight in via ``DataSourceArrowWriter`` — no row
    conversion); the driver commits the manifest once from the per-task
    commit messages through ``encode.Commit``, the commit every writer
    uses: a put-if-absent of the next revision's snapshot, so a
    concurrent writer that committed first makes this job raise. Task
    files are written tmp-then-rename, so retries are idempotent, and
    ``abort()`` removes the job's token-named files — the same
    exactly-once story as ``zseq.encode``.

Usage::

    from zseq.datasource import register
    register(spark)                       # ships the package + registers
    df.write.format("zseq").mode("overwrite").save(path)
    spark.read.format("zseq").load(path).filter("n_tok = 17")

Rebuilds the reference's convert entry point (zbra-cli main.rs:404-445)
as a declarative Spark source/sink instead of a subcommand.

Known environment caveat: this Spark/pyarrow pairing intermittently
corrupts MAP-typed Arrow batches on the JVM->Python transfer (worst for
deeply nested maps from parquet scans). ``zseq.encode`` sidesteps it by
shipping maps as entries arrays (encode.strip_maps_df); the DataSource
writers cannot pre-transform their input, so they defensively IPC-copy
map-bearing batches (encode.own_batches). For heavy map-typed datasets
prefer ``zseq.encode``/``zseq.decode``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_PUSHABLE = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


@dataclass
class ZseqPartGroup(InputPartition):
    """A read task: several whole part files ((path, crc32) pairs).
    Packing multiple blobs per InputPartition amortizes the per-partition
    Python-runner setup the DataSource API pays (measured ~3x on a
    many-small-parts corpus against one file per task)."""
    files: tuple


@dataclass
class ZseqCommit(WriterCommitMessage):
    part: dict | None


def _revision_opt(options: dict) -> int | None:
    """Time-travel option: .option('revision', N) reads the dataset as
    of that retained manifest revision (same contract as
    decode(revision=...); `python -m zseq history` lists them)."""
    r = options.get("revision")
    return int(r) if r is not None else None


def _parallelism() -> int:
    """Parallelism floor of the read task packing. Readers are
    constructed inside Spark's spawned planning worker, where
    getActiveSession() is usually None — so the session wins when
    visible, then the machine's core count (right for local mode; a sane
    per-node floor on a cluster)."""
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active:
            return active.sparkContext.defaultParallelism
    except Exception:
        pass
    return max(8, os.cpu_count() or 8)


def register(spark) -> None:
    """Ship the package to executors and register the 'zseq' format.
    Python-source filter pushdown is off by default in Spark 4.1 — turn
    it on, else a reader implementing pushFilters() is refused."""
    from .session import ship_package

    ship_package(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ZseqDataSource)


class ZseqDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zseq"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("zseq: .load(path)/.save(path) is required")
        return path

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        from .encode import read_manifest

        m = read_manifest(self._path(), revision=_revision_opt(self.options))
        if m is None:
            # Streaming layout: schema from the first committed epoch.
            from .streaming import committed_epochs

            eps = committed_epochs(self._path())
            if eps:
                m = read_manifest(eps[0])
        if m is None:
            raise FileNotFoundError(
                f"{self._path()}/manifest.json missing — not a committed "
                "zseq dataset")
        from .decode import manifest_schema

        schema = manifest_schema(m)
        cols = self.options.get("columns")
        if cols:
            keep = [c.strip() for c in cols.split(",") if c.strip()]
            missing = set(keep) - set(schema.names)
            if missing:
                raise KeyError(f"zseq: unknown columns {sorted(missing)}")
            schema = pa_select(schema, keep)
        return from_arrow_schema(schema)

    def reader(self, schema: StructType) -> "ZseqSourceReader":
        # schema is DataSource.schema()'s result (possibly projected by
        # the columns option) OR a user-supplied .schema(...) — the
        # reader treats a superset as read-side evolution (new nullable
        # columns filled with L6 defaults) and a subset as projection.
        return ZseqSourceReader(dict(self.options), schema)

    def writer(self, schema: StructType,
               overwrite: bool) -> "ZseqSourceWriter":
        return ZseqSourceWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> "ZseqStreamWriter":
        return ZseqStreamWriter(dict(self.options), schema)

    def streamReader(self, schema: StructType) -> "ZseqStreamReader":
        return ZseqStreamReader(dict(self.options))


def pa_select(schema, keep: list[str]):
    """Project an Arrow schema to ``keep`` in file order."""
    import pyarrow as pa

    sel = set(keep)
    return pa.schema([schema.field(n) for n in schema.names if n in sel])


class ZseqSourceReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType | None = None):
        from .encode import read_manifest

        self._dir = options.get("path")
        if not self._dir:
            # reachable without DataSource.schema()'s guard when the
            # user supplies an explicit schema — fail with the intended
            # message, not a TypeError from os.path.join(None, ...)
            raise ValueError("zseq: .load(path) is required")
        m = read_manifest(self._dir, revision=_revision_opt(options))
        if m is None:
            from .streaming import committed_epochs

            if committed_epochs(self._dir):
                raise ValueError(
                    f"{self._dir} is a streaming-epoch layout — read it as "
                    "a stream with spark.readStream.format('zseq'), or "
                    "merge it into a batch dataset first with "
                    "'python -m zseq compact'")
            raise FileNotFoundError(
                f"{self._dir}/manifest.json missing — not a committed "
                "zseq dataset")
        from .decode import (TARGET_BYTES, manifest_schema, part_entries,
                             read_plan)

        self._names = list(m["schema_names"])
        cols = options.get("columns")
        cols = ([c.strip() for c in cols.split(",") if c.strip()]
                if cols else None)
        written = manifest_schema(m)
        # Spark hands the reader DataSource.schema()'s result (already
        # projected by the columns option) or a user .schema(...): a
        # subset is projection, extra nullable fields are read-side
        # EVOLUTION, a reorder is honored (decode.read_plan).
        self._columns, self._emit, _ = read_plan(
            written, schema, cols if schema is None else None,
            allow_subset=True)
        self._parts = part_entries(self._dir, m)
        # Task sizing: cut the part files into ~target-byte groups, at
        # least the session's parallelism of them (decode.plan_groups).
        self._target_bytes = int(
            options.get("target_partition_bytes", TARGET_BYTES))
        # an explicit .option("min_partitions", N) wins
        self._min_tasks = (int(options.get("min_partitions", 0))
                           or _parallelism())
        # Zone maps exist for int-kind chunks (ints, timestamps, dates in
        # their storage domain) and for binary/string chunks (truncated
        # byte bounds) — those columns accept pushdown.
        import pyarrow as pa

        self._pushtypes = {
            f.name: f.type for f in written
            if pa.types.is_integer(f.type) or pa.types.is_temporal(f.type)
            or pa.types.is_string(f.type) or pa.types.is_large_string(f.type)
            or pa.types.is_binary(f.type) or pa.types.is_large_binary(f.type)
            or pa.types.is_decimal128(f.type)
        }
        self._predicate: list[tuple] = []

    def _storage_value(self, col: str, value) -> int | str | bytes | None:
        """Catalyst literal -> the column's storage domain: ints stay
        ints, timestamps/dates become their epoch storage ints, string
        literals stay str (compared bytewise against byte-bounds zone
        maps), bytes stay bytes. None when the value is not exactly
        representable (pruning must stay conservative, so we don't push)."""
        import datetime

        import pyarrow as pa

        t = self._pushtypes.get(col)
        if t is None or isinstance(value, bool):
            return None
        if pa.types.is_decimal(t):
            # decimal zone maps (single- AND two-limb) live in the
            # UNSCALED int domain; push only literals exactly
            # representable at the column's scale (a 28-digit default
            # Decimal context would round, so widen it).
            import decimal as _dec

            if not isinstance(value, _dec.Decimal):
                return None
            with _dec.localcontext() as ctx:
                ctx.prec = 60
                scaled = value.scaleb(t.scale)
                if scaled != scaled.to_integral_value():
                    return None
                return int(scaled)
        if isinstance(value, str):
            return value if (pa.types.is_string(t)
                             or pa.types.is_large_string(t)) else None
        if isinstance(value, (bytes, bytearray)):
            return bytes(value) if (pa.types.is_binary(t)
                                    or pa.types.is_large_binary(t)) else None
        if isinstance(value, int):
            return value if pa.types.is_integer(t) else None
        if isinstance(value, datetime.datetime) and pa.types.is_timestamp(t):
            if value.tzinfo is None:
                value = value.replace(tzinfo=datetime.timezone.utc)
            us = (value - datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc)) \
                // datetime.timedelta(microseconds=1)
            scale = {"s": -1_000_000, "ms": -1_000, "us": 1, "ns": 1_000}
            k = scale.get(t.unit)
            if k is None:
                return None
            if k > 0:
                return us * k
            if us % (-k):
                return None  # not exactly representable in storage unit
            return us // (-k)
        if isinstance(value, datetime.date) \
                and not isinstance(value, datetime.datetime) \
                and pa.types.is_date32(t):
            return (value - datetime.date(1970, 1, 1)).days
        return None

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        from pyspark.sql.datasource import StringStartsWith

        from pyspark.sql.datasource import IsNotNull, IsNull

        for f in filters:
            if len(getattr(f, "attribute", ())) != 1:
                continue
            col = f.attribute[0]
            if isinstance(f, (IsNull, IsNotNull)):
                # any written column qualifies (null counts are tracked
                # for every column, typed or not); prunes files whose
                # manifest says 0 nulls / all nulls
                if col in set(self._names):
                    self._predicate.append(
                        (col, "isnull" if isinstance(f, IsNull)
                         else "notnull", None))
                continue
            if isinstance(f, In):
                vals = [self._storage_value(col, v) for v in f.value]
                if vals and all(v is not None for v in vals):
                    self._predicate.append((col, "in", tuple(vals)))
                continue
            if isinstance(f, StringStartsWith):
                # prefix p -> the range [p, increment(p)): every string
                # with prefix p sorts inside it (bytewise == UTF-8
                # codepoint order), so two range conjuncts prune exactly
                # like parquet does for startswith.
                from .column import prefix_upper

                p = self._storage_value(col, f.value)
                if isinstance(p, str) and p:
                    self._predicate.append((col, ">=", p))
                    up = prefix_upper(p.encode())
                    if up is not None:
                        self._predicate.append((col, "<", up))
                continue
            op = _PUSHABLE.get(type(f))
            if op is None:
                continue
            v = self._storage_value(col, f.value)
            if v is not None:
                self._predicate.append((col, op, v))
        # Block pruning is a conservative superset — every filter is
        # returned unhandled so Spark still applies it exactly.
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        # pushFilters ran before partitions() per the DataSource
        # contract: a file pruned here never becomes an InputPartition.
        # An empty (or fully pruned) read is one empty group — returning
        # [] makes Spark's planning worker call read(None).
        from .decode import plan_groups

        return [ZseqPartGroup(g) for g in plan_groups(
            self._parts, self._predicate, self._min_tasks,
            self._target_bytes)]

    def read(self, partition: ZseqPartGroup):
        from .decode import read_group

        yield from read_group(partition.files, self._names, self._columns,
                              self._predicate or None, self._emit)


class ZseqSourceWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        from pyspark.sql.pandas.types import to_arrow_schema

        from .codecs.bytescodecs import validate_zstd_level
        from .encode import begin

        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("zseq: .save(path) is required")
        lvl = options.get("zstd_level")
        self._zstd = int(lvl) if lvl else None
        validate_zstd_level(self._zstd)
        self._cluster = str(options.get("cluster", "true")).lower() != "false"
        self._batch_rows = int(options.get("batch_rows", 1 << 16))
        self._schema = to_arrow_schema(schema)
        # .mode('append') reaches here as overwrite=False: the append
        # checks run UP FRONT, before any task (the DataSource writer has
        # no reversed_cols option, so a reversed committed dataset fails
        # the schema check — the marker lives in field metadata).
        self._commit = begin(self._dir, append=not overwrite,
                             arrow_schema=self._schema,
                             zstd_level=self._zstd)
        os.makedirs(self._dir, exist_ok=True)

    def write(self, iterator: Iterator) -> ZseqCommit:
        import time

        import pyarrow as pa
        from pyspark import TaskContext

        from .encode import _encode_table_to_file, own_batches

        t0 = time.time()
        batches = own_batches(list(iterator))
        if not batches:
            return ZseqCommit(None)
        c = self._commit
        pid = TaskContext.get().partitionId() + c.part_base
        tbl = pa.Table.from_batches(batches).combine_chunks()
        row = _encode_table_to_file(
            tbl, self._dir, pid, self._schema, self._cluster,
            self._batch_rows, t0, self._zstd,
            fname=f"part-{c.token}-{pid:05d}.zseq")
        return ZseqCommit(row)

    def commit(self, messages) -> None:
        parts = [m.part for m in messages if m is not None and m.part]
        parts.sort(key=lambda p: p["part_id"])
        self._commit.publish(parts, mode="datasource",
                             arrow_schema=self._schema,
                             zstd_level=self._zstd)

    def abort(self, messages) -> None:
        self._commit.abort()


class ZseqStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: ``df.writeStream.format("zseq").start(path)``,
    the one writer of the epoch layout described in zseq.streaming
    (epoch-<id>/ part files + manifest). Tasks stage their encoded part
    under .staging/ (they do not know the batch id), and commit(batchId)
    moves the staged files into the epoch directory and commits its
    manifest through ``encode.Commit`` — a replayed epoch that already
    committed is a no-op (exactly-once), abort removes the staged files.

    CAVEAT (same semantics as Spark's built-in file sink, whose
    _spark_metadata log lives in the output dir): the epoch manifests in
    the OUTPUT directory are the commit log. Starting a NEW query (fresh
    checkpoint) against a directory that already holds epochs treats
    those epoch ids as committed and silently skips the colliding batch
    ids — restart-replay exactly-once depends on this, so it cannot be
    distinguished from a collision. Use a fresh output directory per
    logical stream, or `python -m zseq compact` the old one first.
    """

    def __init__(self, options: dict, schema: StructType):
        import uuid

        from pyspark.sql.pandas.types import to_arrow_schema

        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("zseq: .start(path) is required")
        from .codecs.bytescodecs import validate_zstd_level

        lvl = options.get("zstd_level")
        self._zstd = int(lvl) if lvl else None
        validate_zstd_level(self._zstd)
        self._cluster = str(options.get("cluster", "true")).lower() != "false"
        self._batch_rows = int(options.get("batch_rows", 1 << 16))
        self._schema = to_arrow_schema(schema)
        # Query-unique staging token: two concurrent streaming queries
        # writing the same path must never GC each other's staged parts
        # (a shared .staging sweep would make the victim's os.replace at
        # commit fail and abort its micro-batch).
        self._token = uuid.uuid4().hex[:8]
        self._staging = os.path.join(self._dir, ".staging")
        os.makedirs(self._staging, exist_ok=True)

    def write(self, iterator: Iterator) -> ZseqCommit:
        import time

        import pyarrow as pa
        from pyspark import TaskContext

        from .encode import _encode_table_to_file, own_batches

        t0 = time.time()
        batches = own_batches(list(iterator))
        if not batches:
            return ZseqCommit(None)
        # Task attempt id is unique across retries within the query run —
        # the staged name can never collide; commit renumbers.
        aid = int(TaskContext.get().taskAttemptId())
        tbl = pa.Table.from_batches(batches).combine_chunks()
        row = _encode_table_to_file(
            tbl, self._staging, aid, self._schema, self._cluster,
            self._batch_rows, t0, self._zstd,
            fname=f"part-{self._token}-{aid:05d}.zseq")
        return ZseqCommit(row)

    def commit(self, messages, batchId: int) -> None:
        from .encode import begin, build_manifest
        from .streaming import epoch_dir

        parts = [m.part for m in messages if m is not None and m.part]
        parts.sort(key=lambda p: p["part_id"])
        dest = epoch_dir(self._dir, batchId)
        c = begin(dest)
        if c.prev is not None:
            # replayed epoch: already committed — drop the staged files
            for p in parts:
                try:
                    os.remove(os.path.join(self._staging, p["file"]))
                except OSError:
                    pass
            self._gc_staging()
            return
        os.makedirs(dest, exist_ok=True)
        for i, p in enumerate(parts):
            new = f"part-{i:05d}.zseq"
            os.replace(os.path.join(self._staging, p["file"]),
                       os.path.join(dest, new))
            p["file"] = new
            p["part_id"] = i
        self._gc_staging()
        c.finish(build_manifest(
            mode="stream", partitions=len(parts),
            arrow_schema=self._schema, parts=parts, zstd_level=self._zstd,
            extra={"epoch": int(batchId), "revision": c.revision}))

    def _gc_staging(self) -> None:
        """Remove staged leftovers from THIS QUERY's dead/superseded task
        attempts — only files carrying our query token. Safe at commit
        time: our epoch's surviving files were just moved out, every
        other token-matched file belongs to an attempt whose commit
        message never arrived, and a still-running zombie writes
        tmp-then-rename, so at worst its orphan reappears and the NEXT
        commit collects it. A concurrent query's staged parts (different
        token) are never touched."""
        try:
            names = os.listdir(self._staging)
        except OSError:
            return
        prefix = f"part-{self._token}-"
        for f in names:
            if f.startswith(prefix) and ".zseq" in f:
                try:
                    os.remove(os.path.join(self._staging, f))
                except OSError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is not None and m.part:
                try:
                    os.remove(os.path.join(self._staging, m.part["file"]))
                except OSError:
                    pass


class ZseqStreamReader(DataSourceStreamReader):
    """Streaming source: ``spark.readStream.format("zseq").load(path)``
    tails the committed epochs under ``path`` (the layout the zseq
    stream sink produces).

    Offset = count of committed epoch directories consumed. An epoch's
    manifest write is atomic, so an epoch is either fully visible or
    invisible — the offset can never split an epoch. Each micro-batch
    reads the newly committed epochs' part files through the batch read
    path (packed groups, crc-verified, header schema checked against the
    first epoch's)."""

    def __init__(self, options: dict):
        from .encode import read_manifest
        from .streaming import committed_epochs

        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("zseq: .load(path) is required")
        cols = options.get("columns")
        # schema() applies this projection — the yielded batches must too
        self._columns = ([c.strip() for c in cols.split(",") if c.strip()]
                         if cols else None)
        eps = committed_epochs(self._dir)
        m = read_manifest(eps[0]) if eps else None
        self._names = list(m["schema_names"]) if m else None
        self._min_tasks = _parallelism()

    def initialOffset(self) -> dict:
        return {"epochs": 0}

    def latestOffset(self) -> dict:
        from .streaming import committed_epochs

        return {"epochs": len(committed_epochs(self._dir))}

    def partitions(self, start: dict, end: dict):
        from .decode import part_entries, plan_groups
        from .encode import read_manifest
        from .streaming import committed_epochs

        entries = []
        for d in committed_epochs(self._dir)[start["epochs"]:end["epochs"]]:
            m = read_manifest(d)
            if m is not None:
                entries += part_entries(d, m)
        # an epoch can be empty (empty micro-batch): one empty group
        # still advances the offset
        return [ZseqPartGroup(g)
                for g in plan_groups(entries, None, self._min_tasks)]

    def read(self, partition: ZseqPartGroup):
        from .decode import read_group

        yield from read_group(partition.files, self._names, self._columns,
                              None, None)

    def commit(self, end: dict) -> None:
        pass
