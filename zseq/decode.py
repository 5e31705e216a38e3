"""Distributed decode job: .zseq blobs -> DataFrame.

The Spark rebuild of the reference's read path (EP2 in SURVEY.md §3:
header parse -> block read -> decompress -> unshred). One read path
serves ``decode``, ``streaming.decode_stream`` and the ``zseq``
DataSource (batch and stream):

- driver: manifest(s) + predicate -> file pruning -> groups of (path,
  crc32) cut at byte quantiles, one task each, in one wave
  (``plan_groups``), and the reader schema resolved against the written
  one (``read_plan``);
- worker: each group's files are opened and read directly, crc-checked,
  schema-checked and decoded — strict about magic, block framing,
  per-segment byte consumption and the trailing row count — then evolved
  to the reader schema (``read_group``).

``decode`` runs one task per group through ``session.run_tasks``: one
leaf node and a task list built only in the JVM.
"""

from __future__ import annotations

import bisect
import itertools
import os

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from . import encode as zenc
from . import zseqfile


def spark_normalized(schema: pa.Schema) -> pa.Schema:
    """A schema as Spark's type system sees it (large_string -> string,
    etc.). Reader schemas always arrive through Spark types, so
    evolution comparisons happen in this normalized domain — otherwise a
    dataset written via the parquet fast path with e.g. large_string
    columns (never round-trippable through StructType) would refuse
    every Spark read. Falls back to the input when Spark cannot express
    a type at all (such a dataset is not Spark-readable anyway)."""
    try:
        from pyspark.sql.pandas.types import (from_arrow_schema,
                                              to_arrow_schema)

        return to_arrow_schema(from_arrow_schema(schema))
    except Exception:
        return schema


def evolution_fields(written: pa.Schema, reader: pa.Schema,
                     allow_subset: bool = False) -> list[pa.Field]:
    """Validate a reader schema against the written one for read-side
    schema evolution (the reference's serde-default evolution,
    docs/schema.md:299-459): the reader may ADD nullable columns (filled
    with L6 defaults on read) but may not change a written column's type
    or — unless ``allow_subset`` (the DataSource's projection path) —
    drop one (projection is ``columns=``, not a narrower schema).
    Returns the new fields in reader order."""
    new: list[pa.Field] = []
    written_names = set(written.names)
    written_lower = {n.lower() for n in written.names}
    seen_lower: set[str] = set()
    for f in reader:
        if f.name.lower() in seen_lower:
            raise ValueError(
                f"schema evolution: reader schema has duplicate column "
                f"{f.name!r} (case-insensitive) — Spark resolves names "
                "case-insensitively, so this is ambiguous")
        seen_lower.add(f.name.lower())
        if f.name in written_names:
            wt = written.field(f.name).type
            if not f.type.equals(wt):
                raise ValueError(
                    f"schema evolution: column {f.name!r} type "
                    f"{f.type} != written {wt} — type changes are not "
                    "supported (decode, then cast)")
        else:
            if f.name.lower() in written_lower:
                # Spark's default resolution is case-INsensitive: a
                # withColumn('N_tok', default) would silently REPLACE
                # the written n_tok data — refuse instead
                raise ValueError(
                    f"schema evolution: new column {f.name!r} differs "
                    "only in case from a written column — Spark would "
                    "resolve them to the same column and overwrite the "
                    "written data with the default")
            if not f.nullable:
                raise ValueError(
                    f"schema evolution: new column {f.name!r} must be "
                    "nullable — the written rows have no value for it "
                    "beyond the schema default")
            new.append(f)
    missing = written_names - set(reader.names)
    if missing and not allow_subset:
        raise ValueError(
            f"schema evolution: reader schema drops written column(s) "
            f"{sorted(missing)} — narrowing is not evolution; project "
            "with columns=[...] instead")
    return new


def _arrow_default(t: pa.DataType):
    """L6 defaults (the reference's default_for_schema, logical.rs:355-391)
    in the Arrow type domain: ints 0, floats 0.0, string '', binary b'',
    bool false, list [] — None (null) for types with no zero-value
    (struct/map/decimal/temporal)."""
    if pa.types.is_integer(t):
        return 0
    if pa.types.is_floating(t):
        return 0.0
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return ""
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return b""
    if pa.types.is_boolean(t):
        return False
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return []
    return None


def default_array(t: pa.DataType, n: int) -> pa.Array:
    """n copies of the L6 default as an Arrow array."""
    d = _arrow_default(t)
    if d is None:
        return pa.nulls(n, t)
    return pa.repeat(pa.scalar(d, type=t), n)


def evolve_batch(batch: pa.RecordBatch,
                 reader_schema: pa.Schema) -> pa.RecordBatch:
    """Reorder a decoded batch to the reader schema, synthesizing the
    new columns as L6-default constants."""
    present = {name: batch.column(i)
               for i, name in enumerate(batch.schema.names)}

    def col(f: pa.Field):
        if f.name not in present:
            return default_array(f.type, batch.num_rows)
        a = present[f.name]
        # written types that Spark normalizes (large_string -> string)
        # must match the declared reader schema exactly
        return a if a.type.equals(f.type) else a.cast(f.type)

    return pa.RecordBatch.from_arrays([col(f) for f in reader_schema],
                                      schema=reader_schema)


def manifest_schema(m: dict) -> pa.Schema:
    """The committed Arrow schema of a manifest (hex-serialized IPC)."""
    return pa.ipc.read_schema(pa.py_buffer(bytes.fromhex(m["schema"])))


def read_plan(written: pa.Schema, reader=None,
              columns: list[str] | None = None,
              allow_subset: bool = False):
    """Resolve a read against the written schema -> (read_cols, emit,
    out), shared by ``decode``, ``decode_stream`` and the DataSource.

    ``reader`` (pyarrow.Schema or Spark StructType, None = the written
    schema) is validated by ``evolution_fields``; ``columns`` projects
    it. ``read_cols`` are the columns decoded from every file (None =
    all); when every requested column is new, ONE written column is
    still read so the row count is real. ``emit`` is the Arrow schema
    each decoded batch is evolved to (None = the decoded batches already
    match); ``out`` is the Arrow schema of the result."""
    if reader is None:
        if columns is not None:
            missing = set(columns) - set(written.names)
            if missing:
                raise KeyError(f"zseq: unknown columns {sorted(missing)}")
            written = pa.schema([f for f in written if f.name in columns])
        return columns, None, written
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(reader, T.StructType):
        reader = to_arrow_schema(reader)
    elif not isinstance(reader, pa.Schema):
        raise TypeError(
            f"decode schema must be a pyarrow.Schema or Spark "
            f"StructType, got {type(reader).__name__}")
    new = {f.name for f in evolution_fields(
        spark_normalized(written), spark_normalized(reader), allow_subset)}
    if columns is not None:
        missing = set(columns) - set(reader.names)
        if missing:
            raise KeyError(f"zseq: unknown columns {sorted(missing)}")
        reader = pa.schema([reader.field(c) for c in columns])
    read_cols = [n for n in reader.names if n not in new]
    if read_cols and not new \
            and read_cols == [n for n in written.names if n in read_cols]:
        # a projection in written order: no per-batch rebuild
        return (None if read_cols == written.names else read_cols,
                None, reader)
    return read_cols or [written.names[0]], reader, reader


TARGET_BYTES = 128 << 20


def part_entries(d: str, m: dict) -> list[tuple]:
    """(path, crc32, size, prune stats, prune rule) per part of the
    manifest ``m`` of directory ``d``. The size is the manifest's
    enc_bytes, else the file size on disk (a manifest without enc_bytes
    would otherwise weigh every part 0 and pack the read into one
    task), else 0. The prune rule is the manifest's kwargs to
    ``zseqfile.prune_parts`` — one object per manifest."""
    pcol = m.get("partition_col")
    rule = {"mode": m.get("mode"), "partition_col": pcol,
            "partitions": m.get("partitions"), "key_type": None}
    if pcol and pcol in m.get("schema_names", ()):
        rule["key_type"] = manifest_schema(m).field(pcol).type

    def size(path: str, p: dict) -> int:
        n = int(p.get("enc_bytes", 0))
        if n > 0:
            return n
        try:
            return os.path.getsize(path)
        except OSError:
            return 0

    out = []
    for p in m.get("parts", []):
        path = os.path.join(d, p["file"])
        stats = {k: p.get(k) for k in ("zones", "part_id", "rows")}
        out.append((path, p.get("crc32"), size(path, p), stats, rule))
    return out


def plan_groups(entries: list[tuple], predicate,
                min_tasks: int) -> list[tuple]:
    """The driver-side read plan: ``part_entries`` -> file pruning ->
    groups of (path, crc32) that run in one wave.

    FILE pruning (zone envelopes, null counts, hash-bucket pinning) runs
    once per manifest through ``zseqfile.prune_parts``; a pruned file
    never reaches a task. It is a conservative superset: callers still
    filter rows exactly. The kept files, in order, are cut into exactly
    min(files, max(``min_tasks``, total / ``TARGET_BYTES``)) contiguous
    groups at the byte quantiles of their prefix sums, so a small read
    fans out to every core and near-equal files never spill into an
    extra wave; with no size information at all every file weighs the
    same. Never empty: an empty read is one empty group."""
    if predicate:
        kept = []
        for _, run in itertools.groupby(entries, key=lambda e: id(e[4])):
            run = list(run)
            keep = {id(s) for s in zseqfile.prune_parts(
                [e[3] for e in run], predicate, **run[0][4])}
            kept += [e for e in run if id(e[3]) in keep]
        entries = kept
    if not entries:
        return [()]
    n = len(entries)
    sizes = [e[2] for e in entries]
    total = sum(sizes)
    k = min(n, max(min_tasks, 1, -(-total // max(1, TARGET_BYTES))))
    if total == 0:
        sizes, total = [1] * n, n
    prefix = list(itertools.accumulate(sizes, initial=0))
    cuts = [0]
    for j in range(1, k):
        # the file boundary nearest the j-th quantile j*total/k, leaving
        # every group at least one file
        i = bisect.bisect_left(prefix, -(-j * total // k))
        if i > 0 and j * total - prefix[i - 1] * k < prefix[i] * k - j * total:
            i -= 1
        cuts.append(min(max(i, cuts[-1] + 1), n - (k - j)))
    cuts.append(n)
    return [tuple(e[:2] for e in entries[a:b])
            for a, b in zip(cuts, cuts[1:])]


def read_group(files, names: list[str] | None,
               columns: list[str] | None, predicate,
               emit: pa.Schema | None):
    """The one read kernel, run in the worker: for each (path, crc32)
    open and read the file, enforce the manifest crc, check the header
    schema against ``names``, decode the projected/zone-pruned blocks
    and evolve them to ``emit`` (see ``read_plan``)."""
    for path, crc in files:
        with open(path, "rb") as f:
            content = f.read()
        zseqfile.check_crc(content, crc, path)
        r = zseqfile.ZseqReader(content)
        if names is not None and list(r.schema.names) != list(names):
            raise ValueError(
                f"{path}: schema {r.schema.names} != manifest {names}")
        for b in r.batches(columns, predicate):
            yield b if emit is None else evolve_batch(b, emit)


def read_parts(spark: SparkSession, entries: list[tuple],
               written: pa.Schema, columns: list[str] | None = None,
               predicate: list[tuple] | None = None,
               schema=None) -> DataFrame:
    """``part_entries`` of one or more manifests -> DataFrame: one task
    per group (``session.run_tasks``), whatever the number of files or
    directories."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from .session import run_tasks

    read_cols, emit, out = read_plan(written, schema, columns)
    groups = plan_groups(entries, predicate,
                         spark.sparkContext.defaultParallelism)
    names = written.names

    def task(files):
        return read_group(files, names, read_cols, predicate, emit)

    return run_tasks(spark, groups, task, from_arrow_schema(out))


def decode(spark: SparkSession, out_dir: str,
            allow_partial: bool = False,
            columns: list[str] | None = None,
            predicate: list[tuple] | None = None,
            schema=None, revision: int | None = None) -> DataFrame:
    """Read an encoded dataset back as a DataFrame.

    ``columns`` -> projection pushdown into the blob reader (unrequested
    columns are seeked past, never decompressed). ``predicate`` -> a
    conjunction of (col, op, value) pruned against the manifest's
    per-part zone envelopes (whole files skipped on the driver) and
    per-block zone maps (int storage values for int-kind columns,
    str/bytes for binary columns); surviving blocks may still hold
    non-matching rows, so compose with a normal ``.filter`` for exact
    semantics.

    ``schema`` -> read-side schema EVOLUTION (pyarrow.Schema or Spark
    StructType): a superset of the written schema whose new nullable
    columns are filled with L6 defaults (ints 0, strings '', arrays [],
    null for types without a zero-value) — the reference's serde-default
    evolution (docs/schema.md:299-459) for long-lived datasets that grew
    columns. Type changes and dropped columns are refused (project with
    ``columns``; cast after decode).

    ``revision`` -> TIME TRAVEL: read the dataset as of that manifest
    revision (``zseq.revisions(out_dir)`` lists retained ones). Append
    and compaction retain superseded snapshots — reading revision N-1
    after an append returns exactly the pre-append rows; vacuum()
    expires aged snapshots and an overwrite resets history.

    ``allow_partial`` -> with no committed manifest, read every
    ``*.zseq`` file in ``out_dir`` (no crc to check against); the schema
    comes from the first file's header."""
    from .session import ship_package

    ship_package(spark)
    m = zenc.read_manifest(out_dir, revision=revision)
    if m is None and schema is not None:
        raise FileNotFoundError(
            f"{out_dir}/manifest.json missing — schema evolution needs "
            "the committed schema to validate against"
            + (" (allow_partial reads cannot evolve)"
               if allow_partial else ""))
    if m is None and not allow_partial:
        raise FileNotFoundError(
            f"{out_dir}/manifest.json missing — encode did not commit "
            "(pass allow_partial=True to read surviving part files)"
        )
    if m is None:
        files = sorted(f for f in os.listdir(out_dir)
                       if f.endswith(".zseq"))
        if not files:
            raise FileNotFoundError(f"no .zseq files in {out_dir}")
        with open(os.path.join(out_dir, files[0]), "rb") as f:
            written = zseqfile.ZseqReader(f.read()).schema
        m = {"parts": [{"file": f} for f in files]}
    else:
        written = manifest_schema(m)
    # A committed read follows EXACTLY the manifest's part list — never
    # a glob. Stray .zseq files (orphans of a crashed overwrite/epoch
    # commit, or a concurrent writer's staged output) must not leak rows
    # into a committed dataset.
    return read_parts(spark, part_entries(out_dir, m), written, columns,
                      predicate, schema)
