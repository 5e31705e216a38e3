"""Read-side schema evolution: a reader schema that is a superset of
the written one gets its new nullable columns filled with L6 defaults
(the reference's serde-default evolution, docs/schema.md:299-459) —
via decode(schema=...) and the DataSource's .schema(...). Narrowing
and type changes are refused."""

import os

import pyarrow as pa
import pytest

from pyspark.sql import types as T

from zseq import decode as zdec
from zseq import encode as zenc
from zseq import synth

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures")


# The L6 default table (the reference's default_for_schema,
# logical.rs:355-391): the value a new nullable column is filled with.
L6_DEFAULTS = [
    *[(t, 0) for t in (pa.int8(), pa.int16(), pa.int32(), pa.int64(),
                       pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64())],
    (pa.float32(), 0.0), (pa.float64(), 0.0),
    (pa.string(), ""), (pa.large_string(), ""),
    (pa.binary(), b""), (pa.large_binary(), b""),
    (pa.bool_(), False),
    (pa.list_(pa.int32()), []), (pa.large_list(pa.string()), []),
    # no zero-value: null
    (pa.struct([("a", pa.int64())]), None),
    (pa.map_(pa.string(), pa.int64()), None),
    (pa.decimal128(10, 2), None),
    (pa.timestamp("us"), None),
]


@pytest.mark.parametrize("t,want", [pytest.param(t, w, id=str(t))
                                    for t, w in L6_DEFAULTS])
def test_l6_default_per_type_family(t, want):
    assert zdec._arrow_default(t) == want
    arr = zdec.default_array(t, 3)
    assert arr.type == t
    assert arr.to_pylist() == [want] * 3
    assert arr.null_count == (3 if want is None else 0)


@pytest.fixture(scope="module")
def ds(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("evo") / "ds")
    df = synth.tokens_df_range(spark, 200, partitions=2)
    zenc.encode(df, out, partitions=2)
    return out, df


def _ext_arrow(written: pa.Schema) -> pa.Schema:
    return pa.schema(
        list(written)
        + [pa.field("quality", pa.int64(), nullable=True),
           pa.field("lang", pa.string(), nullable=True)])


def _written_arrow(out: str) -> pa.Schema:
    m = zenc.read_manifest(out)
    return pa.ipc.read_schema(pa.py_buffer(bytes.fromhex(m["schema"])))


def test_decode_with_extended_arrow_schema(spark, ds):
    out, df = ds
    ext = _ext_arrow(_written_arrow(out))
    back = zdec.decode(spark, out, schema=ext)
    assert back.columns == list(ext.names)
    rows = back.collect()
    assert len(rows) == 200
    # L6 defaults: int -> 0, string -> '' (not null)
    assert all(r["quality"] == 0 and r["lang"] == "" for r in rows)
    # written columns unchanged
    assert sorted(r.doc_id for r in rows) \
        == sorted(r.doc_id for r in df.collect())


def test_decode_with_extended_struct_type(spark, ds):
    out, _ = ds
    base = zdec.decode(spark, out).schema
    ext = T.StructType(
        base.fields
        + [T.StructField("extra_ts", T.TimestampType(), True),
           T.StructField("tags", T.ArrayType(T.StringType()), True)])
    rows = zdec.decode(spark, out, schema=ext).collect()
    assert len(rows) == 200
    # no zero-value for timestamp -> null; array -> []
    assert all(r["extra_ts"] is None and r["tags"] == [] for r in rows)


def test_evolution_refusals(spark, ds):
    out, _ = ds
    written = _written_arrow(out)
    # type change
    changed = pa.schema([
        pa.field(f.name, pa.string()) if f.name == "n_tok" else f
        for f in written])
    with pytest.raises(ValueError, match="type"):
        zdec.decode(spark, out, schema=changed)
    # narrowing (dropped column)
    narrowed = pa.schema([f for f in written if f.name != "source"])
    with pytest.raises(ValueError, match="narrowing"):
        zdec.decode(spark, out, schema=narrowed)
    # non-nullable new column
    bad = pa.schema(list(written)
                    + [pa.field("must", pa.int64(), nullable=False)])
    with pytest.raises(ValueError, match="nullable"):
        zdec.decode(spark, out, schema=bad)


def test_evolution_with_columns_projection(spark, ds):
    out, _ = ds
    ext = _ext_arrow(_written_arrow(out))
    back = zdec.decode(spark, out, schema=ext,
                       columns=["doc_id", "lang"])
    assert back.columns == ["doc_id", "lang"]
    rows = back.collect()
    assert len(rows) == 200 and all(r["lang"] == "" for r in rows)
    # columns consisting ONLY of new fields still counts real rows
    only_new = zdec.decode(spark, out, schema=ext, columns=["quality"])
    assert only_new.columns == ["quality"]
    assert only_new.count() == 200


def test_datasource_schema_evolution(spark, ds):
    from zseq.datasource import register

    register(spark)
    out, _ = ds
    base = zdec.decode(spark, out).schema
    ext = T.StructType(
        base.fields
        + [T.StructField("quality", T.LongType(), True),
           T.StructField("lang", T.StringType(), True)])
    back = spark.read.format("zseq").schema(ext).load(out)
    assert back.columns == [f.name for f in ext.fields]
    rows = back.collect()
    assert len(rows) == 200
    assert all(r["quality"] == 0 and r["lang"] == "" for r in rows)
    # filtering on an evolved column composes (post-scan filter)
    assert back.filter("quality = 0").count() == 200
    assert back.filter("quality > 0").count() == 0


def test_datasource_subset_schema_is_projection(spark, ds):
    from zseq.datasource import register

    register(spark)
    out, _ = ds
    sub = T.StructType([T.StructField("doc_id", T.StringType(), True),
                        T.StructField("n_tok", T.IntegerType(), True)])
    back = spark.read.format("zseq").schema(sub).load(out)
    assert back.columns == ["doc_id", "n_tok"]
    assert back.count() == 200


def test_datasource_reordered_schema(spark, ds):
    from zseq.datasource import register

    register(spark)
    out, _ = ds
    base = zdec.decode(spark, out).schema
    rev = T.StructType(list(reversed(base.fields)))
    back = spark.read.format("zseq").schema(rev).load(out)
    assert back.columns == [f.name for f in rev.fields]
    assert back.count() == 200


def test_datasource_evolution_refuses_type_change(spark, ds):
    from zseq.datasource import register

    register(spark)
    out, _ = ds
    bad = T.StructType([T.StructField("doc_id", T.LongType(), True)])
    with pytest.raises(Exception, match="type"):
        spark.read.format("zseq").schema(bad).load(out).collect()


# ---------------------------------------------------------------------------
# Cross-revision: a CHECKED-IN format-00001 dataset (pre-zone-map magic)
# must stay readable by every future revision — including through
# schema evolution. The fixture is bytes on disk, not synthesized by
# the code under test, so a format change that breaks old files fails
# here even if encode+decode stay self-consistent.
# ---------------------------------------------------------------------------

def test_checked_in_rev00001_dataset_reads(spark):
    fix = os.path.join(FIXDIR, "rev00001_ds")
    back = zdec.decode(spark, fix)
    rows = back.collect()
    assert len(rows) == 64
    expect = synth.tokens_table_arrow(64)
    got = sorted((r.doc_id, tuple(r.tokens), r.n_tok, r.source)
                 for r in rows)
    want = sorted(zip(expect.column("doc_id").to_pylist(),
                      map(tuple, expect.column("tokens").to_pylist()),
                      expect.column("n_tok").to_pylist(),
                      expect.column("source").to_pylist()))
    assert got == want


def test_checked_in_rev00001_evolves(spark):
    fix = os.path.join(FIXDIR, "rev00001_ds")
    written = _written_arrow(fix)
    ext = _ext_arrow(written)
    rows = zdec.decode(spark, fix, schema=ext).collect()
    assert len(rows) == 64
    assert all(r["quality"] == 0 and r["lang"] == "" for r in rows)


# ---------------------------------------------------------------------------
# Review-pass regressions
# ---------------------------------------------------------------------------

def _kernel_dataset(tmp_path, tbl: pa.Table) -> str:
    """Commit a dataset whose schema comes straight from Arrow (the
    parquet-fast-path shape) — types need not round-trip through
    Spark's StructType."""
    import json
    import zlib

    from zseq import zseqfile
    from zseq.encode import build_manifest

    out = str(tmp_path / "kds")
    os.makedirs(out)
    blob = zseqfile.encode_table(tbl)
    with open(os.path.join(out, "part-00000.zseq"), "wb") as f:
        f.write(blob)
    part = {"part_id": 0, "file": "part-00000.zseq", "rows": tbl.num_rows,
            "list_elems": 0, "raw_bytes": tbl.nbytes,
            "enc_bytes": len(blob), "wall_sec": 0.0, "codecs": "{}",
            "col_bytes": "{}", "crc32": zlib.crc32(blob) & 0xFFFFFFFF}
    m = build_manifest(mode="preserve", partitions=1,
                       arrow_schema=tbl.schema, parts=[part])
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f)
    return out


def test_non_roundtrippable_written_types_still_read(spark, tmp_path):
    """A dataset with large_string columns (Spark normalizes them to
    string, so written != to_arrow(from_arrow(written))) must keep
    reading through the DataSource — the evolution validation compares
    in the Spark-normalized domain, not raw Arrow."""
    from zseq.datasource import register

    register(spark)
    tbl = pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "t": pa.array(["a", "bb", "ccc"], pa.large_string()),
    })
    out = _kernel_dataset(tmp_path, tbl)
    back = spark.read.format("zseq").load(out)
    assert sorted((r.id, r.t) for r in back.collect()) \
        == [(1, "a"), (2, "bb"), (3, "ccc")]
    # and evolution over it works too (reorder forces the rebuild path)
    ext = T.StructType([
        T.StructField("t", T.StringType(), True),
        T.StructField("id", T.LongType(), True),
        T.StructField("extra", T.LongType(), True)])
    rows = spark.read.format("zseq").schema(ext).load(out).collect()
    assert sorted((r.id, r.t, r.extra) for r in rows) \
        == [(1, "a", 0), (2, "bb", 0), (3, "ccc", 0)]


def test_case_colliding_new_column_refused(spark, ds):
    """Spark resolves names case-insensitively: a 'new' column that
    differs from a written one only in case would silently overwrite
    the written data via withColumn — must be refused."""
    out, _ = ds
    written = _written_arrow(out)
    bad = pa.schema(list(written)
                    + [pa.field("N_tok", pa.int64(), nullable=True)])
    with pytest.raises(ValueError, match="case"):
        zdec.decode(spark, out, schema=bad)


def test_empty_dataset_overwrite_keeps_revision_monotone(spark, tmp_path):
    """A committed EMPTY dataset is still revision >= 1; overwriting it
    must bump, not reset, the counter the append CAS relies on."""
    from zseq.datasource import register

    register(spark)
    out = str(tmp_path / "eds")
    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    empty.write.format("zseq").mode("overwrite").save(out)
    m1 = zenc.read_manifest(out)
    assert m1["parts"] == [] and m1["revision"] == 1
    empty.write.format("zseq").mode("overwrite").save(out)
    m2 = zenc.read_manifest(out)
    assert m2["revision"] == 2


def test_evolution_composes_with_predicate_pushdown(spark, ds):
    """decode(schema=ext, predicate=...) prunes on WRITTEN columns
    exactly as a non-evolved read would, and still fills the new
    columns; a predicate naming a NEW column is an advisory no-op
    (new columns have no zone maps) that composes with .filter."""
    out, df = ds
    ext = _ext_arrow(_written_arrow(out))
    hi = df.agg({"n_tok": "max"}).collect()[0][0]

    pruned = zdec.decode(spark, out, schema=ext,
                         predicate=[("n_tok", "=", hi)])
    exact = pruned.filter(f"n_tok = {hi}")
    want = df.filter(f"n_tok = {hi}").count()
    assert want >= 1
    assert exact.count() == want
    r = exact.limit(1).collect()[0]
    assert r["quality"] == 0 and r["lang"] == ""
    # the pruned frame is a superset of the exact rows, never a loss
    assert pruned.count() >= want

    # predicate on the evolved column: no zone maps exist for it, so
    # nothing prunes and nothing breaks
    noop = zdec.decode(spark, out, schema=ext,
                       predicate=[("quality", ">=", 0)])
    assert noop.count() == df.count()
