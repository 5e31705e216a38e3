"""Driver-contract queries: every operator exposed as a (Spark query,
DuckDB oracle SQL) pair over the shared test parquet tables.

The correctness scheme: the Spark side runs data through the *actual codec
machinery* (encode -> decode inside mapInArrow, or the full distributed
encode/decode job) and returns the decoded values; the DuckDB oracle
computes the same projection directly from the source tables. Because the
engine's contract is bit-identical roundtrip (reference
zbra-core/tests/roundtrip.rs:16-22), a correct engine makes both sides
hash-equal; any codec bug breaks the hash.

Column names and types are aligned on both sides (BIGINT/DOUBLE/VARCHAR)
because the driver hashes values after sorting columns by name.
"""

from __future__ import annotations

import os
import tempfile


def _tmp_out(prefix: str) -> str:
    """Per-run scratch dir for encoded copies the returned DataFrame
    still needs lazily — removed at interpreter exit (seven of these per
    correctness run would otherwise accumulate in /tmp forever)."""
    import atexit
    import shutil

    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from . import synth
from .codecs import bytescodecs as BC
from .codecs import intcodecs as IC

# ---------------------------------------------------------------------------
# Checksum projections (shared shape between Spark and DuckDB)
# ---------------------------------------------------------------------------

_SPARK_CHECKSUMS = (
    "cast(n_tok as bigint) as n_tok",
    "source",
    "cast(aggregate(tokens, 0L, (a, x) -> a + x) as bigint) as tok_sum",
    "cast(array_min(tokens) as bigint) as tok_min",
    "cast(array_max(tokens) as bigint) as tok_max",
    "cast(element_at(tokens, 1) as bigint) as tok_first",
    "cast(element_at(tokens, -1) as bigint) as tok_last",
)

_DUCK_CHECKSUMS = (
    "cast(n_tok as bigint) as n_tok",
    "source",
    "cast(list_sum(tokens) as bigint) as tok_sum",
    "cast(list_min(tokens) as bigint) as tok_min",
    "cast(list_max(tokens) as bigint) as tok_max",
    "cast(tokens[1] as bigint) as tok_first",
    "cast(tokens[-1] as bigint) as tok_last",
)


def _duck_tokens_checksums() -> str:
    return (
        "SELECT doc_id, " + ", ".join(_DUCK_CHECKSUMS)
        + f" FROM ({synth.tokens_duckdb_sql('documents')})"
    )


def q_tokens_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanity: the Spark-side derivation itself matches the oracle."""
    df = synth.tokens_df_from_documents(spark, sf_dir)
    return df.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_roundtrip_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE correctness gate: distributed encode -> .zseq blobs -> decode,
    checksums computed from the DECODED data. Equal to the oracle iff the
    roundtrip is bit-identical (EP3, roundtrip.rs:16-22)."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_rt_")
    zenc.encode(df, out)  # preserve mode: split layout, partitions n/a
    back = zdec.decode(spark, out)
    return back.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_roundtrip_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch append correctness: encode half the corpus, APPEND the
    other half (token-staged parts + revision-CAS manifest rewrite),
    decode the combined dataset. Checksums equal the oracle's full-
    corpus checksums iff append([A]) + append([B]) == A ∪ B exactly —
    same oracle SQL as roundtrip_tokens by construction."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_ap_")
    zenc.encode(df.filter("n_tok % 2 = 0"), out)
    zenc.encode(df.filter("n_tok % 2 != 0"), out, append=True)
    back = zdec.decode(spark, out)
    return back.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_timetravel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: encode the even-n_tok half (revision 1), APPEND the
    odd half (revision 2), then decode AS OF revision 1 — the retained
    snapshot must return exactly the pre-append rows, so the checksums
    equal the oracle's checksums over the even-n_tok half only."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_tt_")
    zenc.encode(df.filter("n_tok % 2 = 0"), out)
    zenc.encode(df.filter("n_tok % 2 != 0"), out, append=True)
    back = zdec.decode(spark, out, revision=1)
    return back.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback: encode the even-n_tok half, APPEND the odd half, then
    ROLL BACK to revision 1 — the LIVE dataset (no revision arg) must
    be exactly the pre-append rows again, so the checksums equal the
    oracle's over the even-n_tok half only."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_rb_")
    zenc.encode(df.filter("n_tok % 2 = 0"), out)
    zenc.encode(df.filter("n_tok % 2 != 0"), out, append=True)
    zenc.rollback(out, 1)
    back = zdec.decode(spark, out)
    return back.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_decode_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side schema evolution: decode a committed dataset through a
    SUPERSET reader schema — the two new nullable columns come back as
    their L6 defaults (int 0, string '') on every row, value-checked
    against an oracle that states those constants explicitly."""
    import pyarrow as pa

    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_ev_")
    zenc.encode(df, out)
    m = zenc.read_manifest(out)
    written = pa.ipc.read_schema(
        pa.py_buffer(bytes.fromhex(m["schema"])))
    ext = pa.schema(list(written)
                    + [pa.field("quality", pa.int64()),
                       pa.field("lang", pa.string())])
    back = zdec.decode(spark, out, schema=ext)
    return back.selectExpr(
        "doc_id", "cast(n_tok as bigint) as n_tok",
        "cast(quality as bigint) as quality", "lang")


_Q_EVOLVED_ORACLE_TMPL = """
SELECT doc_id, cast(n_tok as bigint) as n_tok,
       cast(0 as bigint) as quality, '' as lang
FROM ({inner})
"""


# ---------------------------------------------------------------------------
# Per-codec roundtrip queries: value column -> encode -> decode -> return.
# ---------------------------------------------------------------------------

def _int_roundtrip(table: str, keys: list[str], col: str, codec: int | None,
                   out_name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .session import ship_package

        ship_package(spark)
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet") \
            .selectExpr(*[f"cast({k} as bigint) as {k}" for k in keys],
                        f"cast({col} as bigint) as {out_name}")
        out_schema = ", ".join(
            [f"{k} long" for k in keys] + [f"{out_name} long"]
        )

        def fn(batches):
            for b in batches:
                vals = b.column(len(keys)).to_numpy(zero_copy_only=False)
                vals = np.nan_to_num(vals).astype(np.int64)
                enc = IC.encode_ints(vals, codec=codec)
                dec, _ = IC.decode_ints(enc, 0, vals.size)
                cols = [b.column(i) for i in range(len(keys))]
                cols.append(pa.array(dec, type=pa.int64()))
                yield pa.RecordBatch.from_arrays(
                    cols, names=keys + [out_name])

        return df.mapInArrow(fn, out_schema)

    return q


def _str_roundtrip(table: str, keys: list[str], col: str, codec: int | None,
                   out_name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .session import ship_package

        ship_package(spark)
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet") \
            .selectExpr(*[f"cast({k} as bigint) as {k}" for k in keys],
                        f"cast(coalesce({col}, '') as string) as {out_name}")
        out_schema = ", ".join(
            [f"{k} long" for k in keys] + [f"{out_name} string"]
        )

        def fn(batches):
            for b in batches:
                arr = b.column(len(keys))
                vals = arr.to_pylist()
                blob = "".join(vals).encode()
                lengths = np.array([len(v.encode()) for v in vals],
                                   dtype=np.int64)
                enc = BC.encode_binary(
                    lengths, np.frombuffer(blob, np.uint8), codec=codec)
                l2, d2, _ = BC.decode_binary(enc, 0, lengths.size)
                offs = np.zeros(l2.size + 1, np.int64)
                np.cumsum(l2, out=offs[1:])
                dec = [
                    bytes(d2[offs[i]:offs[i + 1]]).decode()
                    for i in range(l2.size)
                ]
                cols = [b.column(i) for i in range(len(keys))]
                cols.append(pa.array(dec, type=pa.string()))
                yield pa.RecordBatch.from_arrays(
                    cols, names=keys + [out_name])

        return df.mapInArrow(fn, out_schema)

    return q


def _double_roundtrip(table: str, keys: list[str], col: str, out_name: str):
    """Doubles ride the int pipeline as bit patterns (binary.rs:295-301)."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .session import ship_package

        ship_package(spark)
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet") \
            .selectExpr(*[f"cast({k} as bigint) as {k}" for k in keys],
                        f"cast({col} as double) as {out_name}")
        out_schema = ", ".join(
            [f"{k} long" for k in keys] + [f"{out_name} double"]
        )

        def fn(batches):
            for b in batches:
                vals = b.column(len(keys)).to_numpy(zero_copy_only=False)
                bits = np.ascontiguousarray(vals, np.float64).view(np.int64)
                enc = IC.encode_ints(bits, codec=IC.T_ZBRA)
                dec, _ = IC.decode_ints(enc, 0, bits.size)
                cols = [b.column(i) for i in range(len(keys))]
                cols.append(pa.array(dec.view(np.float64)))
                yield pa.RecordBatch.from_arrays(
                    cols, names=keys + [out_name])

        return df.mapInArrow(fn, out_schema)

    return q


def _identity_oracle(table: str, keys: list[str], col: str, out_name: str,
                     cast: str = "bigint", fill: str | None = None) -> str:
    expr = f"coalesce({col}, '{fill}')" if fill is not None else col
    sel = ", ".join(
        [f"cast({k} as bigint) as {k}" for k in keys]
        + [f"cast({expr} as {cast}) as {out_name}"]
    )
    return f"SELECT {sel} FROM {table}"


def q_codec_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S15: Enum (sum-type) column through the real codec machinery —
    tags + sparse per-variant children (striped.rs:340-387 shred,
    :617-657 unshred, binary.rs:332-344 I/O). Spark has no union type, so
    rows cross the boundary as (tag, int-variant, string-variant); the
    dense union is BUILT, ENCODED, DECODED, and re-flattened inside the
    Arrow batch, and every output value is read back from the decoded
    union (tag included), so any enum codec bug breaks the oracle hash."""
    from .session import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "cast(event_id as bigint) as event_id",
        "cast(event_id % 2 as bigint) as tag_in",
        "cast(user_id as bigint) as iv",
        "cast(coalesce(event_type, '') as string) as sv")

    def fn(batches):
        from zseq import column as C

        ut = pa.union(
            [pa.field("i", pa.int64()), pa.field("s", pa.string())],
            mode="dense", type_codes=[0, 1])
        for b in batches:
            tag = b.column(1).to_numpy(zero_copy_only=False).astype(np.int8)
            m0 = tag == 0
            m1 = ~m0
            offs = np.zeros(tag.size, np.int32)
            offs[m0] = np.arange(int(m0.sum()), dtype=np.int32)
            offs[m1] = np.arange(int(m1.sum()), dtype=np.int32)
            u = pa.UnionArray.from_dense(
                pa.array(tag, pa.int8()), pa.array(offs, pa.int32()),
                [b.column(2).filter(pa.array(m0)),
                 b.column(3).filter(pa.array(m1))],
                field_names=["i", "s"], type_codes=[0, 1])
            blob = C.encode_column(u, {}, "e")
            dec, _ = C.decode_column(memoryview(blob), 0, ut, len(u))
            dtag = np.asarray(dec.type_codes)
            doffs = np.frombuffer(dec.buffers()[2], np.int32,
                                  count=len(dec)) if len(dec) else \
                np.zeros(0, np.int32)
            d0 = dtag == 0
            i_val = dec.field(0).take(
                pa.array(doffs, pa.int32(), mask=~d0))
            s_val = dec.field(1).take(
                pa.array(doffs, pa.int32(), mask=d0))
            yield pa.RecordBatch.from_arrays(
                [b.column(0),
                 pa.array(dtag.astype(np.int64)),
                 i_val, s_val],
                names=["event_id", "tag", "i_val", "s_val"])

    return df.mapInArrow(
        fn, "event_id long, tag long, i_val long, s_val string")


_Q_ENUM_ORACLE = """
SELECT cast(event_id as bigint) as event_id,
       cast(event_id % 2 as bigint) as tag,
       case when event_id % 2 = 0 then cast(user_id as bigint) end as i_val,
       case when event_id % 2 = 1 then coalesce(event_type, '') end as s_val
FROM events
"""


def q_codec_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S14: Struct column through the real codec machinery — the SoA
    per-field split (striped.rs:287-339 shred, :541-580 unshred). The
    struct is BUILT inside the Arrow batch with both struct-level nulls
    (event_id % 7 == 0) and child-level nulls (event_id % 5 == 0 on the
    string field), encoded, decoded, and re-flattened; output values come
    from the DECODED struct (null propagation included), so any struct
    codec or validity bug breaks the oracle hash."""
    from .session import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "cast(event_id as bigint) as event_id",
        "cast(user_id as bigint) as iv",
        "cast(coalesce(event_type, '') as string) as sv")

    def fn(batches):
        import pyarrow.compute as pc

        from zseq import column as C

        for b in batches:
            eid = b.column(0).to_numpy(zero_copy_only=False)
            null_s = pa.array(eid % 5 == 0)
            null_st = pa.array(eid % 7 == 0)
            s_child = pc.if_else(null_s, pa.scalar(None, pa.string()),
                                 b.column(2))
            st = pa.StructArray.from_arrays(
                [b.column(1), s_child], names=["i", "s"], mask=null_st)
            blob = C.encode_column(st, {}, "st")
            dec, _ = C.decode_column(memoryview(blob), 0, st.type, len(st))
            ok = pc.is_valid(dec)
            i_val = pc.if_else(ok, dec.field(0), pa.scalar(None, pa.int64()))
            s_val = pc.if_else(ok, dec.field(1), pa.scalar(None, pa.string()))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), i_val, s_val],
                names=["event_id", "i_val", "s_val"])

    return df.mapInArrow(fn, "event_id long, i_val long, s_val string")


_Q_STRUCT_ORACLE = """
SELECT cast(event_id as bigint) as event_id,
       case when event_id % 7 <> 0 then cast(user_id as bigint) end as i_val,
       case when event_id % 7 <> 0 and event_id % 5 <> 0
            then coalesce(event_type, '') end as s_val
FROM events
"""


def q_codec_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S16: Map column through the real codec machinery — lengths +
    key child + item child (striped.rs:106-125, :388-489). Each row gets
    a map of 1 or 2 entries ({'a': user_id} plus {'b': event_id % 100}
    when event_id % 3 != 0) built vectorized inside the Arrow batch,
    encoded, decoded, and re-flattened by position; output keys AND
    values come from the DECODED map, so key-child, item-child, and
    lengths bugs all break the oracle hash."""
    from .session import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "cast(event_id as bigint) as event_id",
        "cast(user_id as bigint) as iv")

    def fn(batches):
        from zseq import column as C

        for b in batches:
            eid = b.column(0).to_numpy(zero_copy_only=False)
            uid = b.column(1).to_numpy(zero_copy_only=False)
            n = eid.size
            lengths = np.where(eid % 3 != 0, 2, 1).astype(np.int64)
            offs = np.zeros(n + 1, np.int32)
            offs[1:] = np.cumsum(lengths)
            total = int(offs[-1])
            row = np.repeat(np.arange(n, dtype=np.int64), lengths)
            pos = np.arange(total, dtype=np.int64) - \
                np.repeat(offs[:-1].astype(np.int64), lengths)
            keys = pa.array(np.where(pos == 0, "a", "b"))
            items = pa.array(
                np.where(pos == 0, uid[row], eid[row] % 100),
                type=pa.int64())
            m = pa.MapArray.from_arrays(
                pa.array(offs, pa.int32()), keys, items)
            blob = C.encode_column(m, {}, "m")
            dec, _ = C.decode_column(memoryview(blob), 0, m.type, len(m))
            doffs = np.asarray(dec.offsets, dtype=np.int64)
            dlen = np.diff(doffs)
            a_key = dec.keys.take(pa.array(doffs[:-1]))
            a_val = dec.items.take(pa.array(doffs[:-1]))
            has_b = dlen == 2
            b_val = dec.items.take(
                pa.array(doffs[:-1] + 1, mask=~has_b))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(dlen), a_key, a_val, b_val],
                names=["event_id", "n_entries", "a_key", "a_val", "b_val"])

    return df.mapInArrow(
        fn, "event_id long, n_entries long, a_key string, a_val long, "
            "b_val long")


_Q_MAP_ORACLE = """
SELECT cast(event_id as bigint) as event_id,
       cast(case when event_id % 3 <> 0 then 2 else 1 end as bigint)
           as n_entries,
       'a' as a_key,
       cast(user_id as bigint) as a_val,
       case when event_id % 3 <> 0 then cast(event_id % 100 as bigint) end
           as b_val
FROM events
"""


def q_codec_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K_BOOL: boolean column (0/1 through the int segment) with a
    validity bitmap (event_id % 11 == 0 slots are null), encoded and
    decoded through the real chunk machinery; output values AND nulls
    come from the decoded array."""
    from .session import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "cast(event_id as bigint) as event_id",
        "case when event_id % 11 = 0 then cast(null as boolean) "
        "else user_id % 2 = 0 end as flag")

    def fn(batches):
        from zseq import column as C

        for b in batches:
            arr = b.column(1)
            blob = C.encode_column(arr, {}, "b")
            dec, _ = C.decode_column(memoryview(blob), 0, pa.bool_(),
                                     len(arr))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), dec], names=["event_id", "flag_rt"])

    return df.mapInArrow(fn, "event_id long, flag_rt boolean")


_Q_BOOL_ORACLE = """
SELECT cast(event_id as bigint) as event_id,
       case when event_id % 11 <> 0 then user_id % 2 = 0 end as flag_rt
FROM events
"""


def q_codec_float32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K_FLOAT: float32 rides the int pipeline as bit patterns; the
    decoded floats are widened back to double for the SQL comparison
    (f32 -> f64 is exact)."""
    from .session import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "cast(l_orderkey as bigint) as l_orderkey",
        "cast(l_linenumber as bigint) as l_linenumber",
        "cast(l_discount as float) as disc_f")

    def fn(batches):
        from zseq import column as C

        for b in batches:
            arr = b.column(2)
            blob = C.encode_column(arr, {}, "f")
            dec, _ = C.decode_column(memoryview(blob), 0, pa.float32(),
                                     len(arr))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), dec.cast(pa.float64())],
                names=["l_orderkey", "l_linenumber", "disc_rt"])

    return df.mapInArrow(
        fn, "l_orderkey long, l_linenumber long, disc_rt double")


_Q_FLOAT32_ORACLE = """
SELECT cast(l_orderkey as bigint) as l_orderkey,
       cast(l_linenumber as bigint) as l_linenumber,
       cast(cast(l_discount as real) as double) as disc_rt
FROM lineitem
"""


def q_codec_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K_DECIMAL: decimal128(precision <= 18) rides the int64 pipeline as
    its unscaled value (the reference's data model is i64/f64 only —
    logical.rs:10-24 — so this is a zseq extension, bounds-checked at
    encode: the one-limb layout of ``column.encode_column``'s K_DECIMAL
    branch). The decimal is cast in Spark, crosses as
    Arrow decimal128(12,2), roundtrips through encode/decode, and the
    DECODED unscaled cents are returned, so scaling or codec bugs break
    the oracle hash."""
    from .session import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "cast(l_orderkey as bigint) as l_orderkey",
        "cast(l_linenumber as bigint) as l_linenumber",
        "cast(l_extendedprice as decimal(12,2)) as price_dec")

    def fn(batches):
        from zseq import column as C

        for b in batches:
            arr = b.column(2)  # RecordBatch.column is always a pa.Array
            blob = C.encode_column(arr, {}, "d")
            dec, _ = C.decode_column(memoryview(blob), 0, arr.type, len(arr))
            # decimal128 little-endian: low word IS the unscaled value for
            # precision <= 18 (decode produces offset-0 canonical buffers)
            raw = np.frombuffer(dec.buffers()[1], np.int64,
                                count=2 * len(dec)).reshape(-1, 2)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1),
                 pa.array(raw[:, 0].copy(), pa.int64())],
                names=["l_orderkey", "l_linenumber", "cents_rt"])

    return df.mapInArrow(
        fn, "l_orderkey long, l_linenumber long, cents_rt long")


_Q_DECIMAL_ORACLE = """
SELECT cast(l_orderkey as bigint) as l_orderkey,
       cast(l_linenumber as bigint) as l_linenumber,
       cast(round(l_extendedprice * 100) as bigint) as cents_rt
FROM lineitem
"""


def q_codec_decimal38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K_DECIMAL two-limb layout (precision 19-38 — the lakehouse-common
    decimal(38,x) the <=18 path refuses): unscaled values are built
    arithmetically PAST the int64 range (orderkey x a 20-digit constant,
    alternating sign), so the high limb carries real magnitude bits, not
    just sign extension. The decimal roundtrips through
    encode_column/decode_column and the DECODED value is returned as its
    exact digit string — any limb-split, codec, or reassembly bug breaks
    the value hash. Extension beyond the reference's i64/f64 data model
    (logical.rs:10-24); layout at column.py K_DECIMAL."""
    import pyarrow.compute as _pc

    from .session import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "cast(l_orderkey as bigint) as l_orderkey",
        "cast(l_linenumber as bigint) as l_linenumber",
        "cast((cast(l_orderkey as decimal(38,0)) * 12345678901234567890 "
        "+ l_linenumber) * (case when l_linenumber % 2 = 0 then -1 "
        "else 1 end) as decimal(38,0)) as wide_dec")

    def fn(batches):
        from zseq import column as C

        for b in batches:
            arr = b.column(2)  # RecordBatch.column is always a pa.Array
            blob = C.encode_column(arr, {}, "d")
            dec, _ = C.decode_column(memoryview(blob), 0, arr.type,
                                     len(arr))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1),
                 _pc.cast(dec, pa.string())],
                names=["l_orderkey", "l_linenumber", "dec_rt"])

    return df.mapInArrow(
        fn, "l_orderkey long, l_linenumber long, dec_rt string")


_Q_DECIMAL38_ORACLE = """
SELECT cast(l_orderkey as bigint) as l_orderkey,
       cast(l_linenumber as bigint) as l_linenumber,
       cast((cast(l_orderkey as hugeint) * 12345678901234567890
             + l_linenumber)
            * (case when l_linenumber % 2 = 0 then -1 else 1 end)
            as varchar) as dec_rt
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Schema / logical-layer operator queries (SURVEY.md §2.1 L1-L7)
# ---------------------------------------------------------------------------

def q_validate_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: the reference's compression-driven Date validation
    (logical.rs:159-176: epoch-ms must be in [0, 4102444800000])
    as a per-type audit over events.ts."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    # ts arrives as TIMESTAMP_NTZ; session tz is pinned UTC so the cast
    # matches DuckDB's epoch_ms on naive timestamps.
    return df.selectExpr(
        "event_type",
        "unix_millis(cast(ts as timestamp)) as ts_ms",
        "unix_millis(cast(ts as timestamp)) "
        "between 0 and 4102444800000 as date_valid",
    ).groupBy("event_type").agg(
        {"*": "count", "date_valid": "min"}
    ).selectExpr(
        "event_type",
        "cast(`count(1)` as bigint) as n",
        "cast(`min(date_valid)` as boolean) as all_valid",
    )


_Q_VALIDATE_ORACLE = """
SELECT event_type,
       cast(count(*) as bigint) as n,
       cast(min(epoch_ms(ts) between 0 and 4102444800000) as boolean)
           as all_valid
FROM events GROUP BY event_type
"""


def q_merge_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: Table::merge Array(+)Array = concat (logical.rs:102-138) ==
    unionByName; verified by re-aggregating the merged table."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lo = df.filter("o_orderkey % 2 = 0")
    hi = df.filter("o_orderkey % 2 = 1")
    merged = lo.unionByName(hi)
    # Sum integer cents, not doubles: float summation order differs across
    # engines; the merge semantics under test are order-insensitive.
    return merged.selectExpr(
        "o_orderstatus",
        "cast(round(o_totalprice * 100) as bigint) as cents",
    ).groupBy("o_orderstatus").agg(
        {"cents": "sum", "*": "count"}
    ).selectExpr(
        "o_orderstatus",
        "cast(`count(1)` as bigint) as n",
        "cast(`sum(cents)` as bigint) as total_cents",
    )


_Q_MERGE_ORACLE = """
SELECT o_orderstatus, cast(count(*) as bigint) as n,
       cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
           as total_cents
FROM (SELECT * FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 2 = 1)
GROUP BY o_orderstatus
"""


def q_defaults_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: default_for_schema (logical.rs:355-391) — null slots take the
    schema default (empty string for Binary/Utf8)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.selectExpr("coalesce(lang, '') as lang") \
        .groupBy("lang").count() \
        .selectExpr("lang", "cast(count as bigint) as n")


_Q_DEFAULTS_ORACLE = """
SELECT coalesce(lang, '') as lang, cast(count(*) as bigint) as n
FROM documents GROUP BY coalesce(lang, '')
"""


def q_shred_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: the Array{lengths, element} decomposition (striped.rs:259-286):
    lengths vector stats per source over the derived tokens table, where
    lengths must equal n_tok and sum(lengths) == flat element count."""
    df = synth.tokens_df_from_documents(spark, sf_dir)
    return df.selectExpr(
        "source",
        "size(tokens) as len_check",
        "n_tok",
    ).groupBy("source").agg(
        {"*": "count", "len_check": "sum", "n_tok": "sum"}
    ).selectExpr(
        "source",
        "cast(`count(1)` as bigint) as docs",
        "cast(`sum(len_check)` as bigint) as flat_elems",
        "cast(`sum(n_tok)` as bigint) as total_n_tok",
    )


_Q_SHRED_ORACLE = f"""
SELECT source, cast(count(*) as bigint) as docs,
       cast(sum(len(tokens)) as bigint) as flat_elems,
       cast(sum(n_tok) as bigint) as total_n_tok
FROM ({synth.tokens_duckdb_sql('documents')}) GROUP BY source
"""


def q_roundtrip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bit-identical gate through the skew-aware salted-repartition
    path (mode='salted': n_tok-histogram bucketing + greedy heavy-row
    packing)."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_salt_")
    zenc.encode(df, out, mode="salted", partitions=4)
    back = zdec.decode(spark, out)
    return back.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_roundtrip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bit-identical gate through the sort-ordered layout
    (mode='range': repartitionByRange + sortWithinPartitions on doc_id,
    disjoint per-part zone envelopes, codec-locality reorder skipped —
    key order IS the clustering)."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_range_")
    zenc.encode(df, out, mode="range", partitions=4,
                partition_col="doc_id")
    back = zdec.decode(spark, out)
    return back.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_roundtrip_reversed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S17: the Reversed marker (striped.rs:490-513) through the full
    distributed encode -> decode job — inner bytes are stored unchanged
    (a no-op chunk wrapper + field metadata), so the decoded table must
    be bit-identical to the plain roundtrip; zone maps pass through the
    wrapper. Any wrapper framing bug breaks the oracle hash."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_rev_")
    zenc.encode(df, out, reversed_cols=["n_tok", "source"])
    back = zdec.decode(spark, out)
    return back.selectExpr("doc_id", *_SPARK_CHECKSUMS)


def q_pushdown_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection pushdown: decode only 3 of 4 columns from the blobs
    (tokens, the heavy column, is seeked past — never decompressed)."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_proj_")
    zenc.encode(df, out)
    return zdec.decode(spark, out, columns=["doc_id", "n_tok", "source"]) \
        .selectExpr("doc_id", "cast(n_tok as bigint) as n_tok", "source")


def q_pushdown_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map predicate pushdown: block-level pruning composed with an
    exact Spark filter (superset semantics -> exact result)."""
    from . import decode as zdec
    from . import encode as zenc
    from .synth import HEAVY_LEN

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_pred_")
    zenc.encode(df, out)
    dec = zdec.decode(spark, out, columns=["doc_id", "n_tok"],
                      predicate=[("n_tok", "=", HEAVY_LEN)])
    return dec.filter(f"n_tok = {HEAVY_LEN}").selectExpr(
        "doc_id", "cast(n_tok as bigint) as n_tok")


def q_pushdown_predicate_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String zone-map predicate pushdown: byte-bounds [lo, hi] envelopes
    stored in BINARY chunk headers prune whole blocks on a doc_id range
    scan (the most common selective read at scale) — composed with an
    exact Spark filter, so superset pruning yields the exact result."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_predstr_")
    zenc.encode(df, out)
    dec = zdec.decode(spark, out, columns=["doc_id", "n_tok"],
                      predicate=[("doc_id", ">=", "doc_00000450")])
    return dec.filter("doc_id >= 'doc_00000450'").selectExpr(
        "doc_id", "cast(n_tok as bigint) as n_tok")


def q_pushdown_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket FILE pruning: a mode='hash' dataset records
    part_id == pmod(spark_hash(key), P), and the driver recomputes that
    hash (zseq/sparkhash.py, fuzz-verified against F.hash) for equality/
    IN literals — so this point lookup launches tasks for only the
    pinned bucket files out of 8, before any byte is fetched. Composed
    with the exact Spark filter: superset pruning, exact result."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_bucket_")
    zenc.encode(df, out, mode="hash", partitions=8,
                partition_col="doc_id")
    keys = ("doc_00000137", "doc_00000450")
    dec = zdec.decode(spark, out, columns=["doc_id", "n_tok"],
                      predicate=[("doc_id", "in", keys)])
    return dec.filter(
        "doc_id in ('doc_00000137', 'doc_00000450')").selectExpr(
        "doc_id", "cast(n_tok as bigint) as n_tok")


_Q_BUCKET_ORACLE_TMPL = """
SELECT doc_id, cast(n_tok as bigint) as n_tok FROM ({inner})
WHERE doc_id in ('doc_00000137', 'doc_00000450')
"""


def q_pushdown_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL file pruning: every part commits per-column null
    counts next to its zone envelope, so the driver skips files that
    are all-null (for NOT NULL / value predicates) or null-free (for
    IS NULL) before any task launches. Composed with the exact Spark
    filter: superset pruning, exact result — the nullable column is
    derived identically in Spark and DuckDB."""
    from . import decode as zdec
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir).selectExpr(
        "doc_id",
        "case when n_tok % 3 = 0 then cast(null as int) else n_tok end"
        " as n_tok_n")
    out = _tmp_out("zseq_null_")
    zenc.encode(df, out)
    dec = zdec.decode(spark, out,
                      predicate=[("n_tok_n", "notnull", None)])
    return dec.filter("n_tok_n is not null").selectExpr(
        "doc_id", "cast(n_tok_n as bigint) as n_tok_n")


_Q_NULL_ORACLE_TMPL = """
SELECT doc_id, cast(n_tok as bigint) as n_tok_n FROM ({inner})
WHERE n_tok % 3 <> 0
"""


_Q_PRED_STR_ORACLE_TMPL = """
SELECT doc_id, cast(n_tok as bigint) as n_tok FROM ({inner})
WHERE doc_id >= 'doc_00000450'
"""


_Q_PROJ_ORACLE_TMPL = """
SELECT doc_id, cast(n_tok as bigint) as n_tok, source FROM ({inner})
"""

_Q_PRED_ORACLE_TMPL = """
SELECT doc_id, cast(n_tok as bigint) as n_tok FROM ({inner})
WHERE n_tok = {heavy}
"""


def q_encode_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage/metrics surface, value-checked: the encode job's reported
    totals (part count, rows, flat list elements) must equal what DuckDB
    counts on the source table. Byte sizes stay un-oracled (they depend
    on codec choice, which the size-parity pytest gates instead)."""
    from . import encode as zenc

    df = synth.tokens_df_from_documents(spark, sf_dir)
    out = _tmp_out("zseq_metrics_")
    res = zenc.encode(df, out)
    if not (res.total_enc_bytes > 0 and len(res.parts) >= 1):
        raise RuntimeError("encode produced no parts/bytes")
    row = [{
        "n_rows": res.total_rows,
        "list_elems": res.total_list_elems,
    }]
    return spark.createDataFrame(row).selectExpr(
        "cast(n_rows as bigint) as n_rows",
        "cast(list_elems as bigint) as list_elems")


_Q_METRICS_ORACLE_TMPL = """
SELECT cast(count(*) as bigint) as n_rows,
       cast(sum(n_tok) as bigint) as list_elems
FROM ({inner})
"""


# ---------------------------------------------------------------------------
# Training-pipeline operators (textops / dedup / sim)
# ---------------------------------------------------------------------------

def q_text_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import textops

    return textops.analyze(spark, sf_dir)


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality audit (public Rae et al. 2021 heuristics):
    per-rule boolean flags + keep verdict, integer-math thresholds so
    Spark == DuckDB exactly. min_words=5 / min_stopwords=1 so the
    synthetic word-salad docs exercise BOTH outcomes of the word-count
    and stop-word rules (paper defaults 50 / 2 stay the API default)."""
    from . import textops

    return textops.gopher_quality(spark, sf_dir, min_words=5,
                                  min_stopwords=1)


def _quality_gopher_oracle() -> str:
    from . import textops

    return textops.gopher_oracle_sql(min_words=5, min_stopwords=1)


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints — the brief's 'document
    fingerprinting (rolling hash)' as Schleimer et al. 2003: char
    5-grams hashed, window-of-4 minima kept, distinct per doc. md5 hex
    strings compare identically in both engines, so the selected set is
    value-exact."""
    from . import textops

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "coalesce(text, '') as text")
    return textops.winnow_fingerprints(df)


def _fingerprint_winnow_oracle() -> str:
    from . import textops

    return textops.winnow_oracle_sql()


#: Every doc_id % CONTAM_EVAL_MOD == 0 document spawns a synthetic eval
#: doc carrying its first 60 chars (a planted train passage) plus a
#: unique suffix — derivable identically in Spark and DuckDB, so the
#: contamination report has an exact oracle AND a guaranteed-nonzero
#: planted overlap.
CONTAM_EVAL_MOD = 53


def _contam_sources_spark(spark, sf_dir):
    """(train, eval) DataFrames of the planted-overlap contamination
    scenario — the ONE place the derivation lives (query + oracle for
    both contamination operators reuse it)."""
    train = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .selectExpr("doc_id", "coalesce(text, '') as text")
    ev = train.filter(f"doc_id % {CONTAM_EVAL_MOD} = 0").selectExpr(
        "doc_id",
        "substring(text, 1, 60) || ' zqx' || cast(doc_id as string) "
        "as text")
    return train, ev


def _contam_sources_duck() -> tuple[str, str]:
    """DuckDB mirror of _contam_sources_spark as (train_from, eval_from)
    SELECTs."""
    train_from = ("SELECT doc_id, coalesce(text, '') as text "
                  "FROM documents")
    eval_from = (
        "SELECT doc_id, substr(coalesce(text, ''), 1, 60) || ' zqx' || "
        "cast(doc_id as varchar) as text FROM documents "
        f"WHERE doc_id % {CONTAM_EVAL_MOD} = 0")
    return train_from, eval_from


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval decontamination join on winnowing fingerprints:
    train = the documents table; eval = planted-overlap docs derived
    from every CONTAM_EVAL_MOD-th document (shared 60-char prefix +
    unique tail). Per-eval-doc fingerprint counts, train-hit counts and
    the contaminated verdict."""
    from . import textops

    train, ev = _contam_sources_spark(spark, sf_dir)
    return textops.contamination(train, ev)


def _contamination_report_oracle() -> str:
    from . import textops

    train_from, eval_from = _contam_sources_duck()
    return textops.contamination_oracle_sql(train_from, eval_from)


def q_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enforcement half of the contamination report: the train corpus
    (documents) with every doc sharing a winnowing fingerprint with the
    planted eval set DROPPED; returns surviving doc ids."""
    from pyspark.sql import functions as F

    from . import textops

    train, ev = _contam_sources_spark(spark, sf_dir)
    # k=12/w=8 (shared-substring guarantee >= 19 chars): corpus-wide
    # common English 8-char runs make the default k=5 drop EVERY doc on
    # this synthetic table — correct but degenerate; the longer gram
    # keeps the query discriminative (planted sources drop, rest stay).
    return textops.decontaminate_train(train, ev, k=12, w=8).select(
        F.col("doc_id").cast("bigint").alias("doc_id"))


def _decontaminate_train_oracle() -> str:
    from . import textops

    train_from, eval_from = _contam_sources_duck()
    return textops.decontaminate_oracle_sql(train_from, eval_from,
                                            k=12, w=8)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.exact_groups(df)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.ngram_jaccard_pairs(df, min_num=1, min_den=10)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash->LSH->verify pipeline on the real corpus under the
    md5 hash family, so the RAW candidate set (not just the planted-
    corpus recall property) is value-checked against DuckDB. Production
    default stays xxhash64; q_dedup_minhash_planted exercises it."""
    from . import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_dedup(df, min_num=1, min_den=10,
                               hash_family="md5")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # max_hamming=12 -> 13 blocks of ~4 bits: fine on a 500-doc corpus,
    # refused by default at scale — the explicit opt-in is the point.
    # md5 family => the oracle rebuilds the signatures bit-identically
    # (default banding is exact-recall, so all-pairs popcount == output).
    return dedup.simhash_near_pairs(
        dedup.simhash(df, hash_family="md5"), max_hamming=12,
        allow_wide_buckets=True)


def q_dedup_minhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MinHash->LSH->verify pipeline, value-checked end to end:
    on the planted corpus the deterministic expected output is exactly
    the planted duplicate pairs (recall guaranteed by identical
    signatures; precision guaranteed by exact verification)."""
    from . import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_dedup(dedup.planted_corpus(df),
                               min_num=1, min_den=2)


def q_dedup_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash + block banding, value-checked end to end on the planted
    corpus (planted pairs at Hamming 0; 4 blocks pigeonhole-guarantee
    radius 3)."""
    from . import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = dedup.planted_corpus(df)
    return dedup.simhash_near_pairs(dedup.simhash(corpus), max_hamming=3)


def q_dedup_drop_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full drop-duplicates pipeline, value-checked end to end:
    planted corpus -> MinHash-LSH pairs -> connected components ->
    anti-join keeps each cluster's smallest id. On the planted corpus the
    expected survivor set is exactly the base ids (every planted dup at
    id + PLANT_OFFSET is dropped; its base keeper survives)."""
    from . import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = dedup.planted_corpus(df)
    pairs = dedup.minhash_dedup(corpus, min_num=1, min_den=2)
    kept = dedup.dedup_corpus(corpus, pairs)
    return kept.selectExpr("cast(doc_id as bigint) as doc_id")


_Q_DROP_NEAR_ORACLE = """
SELECT cast(doc_id as bigint) as doc_id FROM documents
"""


def q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sim

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.brute_force_topk(df)


def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import sim

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.lsh_buckets(df, _EMB_DIM)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (quantized dot >= 0.4 among
    bucket-colocated pairs; unit-normalized embeddings). bits is PINNED
    (not auto-sized) so the static oracle SQL matches at every sf;
    bits=None auto-sizing is gated separately by the pytest recall
    tests."""
    from . import sim

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.embedding_near_dups(
        df, _EMB_DIM, bits=sim.bits_for(_EMB_ROWS), probes=1)


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantizer (vec_id % 50 centroids),
    cell assignment as a pure projection (no shuffle), nprobe=2 probing,
    exact quantized rerank. Constants PINNED so the static oracle SQL
    matches at every sf; the probe-all == brute-force identity and
    recall floors are gated by pytest."""
    from . import sim

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.ivf_topk(df, _EMB_DIM, c_mod=50, nprobe=2)


def q_sim_ivf_topk_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF broadcast-matrix assignment path, the production-dim
    regime where K x dim literals would blow up Catalyst. It is now the
    only path, so this takes the same path as sim_ivf_topk on the same
    corpus and constants, and the SAME static oracle must hash-match
    (stable argmax ties to the smaller cid)."""
    from . import sim

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.ivf_topk(df, _EMB_DIM, c_mod=50, nprobe=2)


def q_sim_ivf_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the TRAINED coarse quantizer: 5 deterministic integer
    Lloyd rounds refine the modular init before assignment/probing.
    Because the refinement is all-int (partitioning-independent,
    bit-exact on rerun), the full training loop is reproducible in SQL —
    the DuckDB oracle unrolls the same 5 rounds as CTE layers, so this
    checks the TRAINING iteration itself, not just the final rerank."""
    from . import sim

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.ivf_topk(df, _EMB_DIM, c_mod=50, nprobe=2,
                        quantizer="kmeans")


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with Hamming-2 multi-probe. bits is PINNED (not auto-sized)
    so the static oracle SQL matches at every sf; bits=None auto-sizing
    is gated separately by the pytest recall tests."""
    from . import sim

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.lsh_topk(df, _EMB_DIM, bits=sim.bits_for(_EMB_ROWS),
                        probes=2)


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def queries() -> dict:
    # Order: the six sim_* ANN queries FIRST — they are the only rows the
    # round-5 driver harness never reached (it stopped at 50 of 56), and
    # sim_ivf_topk_kmeans has never had a driver row. Probabilistic /
    # never-yet-driver-checked queries must not sit at the tail again.
    return {
        "sim_topk_bruteforce": q_sim_bruteforce,
        "sim_lsh_buckets": q_sim_lsh_buckets,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_ivf_topk_matrix": q_sim_ivf_topk_matrix,
        "sim_ivf_topk_kmeans": q_sim_ivf_topk_kmeans,
        "tokens_synth": q_tokens_synth,
        "roundtrip_tokens": q_roundtrip_tokens,
        "roundtrip_salted": q_roundtrip_salted,
        "roundtrip_range": q_roundtrip_range,
        "roundtrip_reversed": q_roundtrip_reversed,
        "roundtrip_append": q_roundtrip_append,
        "timetravel_read": q_timetravel_read,
        "rollback_read": q_rollback_read,
        "decode_evolved": q_decode_evolved,
        "codec_zbra_pipeline": _int_roundtrip(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_partkey",
            IC.T_ZBRA, "pk_rt"),
        "codec_forbp": _int_roundtrip(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_suppkey",
            IC.T_FORBP, "sk_rt"),
        "codec_delta": _int_roundtrip(
            "orders", ["o_orderkey"], "o_custkey", IC.T_DELTA, "ck_rt"),
        "codec_dict_int": _int_roundtrip(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_linenumber",
            IC.T_DICT, "ln_rt"),
        "codec_rle": _int_roundtrip(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_orderkey",
            IC.T_RLE, "ok_rt"),
        "codec_auto_int": _int_roundtrip(
            "events", ["event_id"], "user_id", None, "uid_rt"),
        "codec_double_pipeline": _double_roundtrip(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_extendedprice",
            "price_rt"),
        "codec_dict_str": _str_roundtrip(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_returnflag",
            BC.T_BIN_DICT, "flag_rt"),
        "codec_fsst": _str_roundtrip(
            "documents", ["doc_id"], "source", BC.T_BIN_FSST, "src_rt"),
        "codec_zstd_str": _str_roundtrip(
            "documents", ["doc_id"], "text", BC.T_BIN_ZSTD, "text_rt"),
        "codec_auto_str": _str_roundtrip(
            "events", ["event_id"], "event_type", None, "et_rt"),
        "codec_enum": q_codec_enum,
        "codec_struct": q_codec_struct,
        "codec_map": q_codec_map,
        "codec_decimal": q_codec_decimal,
        "codec_decimal38": q_codec_decimal38,
        "codec_bool": q_codec_bool,
        "codec_float32": q_codec_float32,
        "validate_date_range": q_validate_date_range,
        "merge_tables": q_merge_tables,
        "defaults_fill": q_defaults_fill,
        "shred_lengths": q_shred_lengths,
        "encode_metrics": q_encode_metrics,
        "pushdown_projection": q_pushdown_projection,
        "pushdown_predicate": q_pushdown_predicate,
        "pushdown_predicate_str": q_pushdown_predicate_str,
        "pushdown_bucket": q_pushdown_bucket,
        "pushdown_null": q_pushdown_null,
        "text_analyze": q_text_analyze,
        "quality_gopher": q_quality_gopher,
        "fingerprint_winnow": q_fingerprint_winnow,
        "contamination_report": q_contamination_report,
        "decontaminate_train": q_decontaminate_train,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_minhash_planted": q_dedup_minhash_planted,
        "dedup_simhash_planted": q_dedup_simhash_planted,
        "dedup_embedding_cosine": q_dedup_embedding,
        "dedup_drop_near": q_dedup_drop_near,
    }


def oracle_sql() -> dict:
    # Same order as queries(): sim_* first (see the note there). The SQL
    # text per name is unchanged — only the dict order moved.
    return {
        "sim_topk_bruteforce": _sim_bf_oracle(),
        "sim_lsh_buckets": _sim_buckets_oracle(),
        "sim_lsh_topk": _sim_lsh_topk_oracle(),
        "sim_ivf_topk": _sim_ivf_oracle(),
        "sim_ivf_topk_matrix": _sim_ivf_oracle(),
        "sim_ivf_topk_kmeans": _sim_ivf_kmeans_oracle(),
        "tokens_synth": _duck_tokens_checksums(),
        "roundtrip_tokens": _duck_tokens_checksums(),
        "roundtrip_salted": _duck_tokens_checksums(),
        "roundtrip_range": _duck_tokens_checksums(),
        "roundtrip_reversed": _duck_tokens_checksums(),
        "roundtrip_append": _duck_tokens_checksums(),
        "timetravel_read": (
            "SELECT * FROM (" + _duck_tokens_checksums()
            + ") WHERE n_tok % 2 = 0"),
        "rollback_read": (
            "SELECT * FROM (" + _duck_tokens_checksums()
            + ") WHERE n_tok % 2 = 0"),
        "decode_evolved": _Q_EVOLVED_ORACLE_TMPL.format(
            inner=synth.tokens_duckdb_sql("documents")),
        "codec_zbra_pipeline": _identity_oracle(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_partkey", "pk_rt"),
        "codec_forbp": _identity_oracle(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_suppkey", "sk_rt"),
        "codec_delta": _identity_oracle(
            "orders", ["o_orderkey"], "o_custkey", "ck_rt"),
        "codec_dict_int": _identity_oracle(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_linenumber",
            "ln_rt"),
        "codec_rle": _identity_oracle(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_orderkey",
            "ok_rt"),
        "codec_auto_int": _identity_oracle(
            "events", ["event_id"], "user_id", "uid_rt"),
        "codec_double_pipeline": _identity_oracle(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_extendedprice",
            "price_rt", cast="double"),
        "codec_dict_str": _identity_oracle(
            "lineitem", ["l_orderkey", "l_linenumber"], "l_returnflag",
            "flag_rt", cast="varchar", fill=""),
        "codec_fsst": _identity_oracle(
            "documents", ["doc_id"], "source", "src_rt", cast="varchar",
            fill=""),
        "codec_zstd_str": _identity_oracle(
            "documents", ["doc_id"], "text", "text_rt", cast="varchar",
            fill=""),
        "codec_auto_str": _identity_oracle(
            "events", ["event_id"], "event_type", "et_rt", cast="varchar",
            fill=""),
        "codec_enum": _Q_ENUM_ORACLE,
        "codec_struct": _Q_STRUCT_ORACLE,
        "codec_map": _Q_MAP_ORACLE,
        "codec_decimal": _Q_DECIMAL_ORACLE,
        "codec_decimal38": _Q_DECIMAL38_ORACLE,
        "codec_bool": _Q_BOOL_ORACLE,
        "codec_float32": _Q_FLOAT32_ORACLE,
        "validate_date_range": _Q_VALIDATE_ORACLE,
        "merge_tables": _Q_MERGE_ORACLE,
        "defaults_fill": _Q_DEFAULTS_ORACLE,
        "shred_lengths": _Q_SHRED_ORACLE,
        "encode_metrics": _Q_METRICS_ORACLE_TMPL.format(
            inner=synth.tokens_duckdb_sql("documents")),
        "pushdown_projection": _Q_PROJ_ORACLE_TMPL.format(
            inner=synth.tokens_duckdb_sql("documents")),
        "pushdown_predicate": _Q_PRED_ORACLE_TMPL.format(
            inner=synth.tokens_duckdb_sql("documents"),
            heavy=synth.HEAVY_LEN),
        "pushdown_predicate_str": _Q_PRED_STR_ORACLE_TMPL.format(
            inner=synth.tokens_duckdb_sql("documents")),
        "pushdown_bucket": _Q_BUCKET_ORACLE_TMPL.format(
            inner=synth.tokens_duckdb_sql("documents")),
        "pushdown_null": _Q_NULL_ORACLE_TMPL.format(
            inner=synth.tokens_duckdb_sql("documents")),
        "text_analyze": _text_analyze_oracle(),
        "quality_gopher": _quality_gopher_oracle(),
        "fingerprint_winnow": _fingerprint_winnow_oracle(),
        "contamination_report": _contamination_report_oracle(),
        "decontaminate_train": _decontaminate_train_oracle(),
        "dedup_exact": _dedup_exact_oracle(),
        "dedup_ngram_jaccard": _dedup_ngram_oracle(),
        # dedup_minhash_lsh / dedup_simhash run on the REAL documents
        # table under the md5-derived hash family (bit-identical in
        # Spark and DuckDB), so the raw candidate sets themselves are
        # hash-checked; the planted queries below keep exercising the
        # xxhash64 production default end to end.
        "dedup_minhash_lsh": _dedup_minhash_lsh_oracle(),
        "dedup_simhash": _dedup_simhash_oracle(),
        "dedup_minhash_planted": _dedup_minhash_planted_oracle(),
        "dedup_simhash_planted": _dedup_simhash_planted_oracle(),
        "dedup_embedding_cosine": _dedup_embedding_oracle(),
        "dedup_drop_near": _Q_DROP_NEAR_ORACLE,
    }


def _text_analyze_oracle() -> str:
    from . import textops

    return textops.analyze_oracle_sql()


def _dedup_exact_oracle() -> str:
    from . import dedup

    return dedup.exact_groups_oracle_sql()


def _dedup_ngram_oracle() -> str:
    from . import dedup

    return dedup.ngram_jaccard_oracle_sql(min_num=1, min_den=10)


def _dedup_minhash_lsh_oracle() -> str:
    from . import dedup

    return dedup.minhash_dedup_oracle_sql(min_num=1, min_den=10)


def _dedup_simhash_oracle() -> str:
    from . import dedup

    return dedup.simhash_pairs_oracle_sql(max_hamming=12)


def _dedup_minhash_planted_oracle() -> str:
    from . import dedup

    return dedup.minhash_planted_oracle_sql()


def _dedup_simhash_planted_oracle() -> str:
    from . import dedup

    return dedup.simhash_planted_oracle_sql()


_EMB_DIM = 64    # driver testdata embeddings dimension
_EMB_ROWS = 500  # embeddings row count at the driver's correctness sf (0.01)


def _dedup_embedding_oracle() -> str:
    from . import sim

    return sim.embedding_near_dups_oracle_sql(
        _EMB_DIM, bits=sim.bits_for(_EMB_ROWS), probes=1)


def _sim_bf_oracle() -> str:
    from . import sim

    return sim.brute_force_topk_oracle_sql()


def _sim_buckets_oracle() -> str:
    from . import sim

    return sim.lsh_bucket_oracle_sql(_EMB_DIM)


def _sim_lsh_topk_oracle() -> str:
    from . import sim

    return sim.lsh_topk_oracle_sql(
        _EMB_DIM, bits=sim.bits_for(_EMB_ROWS), probes=2)


def _sim_ivf_oracle() -> str:
    from . import sim

    return sim.ivf_topk_oracle_sql(_EMB_DIM, c_mod=50, nprobe=2)


def _sim_ivf_kmeans_oracle() -> str:
    from . import sim

    return sim.ivf_topk_kmeans_oracle_sql(_EMB_DIM, c_mod=50, nprobe=2)
