"""Deterministic synthetic tokens table (the BASELINE.json input_hint shape):

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

No randomness, no external data: every value is a pure int64-arithmetic
function of an integer ``doc_id``, so the exact same table can be produced
by numpy (tests/bench), Spark SQL (the engine under test), and DuckDB SQL
(the driver's oracle) — which is what lets the driver verify the engine's
decode output value-by-value against an independent system.

Four token regimes by ``doc_id % 4`` exercise every codec family
(FIXTURES.md F0):

    0: pseudo-random ids in [0, 50257)       -> vocabulary-sized, zstd/dict
    1: small-range ids in [0, 251)           -> bit-pack friendly
    2: arithmetic ramp (monotonic)           -> delta/FOR friendly
    3: pseudo-random in [0, 2^31-1)          -> incompressible control

Lengths are 16..255 with a heavy row (n_tok = 2048) every 97 docs to
exercise skew handling; len(tokens) == n_tok always holds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

A = 2654435761      # Knuth multiplicative hash constant
B = 40503
VOCAB = 50257       # GPT-2-ish vocab size
SMALL = 251
WIDE = 2147483647   # 2^31 - 1
HEAVY_EVERY = 97
HEAVY_LEN = 2048

SOURCES = ["web", "books", "code", "wiki", "arxiv"]

N_TOK_SQL = (
    "CASE WHEN {d} % 97 = 0 THEN 2048 "
    "ELSE 16 + (({d} * 37) % 240) END"
)

TOKEN_SQL = (
    "CASE {d} % 4 "
    "WHEN 0 THEN (({d} + 1) * 2654435761 + {j} * 40503) % 50257 "
    "WHEN 1 THEN ({d} * 131 + {j} * 7) % 251 "
    "WHEN 2 THEN ({d} % 1000) + {j} * 3 "
    "ELSE (({d} + {j} + 1) * 2654435761) % 2147483647 END"
)

SOURCE_SQL = (
    "CASE {d} % 5 WHEN 0 THEN 'web' WHEN 1 THEN 'books' "
    "WHEN 2 THEN 'code' WHEN 3 THEN 'wiki' ELSE 'arxiv' END"
)


def n_tok_of(doc_ids: np.ndarray) -> np.ndarray:
    d = doc_ids.astype(np.int64)
    return np.where(d % HEAVY_EVERY == 0, HEAVY_LEN, 16 + (d * 37) % 240)


def flat_tokens(doc_ids: np.ndarray, n_tok: np.ndarray) -> np.ndarray:
    """All docs' tokens concatenated — fully vectorized.

    Every regime is an arithmetic sequence mod M in j, so the expensive
    per-ELEMENT int64 modulo of the direct formula is replaced by a
    per-DOC start (``ndocs`` mods) plus small-domain per-element
    arithmetic: regimes 0/1/2 fit int32 exactly (max element value
    s + j*step < 2^31 for every valid id and j < 2048), regime 3 needs
    one int64 mod over values <= ~1.04e12. Identical values to the
    direct formula by modular arithmetic ((x + y) mod M ==
    ((x mod M) + y) mod M with y < 2^31 headroom); pinned by the
    numpy == Spark SQL == DuckDB fixture tests. Measured ~4x on the
    generation kernel (int64 % is a hardware divide per element)."""
    ids = doc_ids.astype(np.int64)
    total = int(n_tok.sum())
    offsets = np.zeros(ids.size + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    if total <= np.iinfo(np.int32).max:
        j32 = (np.arange(total, dtype=np.int32)
               - np.repeat(offsets[:-1].astype(np.int32), n_tok))
    else:
        j32 = (np.arange(total, dtype=np.int64)
               - np.repeat(offsets[:-1], n_tok)).astype(np.int32)
    r_doc = (ids & 3).astype(np.int8)
    r = np.repeat(r_doc, n_tok)
    # per-doc sequence starts (j = 0 term), one mod per doc
    s0 = (((ids + 1) * A) % VOCAB).astype(np.int32)
    s1 = ((ids * 131) % SMALL).astype(np.int32)
    s2 = (ids % 1000).astype(np.int32)
    s3 = ((ids + 1) * A) % WIDE  # int64: WIDE start can exceed int32? no
    # (< WIDE = 2^31-1, but keep int64 for the j*step sum below)
    t = np.empty(total, dtype=np.int32)
    for q in range(4):
        dm = r_doc == q
        if not dm.any():
            continue
        m = r == q
        lens = n_tok[dm]
        jq = j32[m]
        if q == 0:
            s = np.repeat(s0[dm], lens)
            t[m] = (s + jq * np.int32(B % VOCAB)) % np.int32(VOCAB)
        elif q == 1:
            s = np.repeat(s1[dm], lens)
            t[m] = (s + jq * np.int32(7)) % np.int32(SMALL)
        elif q == 2:
            s = np.repeat(s2[dm], lens)
            t[m] = s + jq * np.int32(3)
        else:
            s = np.repeat(s3[dm], lens)
            t[m] = ((s + jq.astype(np.int64) * np.int64(A % WIDE))
                    % np.int64(WIDE)).astype(np.int32)
    return t


def doc_id_str(doc_ids: np.ndarray) -> list[str]:
    return [f"doc_{int(d):08d}" for d in doc_ids]


def _check_id_range(start: int, n_docs: int) -> None:
    """The F0 fixture contract holds for doc ids < 10^8: beyond that the
    8-char lpad doc_id truncates on the SQL side (colliding ids) and the
    token formulas approach int64 wrap with engine-divergent semantics.
    Refuse loudly instead of silently desynchronizing the three
    derivations."""
    if start + n_docs > 100_000_000:
        raise ValueError(
            "synth tokens fixture: doc ids must stay below 10^8 "
            f"(requested up to {start + n_docs})")


def tokens_table_arrow(n_docs: int, start: int = 0) -> pa.Table:
    """The tokens table as a pyarrow Table for doc ids [start, start+n)."""
    _check_id_range(start, n_docs)
    ids = np.arange(start, start + n_docs, dtype=np.int64)
    n_tok = n_tok_of(ids)
    flat = flat_tokens(ids, n_tok)
    # int64 first: cumsum straight into an int32 out-array silently
    # WRAPS past 2^31 total tokens (~13.7M docs); overflow must raise
    offs64 = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offs64[1:])
    if offs64[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            "synth tokens fixture: total tokens exceed int32 list "
            "offsets — generate in several [start, start+n) chunks")
    offsets = offs64.astype(np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa.int32())
    )
    src = pa.array([SOURCES[int(d % 5)] for d in ids])
    return pa.table({
        "doc_id": pa.array(doc_id_str(ids)),
        "tokens": tokens,
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": src,
    })


# ---------------------------------------------------------------------------
# SQL and Spark derivations (from a numeric id column, e.g. the documents
# table)
# ---------------------------------------------------------------------------

def tokens_sql_duckdb(id_expr: str = "d") -> dict[str, str]:
    """The derivation as DuckDB SQL fragments keyed by output column."""
    n_tok = N_TOK_SQL.format(d=id_expr)
    return {
        "doc_id": f"'doc_' || lpad(cast({id_expr} as varchar), 8, '0')",
        "tokens": (
            f"list_transform(range(0, ({n_tok})), "
            f"j -> cast(({TOKEN_SQL.format(d=id_expr, j='j')}) as integer))"
        ),
        "n_tok": f"cast(({n_tok}) as integer)",
        "source": SOURCE_SQL.format(d=id_expr),
    }


def _tokens_spark_schema(doc_id_nullable: bool):
    """The exact schema the SQL derivation produced — the encoded
    manifest schema and every downstream query schema must stay
    identical. Catalyst inferred doc_id nullability from the id source
    (nullable parquet doc_id vs non-null spark.range id), so it is a
    parameter; source (CASE with literal branches + ELSE) was always
    non-nullable."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("doc_id", T.StringType(), doc_id_nullable),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), True), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), False),
    ])


def _tokens_batch(ids: np.ndarray) -> pa.RecordBatch:
    """One Arrow batch of the tokens fixture for an arbitrary id array —
    the numpy derivation (identical values to the SQL fragments; the
    tokens_synth oracle and tests/test_synth.py pin the three-way
    equality numpy == Spark == DuckDB)."""
    ids = np.ascontiguousarray(ids, dtype=np.int64)
    n_tok = n_tok_of(ids)
    flat = flat_tokens(ids, n_tok)
    offs64 = np.zeros(ids.size + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offs64[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offs64.astype(np.int32), type=pa.int32()),
        pa.array(flat, type=pa.int32()))
    import pyarrow.compute as pc

    src = pc.take(pa.array(SOURCES), pa.array(ids % 5))
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_id_str(ids)), tokens,
         pa.array(n_tok.astype(np.int32), type=pa.int32()), src],
        names=["doc_id", "tokens", "n_tok", "source"])


def _tokens_from_ids(ids_df, doc_id_nullable: bool = False):
    """ids DataFrame (single int64 column) -> tokens table via a numpy
    ``mapInArrow`` kernel. The derivation as Spark SQL evaluated
    transform(sequence(...)) per ELEMENT in Catalyst — ~150 expression
    evals per row; the numpy path generates whole batches with a handful
    of vectorized ops (guide §4.2: hand batches to vectorized native
    code). Measured ~3x on the bench materialize stage; values are
    bit-identical (oracle-checked)."""
    from .session import ship_package

    # the numpy kernel runs on executors — they must be able to import
    # zseq under ANY session (the SQL derivation needed no Python, so
    # callers like q_tokens_synth never went through an entry point that
    # ships the package)
    ship_package(ids_df.sparkSession)

    def fn(batches):
        from .session import quiet_worker_zip_finders

        quiet_worker_zip_finders()
        for b in batches:
            if b.column(0).null_count:
                # to_numpy would turn a NULL id into a garbage non-null
                # row
                raise ValueError(
                    "synth: NULL doc_id — every row needs an id to derive "
                    "its tokens from")
            if b.num_rows:
                yield _tokens_batch(
                    b.column(0).to_numpy(zero_copy_only=False))

    return ids_df.mapInArrow(fn, _tokens_spark_schema(doc_id_nullable))


def tokens_df_from_documents(spark, sf_dir: str):
    """Derive the tokens table from the driver's documents parquet
    (doc_id BIGINT drives everything; source is re-derived so Spark and
    DuckDB agree byte-for-byte)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _tokens_from_ids(df.select("doc_id"), doc_id_nullable=True)


def tokens_duckdb_sql(table: str = "documents") -> str:
    frags = tokens_sql_duckdb("doc_id")
    return (
        f"SELECT {frags['doc_id']} AS doc_id, {frags['tokens']} AS tokens, "
        f"{frags['n_tok']} AS n_tok, {frags['source']} AS source "
        f"FROM {table}"
    )


def tokens_df_range(spark, n_docs: int, partitions: int | None = None):
    """Self-contained Spark tokens table over spark.range (bench scale)."""
    _check_id_range(0, n_docs)
    rng = spark.range(0, n_docs, 1, partitions) if partitions \
        else spark.range(0, n_docs)
    return _tokens_from_ids(rng)
