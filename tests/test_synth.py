"""The synthetic tokens table must be identical across its three
implementations (numpy / DuckDB SQL / Spark SQL) — that identity is what
lets the driver's DuckDB oracle verify the Spark engine value-by-value."""

import duckdb
import numpy as np

from zseq import synth


def test_numpy_matches_duckdb():
    tbl = synth.tokens_table_arrow(400)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM range(0,400) t(doc_id)")
    ora = con.execute(
        synth.tokens_duckdb_sql() + " ORDER BY doc_id"
    ).fetch_arrow_table()
    mine = tbl.sort_by("doc_id")
    assert mine.column("doc_id").to_pylist() == ora.column("doc_id").to_pylist()
    assert mine.column("n_tok").to_pylist() == ora.column("n_tok").to_pylist()
    assert mine.column("source").to_pylist() == ora.column("source").to_pylist()
    assert mine.column("tokens").to_pylist() == ora.column("tokens").to_pylist()


def test_invariants():
    tbl = synth.tokens_table_arrow(1000)
    n_tok = np.asarray(tbl.column("n_tok"))
    import pyarrow.compute as pc

    lens = pc.list_value_length(tbl.column("tokens")).to_numpy()
    assert np.array_equal(lens.astype(np.int64), n_tok.astype(np.int64))
    flat = tbl.column("tokens").combine_chunks().flatten().to_numpy()
    assert flat.min() >= 0
    assert flat.max() < 2**31
    # heavy tail present (skew exercise)
    assert int(n_tok.max()) == synth.HEAVY_LEN


def test_regimes_have_distinct_stats():
    tbl = synth.tokens_table_arrow(800)
    import pyarrow.compute as pc

    flat = tbl.column("tokens").combine_chunks().flatten().to_numpy()
    assert flat.max() > 2**30          # wide regime hit
    ids = np.arange(800)
    small_rows = ids % 4 == 1
    n_tok = synth.n_tok_of(ids)
    offs = np.zeros(801, np.int64)
    np.cumsum(n_tok, out=offs[1:])
    small_max = max(
        flat[offs[i]:offs[i + 1]].max() for i in np.where(small_rows)[0]
    )
    assert small_max < synth.SMALL     # small regime bounded


def test_tokens_from_ids_refuses_null_id(spark):
    """A NULL doc_id has no tokens to derive: the kernel refuses it
    instead of emitting a garbage non-null row."""
    import pytest

    ids = spark.createDataFrame([(1,), (None,), (3,)], "doc_id bigint")
    with pytest.raises(Exception, match="NULL doc_id"):
        synth._tokens_from_ids(ids, doc_id_nullable=True).collect()
