"""Replicates the driver's correctness gate locally: run every
__spark_entry__ query AND its DuckDB oracle on the same parquet tables,
compare row counts + values (order-insensitive, columns sorted by name)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

SF_DIR = os.environ.get("ZSEQ_TEST_SF", "/root/testdata/sf0.001")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/lineitem.parquet"),
    reason="driver testdata not present",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(r):
        out = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            out.append((v is None, str(v)))
        return out

    return sorted([key(r) for r in rows])


QUERIES = sorted(E.queries())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = E.queries()[name]
    df = q(spark, SF_DIR)
    got_cols = df.columns
    got = [tuple(r) for r in df.collect()]
    sql = E.oracle_sql().get(name)
    assert sql is not None, f"{name}: no oracle"
    res = duck.execute(sql)
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    assert sorted(got_cols) == sorted(want_cols), (got_cols, want_cols)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    assert _norm(got, got_cols) == _norm(want, want_cols), name


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {f.name for f in df.schema.fields} == {
        "source", "docs", "total_tokens", "checksum"}
