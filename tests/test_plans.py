"""Physical-plan shape regression tests: the scale-critical properties
(single candidate materialization, broadcast sides) asserted on the
actual executed plans so a refactor can't silently reintroduce a
recompute or flip a broadcast into a shuffle join."""

import re

import pytest

from zseq import dedup, sim


def _plan(df):
    df.count()  # materialize localCheckpoints so the final plan is real
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_dedup_materializes_candidates_once(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(40)]
        + [(100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in (0, 7)],
        "doc_id long, text string")
    plan = _plan(dedup.minhash_dedup(docs, min_num=1, min_den=2))
    # the banded LSH join and the shingle sets are checkpointed: the
    # verification joins must read ExistingRDD scans, not re-derive them
    assert plan.count("Scan ExistingRDD") >= 2
    # no xxhash64 signature computation may survive into the final plan
    assert "xxhash64" not in plan


def test_brute_force_topk_broadcasts_queries(spark, monkeypatch):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(50)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim, "N_QUERIES", 3)
    monkeypatch.setattr(sim, "TOPK", 2)
    plan = _plan(sim.brute_force_topk(vecs))
    assert "Broadcast" in plan  # query side broadcast, never shuffled


def test_lsh_topk_broadcasts_probes(spark, monkeypatch):
    import numpy as np

    rng = np.random.default_rng(4)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(80)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(sim, "N_QUERIES", 3)
    monkeypatch.setattr(sim, "TOPK", 2)
    plan = _plan(sim.lsh_topk(vecs, dim=8, bits=3, probes=1))
    assert "BroadcastHashJoin" in plan


def test_contamination_shuffles_only_fingerprints(spark):
    """PLANS.md row: exactly two hash exchanges (train distinct-fp and
    per-eval-doc agg), both over fingerprint/id-sized rows — document
    TEXT never reaches an exchange."""
    from zseq import textops

    train = spark.createDataFrame(
        [(i, f"some training document number {i} with shared words")
         for i in range(30)], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "benchmark about training document number 3 indeed")],
        "doc_id long, text string")
    df = textops.contamination(train, ev)
    plan = _plan(df)
    # AQE may broadcast the train fp set (2 exchanges) or shuffle both
    # join sides (3); either way every exchange key must be fp/doc_id
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert 2 <= len(exchanges) <= 3, plan
    assert {e.split("#")[0] for e in exchanges} <= {"fp", "doc_id"}, plan
    # ...and no exchange PAYLOAD may carry the text column. The
    # toString() form prints only partitioning keys, so use formatted
    # explain, whose per-node "Input [n]" line is the actual row.
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    fmt = df._jdf.queryExecution().explainString(mode)
    exch_secs = [sec for sec in re.split(r"\n\(\d+\) ", fmt)
                 if sec.startswith(("Exchange", "BroadcastExchange"))]
    assert exch_secs, fmt
    for sec in exch_secs:
        inp = next(l for l in sec.splitlines() if l.startswith("Input"))
        assert "text#" not in inp, sec
