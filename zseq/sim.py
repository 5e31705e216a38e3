"""Similarity search over the ``embeddings`` table's ``embedding``
column (array<float>, keyed by ``vec_id``).

Four families:

  brute-force top-k   exact integer-quantized dot product of each query
                      against every row; one broadcast join + window
                      rank. The oracle-checkable baseline.
  LSH (random         sign-bit buckets from deterministic integer
  hyperplanes)        hyperplanes; candidates ranked within the query's
                      bucket plus multi-probe neighbors. The corpus is
                      touched once to bucket.
  IVF                 coarse quantizer (modular pick, optionally refined
                      by integer Lloyd rounds) -> cell assignment as one
                      Arrow UDF projection (a numpy matmul against the
                      broadcast centroid matrix) -> queries probe their
                      nprobe best cells, exact rerank.
  embedding near-dups pairs co-located in an LSH bucket whose quantized
                      dot clears NEAR_DUP_MIN_DOT_Q.

Determinism: embeddings are quantized with floor(x * 1000) to int64 before
any arithmetic, so scores are exact integers and Spark == DuckDB ==
numpy bit-for-bit (float summation order never matters). Hyperplane
coefficients come from a fixed integer formula, not an RNG.

Scale notes: brute force is O(Q x N) — fine for reranking, not retrieval.
The LSH bucket join shuffles on (bucket), bounded by bucket occupancy;
``bits_for`` sizes the hyperplane count from the corpus so buckets stay
small at any scale, and multi-probe of neighboring buckets buys recall
(probe count is the recall knob).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT = 1000
SIM_BITS = 8

#: bits_for's target rows per LSH bucket and its fewest and most
#: hyperplanes.
LSH_OCCUPANCY = 64
LSH_MIN_BITS = 3
LSH_MAX_BITS = 30

#: Query count (vec_id < N_QUERIES) and result depth of the top-k
#: searches; their oracle twins read the same two constants.
N_QUERIES = 10
TOPK = 5

#: Integer Lloyd rounds of the kmeans IVF quantizer.
KMEANS_ITERS = 5

#: Embedding near-dup threshold on the quantized dot: cosine 0.4 x QUANT^2.
NEAR_DUP_MIN_DOT_Q = 400_000


def bits_for(n_rows: int) -> int:
    """Hyperplane count sized from the corpus: 2^bits buckets targeting
    ~LSH_OCCUPANCY rows per bucket, clamped to [LSH_MIN_BITS,
    LSH_MAX_BITS]. Unlike
    the fixed SIM_BITS constant it grows with the corpus: at 10^12 rows
    it yields 34->30 bits (capped), keeping the bucket join's per-key
    fan-in bounded instead of degenerating to 256 global buckets."""
    import math

    n = max(int(n_rows), 1)
    if n <= LSH_OCCUPANCY:
        return LSH_MIN_BITS
    return max(LSH_MIN_BITS,
               min(LSH_MAX_BITS, math.ceil(math.log2(n / LSH_OCCUPANCY))))


def _qdot(a: str, b: str) -> str:
    """Spark SQL: exact integer dot product of two float arrays."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"cast(floor(cast(x as double) * {QUANT}) as bigint) * "
        f"cast(floor(cast(y as double) * {QUANT}) as bigint)), 0L, "
        f"(acc, v) -> acc + v)"
    )


def _qdot_duck(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), i -> "
        f"cast(floor(cast({a}[i] as double) * {QUANT}) as bigint) * "
        f"cast(floor(cast({b}[i] as double) * {QUANT}) as bigint)))"
    )


def brute_force_topk(df: DataFrame) -> DataFrame:
    """Top-``TOPK`` neighbors (excluding self) for the first
    ``N_QUERIES`` ids by quantized dot product; ties broken by neighbor
    id (deterministic)."""
    from pyspark.sql import Window

    q = df.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    joined = df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
    ).join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = joined.selectExpr(
        "query_id", "neighbor_id", _qdot("qv", "nv") + " as score")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .selectExpr("cast(query_id as bigint) as query_id",
                    "cast(neighbor_id as bigint) as neighbor_id",
                    "cast(score as bigint) as score",
                    "cast(rank as bigint) as rank")
    )


def brute_force_topk_oracle_sql() -> str:
    dot = _qdot_duck("q.qv", "n.nv")
    return f"""
WITH q AS (SELECT vec_id as query_id, embedding as qv FROM embeddings
           WHERE vec_id < {N_QUERIES}),
     n AS (SELECT vec_id as neighbor_id, embedding as nv FROM embeddings),
     scored AS (
       SELECT q.query_id, n.neighbor_id, {dot} as score
       FROM q JOIN n ON n.neighbor_id != q.query_id),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) as rank
       FROM scored)
SELECT cast(query_id as bigint) as query_id,
       cast(neighbor_id as bigint) as neighbor_id,
       cast(score as bigint) as score, cast(rank as bigint) as rank
FROM ranked WHERE rank <= {TOPK}
"""


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (deterministic integer hyperplanes)
# ---------------------------------------------------------------------------

def _hyperplane_coef(j: int, d: int) -> int:
    """Fixed pseudo-random small-integer coefficient for hyperplane j,
    dim d — pure formula, identical in any engine."""
    return ((j * 1315423911 + d * 2654435761 + 97) % 17) - 8


def bucket_expr(dim: int, bits: int, dialect: str = "spark") -> str:
    """SQL expression computing the LSH bucket id (one sign bit per
    hyperplane) from the quantized embedding."""
    terms = []
    for j in range(bits):
        if dialect == "spark":
            dot = (
                "aggregate(zip_with(embedding, "
                f"array({', '.join(str(_hyperplane_coef(j, d)) for d in range(dim))}), "
                f"(x, c) -> cast(floor(cast(x as double) * {QUANT}) as bigint) * c), "
                f"0L, (acc, v) -> acc + v)"
            )
            terms.append(
                f"(case when ({dot}) > 0 then shiftleft(1L, {j}) else 0L end)"
            )
        else:
            coefs = ", ".join(str(_hyperplane_coef(j, d)) for d in range(dim))
            dot = (
                f"list_sum(list_transform(range(1, {dim} + 1), i -> "
                "cast(floor(cast(embedding[i] as double) * "
                f"{QUANT}) as bigint) * "
                f"([{coefs}])[i]))"
            )
            terms.append(
                f"(case when ({dot}) > 0 then (1::bigint << {j}) "
                f"else 0 end)"
            )
    return "(" + " + ".join(terms) + ")"


def lsh_buckets(df: DataFrame, dim: int) -> DataFrame:
    return df.selectExpr(
        "cast(vec_id as bigint) as vec_id",
        f"{bucket_expr(dim, SIM_BITS)} as bucket",
    )


def lsh_bucket_oracle_sql(dim: int) -> str:
    return (
        "SELECT cast(vec_id as bigint) as vec_id, "
        f"{bucket_expr(dim, SIM_BITS, dialect='duckdb')} as bucket "
        "FROM embeddings"
    )


def _probe_masks(bits: int, probes: int) -> list[int]:
    """XOR masks of the probed buckets: home bucket, all Hamming-1 flips
    (probes >= 1), all Hamming-2 flips (probes >= 2). Masks are distinct,
    so each (query, neighbor) pair matches at most once. Probed-bucket
    count is 1 + bits + C(bits,2) at probes=2 — at corpus scale (bits
    ~20-30) that's a few hundred buckets of ~LSH_OCCUPANCY rows each,
    the standard multi-probe cost/recall trade."""
    masks = [0]
    if probes >= 1:
        masks += [1 << j for j in range(bits)]
    if probes >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(bits) for j in range(i + 1, bits)]
    return masks


def lsh_topk(df: DataFrame, dim: int, bits: int | None = None,
             probes: int = 1) -> DataFrame:
    """ANN: rank by exact quantized dot product within the query's LSH
    bucket plus (probes >= 1) all Hamming-1 neighbor buckets. bits=None
    sizes the hyperplane count from the corpus (bits_for), so bucket
    occupancy stays bounded at any scale instead of being hostage to a
    global constant."""
    from pyspark.sql import Window

    if bits is None:
        bits = bits_for(df.count())
    b = df.selectExpr(
        "cast(vec_id as bigint) as vec_id", "embedding",
        f"{bucket_expr(dim, bits)} as bucket")
    probe = ", ".join(
        f"cast(bucket ^ {m} as bigint)" for m in _probe_masks(bits, probes))
    q = b.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id as query_id", "embedding as qv",
        f"explode(array({probe})) as bucket")
    joined = b.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"),
        "bucket",
    ).join(F.broadcast(q), on="bucket").filter(
        F.col("neighbor_id") != F.col("query_id"))
    scored = joined.selectExpr(
        "query_id", "neighbor_id", _qdot("qv", "nv") + " as score")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .selectExpr("cast(query_id as bigint) as query_id",
                    "cast(neighbor_id as bigint) as neighbor_id",
                    "cast(score as bigint) as score",
                    "cast(rank as bigint) as rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer -> cell assignment -> probe
# ---------------------------------------------------------------------------

#: Hard cap on the quantizer's K*dim, the broadcast centroid matrix:
#: 16M int64 terms = 128 MB of broadcast state per executor — the point
#: where "coarse quantizer as broadcast state" stops being coarse.
IVF_MAX_MATRIX_TERMS = 16_777_216


def _ivf_centroids(df: DataFrame, c_mod: int,
                   dim: int) -> list[tuple[int, list[int]]]:
    """Deterministic coarse quantizer: the rows with id % c_mod == 0 are
    the centroids (k-means would need an RNG + iterations; a
    deterministic arithmetic pick keeps Spark == DuckDB == rerun exact,
    and on L2-normalized corpora random-ish picks are the standard
    kmeans init anyway). Returns [(cid, quantized ints)] sorted by cid —
    a DRIVER collect of K rows, which is the point: the coarse quantizer
    IS broadcast state in any IVF system. K*dim is hard-capped at
    IVF_MAX_MATRIX_TERMS (128 MB of broadcast int64s); beyond that raise
    c_mod (the error says so)."""
    import math

    rows = (
        # null / null-element vectors can never be centroids (they are
        # normalized to null and join no cell); a WRONG-DIM vector that
        # lands here still raises below — that's input validation, not
        # dirty data, and must stay loud.
        df.filter(f"vec_id % {c_mod} = 0 and embedding is not null "
                  "and not exists(embedding, x -> x is null)")
        .selectExpr("cast(vec_id as bigint) as cid", "embedding")
        .collect()
    )
    if not rows:
        raise ValueError(
            f"ivf: no centroids (no vec_id % {c_mod} == 0 rows) — "
            "lower c_mod")
    if len(rows) * dim > IVF_MAX_MATRIX_TERMS:
        raise ValueError(
            f"ivf: {len(rows)} centroids x dim {dim} exceed the "
            f"broadcast-state cap {IVF_MAX_MATRIX_TERMS} terms — raise "
            "c_mod (or pass c_mod=None to auto-size K ~ sqrt(N))")
    out = []
    for r in sorted(rows, key=lambda r: r["cid"]):
        if len(r["embedding"]) != dim:
            raise ValueError(
                f"ivf: centroid {r['cid']} has dim {len(r['embedding'])}, "
                f"expected {dim}")
        q = [int(math.floor(float(x) * QUANT)) for x in r["embedding"]]
        out.append((int(r["cid"]), q))
    return out


def _kmeans_refine(base: DataFrame, cents: list[tuple[int, list[int]]],
                   dim: int) -> list[tuple[int, list[int]]]:
    """Deterministic integer Lloyd refinement of the modular init:
    ``KMEANS_ITERS`` fixed rounds of (assign every row to its argmax-dot cell,
    ties to the smaller cid) -> (new centroid = floor of the component-
    wise integer mean of its members' QUANT-quantized vectors). All
    arithmetic is int64 — sums are associative/commutative EXACTLY, so
    the result is independent of Spark partitioning/scheduling and a
    rerun reproduces it bit-for-bit (the reason this is Lloyd-over-ints
    and not float k-means). Cell labels keep the init's cids; a cell
    that goes empty keeps its previous centroid (standard Lloyd).

    Cost: per round, one corpus scan for assignment (the query path's
    Arrow matrix prober, :func:`_ivf_probe_udfs`) plus one
    map-side-combined aggregation whose shuffle is K*dim partial sums —
    bounded by the same IVF_MAX_MATRIX_TERMS cap as the quantizer
    itself, never corpus-sized.

    The sums run in Spark SQL under ANSI mode (Spark 4's default), so a
    cell whose bigint sum passes int64 raises an arithmetic overflow
    instead of wrapping; the assignment's int64 matmul is guarded in
    :func:`_probe_cells` the same way."""
    qcols = [
        f"cast(floor(cast(embedding[{i}] as double) * {QUANT}) as bigint)"
        f" as q{i}"
        for i in range(dim)
    ]
    for _ in range(KMEANS_ITERS):
        bc, (assign1,) = _ivf_probe_udfs(base, cents, [1])
        stats = (
            base.withColumn("cid", F.element_at(assign1("embedding"), 1))
            .filter("cid is not null")
            .selectExpr("cid", *qcols)
            .groupBy("cid")
            .agg(F.count("*").alias("n"),
                 *[F.sum(f"q{i}").alias(f"s{i}") for i in range(dim)])
            .collect()
        )
        # this round's centroid broadcast is dead once the stats are
        # collected — release it instead of pinning one per round
        bc.unpersist(False)
        by_cid = {int(r["cid"]): r for r in stats}
        new: list[tuple[int, list[int]]] = []
        for cid, q in cents:
            r = by_cid.get(cid)
            if r is None or not r["n"]:
                new.append((cid, q))
            else:
                n = int(r["n"])
                # python floor division == floor for negatives too —
                # matches the floor-quantization convention everywhere
                new.append((cid, [int(r[f"s{i}"]) // n
                                  for i in range(dim)]))
        cents = new
    return cents


def _probe_cells(vs: pa.ListArray, cids: np.ndarray, mat: np.ndarray,
                 n: int) -> pa.ListArray:
    """One Arrow batch of vectors -> each row's ``n`` best cids, best
    first. The non-null rows' flat values become one (rows, dim) matrix,
    quantized like the SQL ``cast(floor(x * QUANT) as bigint)`` under
    ANSI: NaN -> 0, and +/-Inf or a finite value past int64 raises. One
    int64 matmul scores every cell; it is refused before it runs when
    ``max|q| * max|c| * dim`` could wrap int64 (the SQL sum would raise
    an ANSI overflow). Ties go to the smaller cid (``cids`` is sorted,
    argmax takes the first max, the argsort is stable). A null row gets
    a null list, so it joins no cell."""
    dim = mat.shape[1]
    if pc.any(pc.not_equal(pc.list_value_length(vs), dim)).as_py():
        raise ValueError(
            f"ivf probe: a non-null embedding's length is not dim {dim}")
    valid = vs.is_valid().to_numpy(zero_copy_only=False)
    x = vs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    with np.errstate(over="ignore"):  # an infinite product is refused
        scaled = np.floor(x.reshape(-1, dim) * QUANT)
    if np.isinf(scaled).any():
        raise ValueError(
            "ivf probe: an embedding value is infinite after "
            f"x{QUANT} quantization. Normalize embeddings before indexing.")
    over = (scaled > 9.223372036854774e18) | (scaled < -9.223372036854775e18)
    if over.any():
        raise ValueError(
            "ivf probe: embedding value "
            f"{float(scaled[over][0]) / QUANT!r} overflows int64 after "
            f"x{QUANT} quantization. Normalize embeddings before indexing.")
    q = np.nan_to_num(scaled, nan=0.0).astype(np.int64)
    if q.size and mat.size:
        # in exact Python ints, so the bound itself cannot wrap
        bound = (max(int(q.max()), -int(q.min()))
                 * max(int(mat.max()), -int(mat.min())) * dim)
        if bound > np.iinfo(np.int64).max:
            raise ValueError(
                f"ivf probe: a score may reach {bound:,}, past int64: "
                "the int64 matmul would wrap. Normalize embeddings "
                "before indexing.")
    scores = q @ mat.T                    # (rows, K) exact int64
    if n == 1:
        # O(K) first max: the per-corpus-row hot path; only the query
        # rows pay the O(K log K) argsort
        tops = cids[scores.argmax(axis=1)][:, None]
    else:
        # ~s == -s - 1 orders like -s without -int64_min overflowing
        tops = cids[np.argsort(~scores, axis=1, kind="stable")[:, :n]]
    offsets = np.zeros(len(vs) + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(valid * tops.shape[1])
    return pa.ListArray.from_arrays(offsets, pa.array(tops.ravel()),
                                    mask=pa.array(~valid))


def _ivf_probe_udfs(df: DataFrame, cents: list[tuple[int, list[int]]],
                    ns: list[int]):
    """Cell probers: the (K, dim) int64 centroid matrix is one explicit
    Spark BROADCAST, shared by every returned prober (at the 16M-term cap
    a duplicate would double 128 MB of executor state), and each Arrow
    batch is scored by :func:`_probe_cells`. No per-row Python and no
    K x dim literals in the plan: Catalyst sees one ArrowEvalPython
    projection. Returns the broadcast (iterative callers unpersist it)
    and one Arrow UDF per entry of ``ns``."""
    from pyspark.sql.functions import arrow_udf

    bc = df.sparkSession.sparkContext.broadcast(
        (np.array([c for c, _ in cents], dtype=np.int64),
         np.array([q for _, q in cents], dtype=np.int64)))

    def make(n: int):
        @arrow_udf("array<bigint>")
        def probe(vs: pa.Array) -> pa.Array:
            return _probe_cells(vs, *bc.value, n)

        # Marked nondeterministic only so that Catalyst does not copy the
        # prober into the isnotnull(cid) filter it infers and pushes below
        # the projection: the corpus goes through Python once, not twice.
        return probe.asNondeterministic()

    return bc, [make(n) for n in ns]


def ivf_topk(df: DataFrame, dim: int, c_mod: int | None = 50,
             nprobe: int = 2,
             quantizer: str = "modular") -> DataFrame:
    """IVF ANN: every corpus row is assigned to its nearest centroid's
    cell (argmax quantized dot, ties to the smaller cid); a query probes
    its ``nprobe`` best cells and is reranked exactly against only those
    cells' rows. ``c_mod=None`` auto-sizes the quantizer to K ~ sqrt(N)
    (the textbook IVF cell count) from a corpus count; ``dim`` is
    validated against the centroid vectors.

    Plan shape (the IVF scale story): cell assignment is a single
    PROJECTION, so the corpus is touched once with no join, no shuffle,
    and no per-row sort. The centroid matrix rides an explicit broadcast
    and assignment is an Arrow-batched numpy matmul+argmax
    (:func:`_ivf_probe_udfs`), so the plan never holds K x dim literals
    (production dims 768-1536 would blow Catalyst up on them).
    Only the N_QUERIES QUERY rows pay the top-nprobe sort. The probe
    join broadcasts (N_QUERIES x nprobe) rows; one shuffle for the
    per-query rank window. Probing all cells (nprobe >= centroid count)
    degenerates to exact brute force — the recall knob is explicit.

    ``quantizer='kmeans'`` refines the modular pick with KMEANS_ITERS
    deterministic integer Lloyd rounds (:func:`_kmeans_refine`) — better
    recall / cell balance on CLUSTERED embeddings, identical determinism
    (all-int arithmetic; a rerun is bit-exact). The default stays
    'modular': reproducible without extra corpus scans, and the standard
    random-ish init on normalized corpora."""
    import math

    from pyspark.sql import Window

    if quantizer not in ("modular", "kmeans"):
        raise ValueError(
            f"ivf: unknown quantizer {quantizer!r} "
            "(one of 'modular', 'kmeans')")
    if c_mod is None:
        n = df.count()
        # K = N / c_mod ~ sqrt(N)  =>  c_mod ~ sqrt(N)
        c_mod = max(1, int(math.sqrt(max(n, 1))))
    cents = _ivf_centroids(df, c_mod, dim)
    # A vector with a NULL ELEMENT or a WRONG LENGTH is normalized to a
    # NULL VECTOR before the prober sees it (the SQL rerank's zip_with
    # would propagate element nulls and truncate ragged vectors). Null
    # vectors get a null probe list, join no cell and drop out.
    base = df.selectExpr(
        "cast(vec_id as bigint) as vec_id",
        "case when exists(embedding, x -> x is null) "
        f"or size(embedding) != {dim} then null "
        "else embedding end as embedding")
    if quantizer == "kmeans":
        cents = _kmeans_refine(base, cents, dim)
    _, (assign1, proben) = _ivf_probe_udfs(base, cents, [1, nprobe])
    assigned = base.withColumn(
        "cid", F.element_at(assign1(F.col("embedding")), 1))
    q = (
        base.filter(f"vec_id < {N_QUERIES}")
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
                F.explode(proben(F.col("embedding"))).alias("cid"))
    )
    joined = assigned.selectExpr(
        "vec_id as neighbor_id", "embedding as nv", "cid"
    ).join(F.broadcast(q), on="cid").filter(
        F.col("neighbor_id") != F.col("query_id"))
    scored = joined.selectExpr(
        "query_id", "neighbor_id", _qdot("qv", "nv") + " as score")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .selectExpr("cast(query_id as bigint) as query_id",
                    "cast(neighbor_id as bigint) as neighbor_id",
                    "cast(score as bigint) as score",
                    "cast(rank as bigint) as rank")
    )


def ivf_topk_oracle_sql(dim: int, c_mod: int = 50, nprobe: int = 2) -> str:
    """Static SQL mirror: centroids re-derived from the same arithmetic
    rule, assignment/probing via window-rank argmax (same score-DESC,
    cid-ASC tiebreak), exact quantized rerank."""
    adot = _qdot_duck("b.v", "c.cv")
    sdot = _qdot_duck("qb.v", "nb.v")
    return f"""
WITH base AS (SELECT cast(vec_id as bigint) as id, embedding as v
              FROM embeddings),
     cents AS (SELECT id as cid, v as cv FROM base WHERE id % {c_mod} = 0),
     adots AS (SELECT b.id, c.cid, {adot} as s FROM base b, cents c),
     ranked_cells AS (
       SELECT id, cid, row_number() OVER (PARTITION BY id
              ORDER BY s DESC, cid ASC) as rn FROM adots),
     assign AS (SELECT id, cid FROM ranked_cells WHERE rn = 1),
     qprob AS (SELECT id as query_id, cid FROM ranked_cells
               WHERE id < {N_QUERIES} AND rn <= {nprobe}),
     scored AS (
       SELECT q.query_id, a.id as neighbor_id, {sdot} as score
       FROM qprob q JOIN assign a USING (cid)
            JOIN base qb ON qb.id = q.query_id
            JOIN base nb ON nb.id = a.id
       WHERE a.id != q.query_id),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) as rank
       FROM scored)
SELECT cast(query_id as bigint) as query_id,
       cast(neighbor_id as bigint) as neighbor_id,
       cast(score as bigint) as score, cast(rank as bigint) as rank
FROM ranked WHERE rank <= {TOPK}
"""


def ivf_topk_kmeans_oracle_sql(dim: int, c_mod: int = 50,
                               nprobe: int = 2) -> str:
    """Static SQL mirror of ``ivf_topk(quantizer='kmeans')``: the
    fixed-iteration integer Lloyd refinement (:func:`_kmeans_refine`) is
    UNROLLED as KMEANS_ITERS CTE layers — assignment by argmax integer dot
    (ties to the smaller cid), new centroid = component-wise floor-mean
    of the members' QUANT-quantized vectors, empty cells keep their
    previous centroid. All-int arithmetic makes the Spark result
    partitioning-independent, which is exactly what lets a sequential
    SQL engine reproduce it bit-for-bit. The floor-mean is computed as
    ``floor(s/n)`` in doubles: |s| <= rows*QUANT stays far under 2^53
    and the nearest non-integer true quotient is 1/n away from an
    integer, so double rounding cannot cross a floor boundary."""
    idot = (f"list_sum(list_transform(range(1, {dim} + 1), "
            "i -> b.qv[i] * c.cq[i]))")
    sdot = _qdot_duck("qr.v", "nb.v")
    layers = []
    for t in range(KMEANS_ITERS):
        layers.append(f"""
     a{t} AS (SELECT id, cid FROM (
       SELECT b.id, c.cid, row_number() OVER (PARTITION BY b.id
              ORDER BY {idot} DESC, c.cid ASC) as rn
       FROM qb b, c{t} c) WHERE rn = 1),
     n{t} AS (SELECT cid, count(*) as n FROM a{t} GROUP BY cid),
     m{t} AS (SELECT a.cid, e.i, sum(e.q) as s
              FROM a{t} a JOIN qe e USING (id) GROUP BY a.cid, e.i),
     u{t} AS (SELECT m.cid,
                     list(cast(floor(cast(m.s as double) / n.n) as bigint)
                          ORDER BY m.i) as cq
              FROM m{t} m JOIN n{t} n USING (cid) GROUP BY m.cid),
     c{t + 1} AS (SELECT c.cid, coalesce(u.cq, c.cq) as cq
                  FROM c{t} c LEFT JOIN u{t} u USING (cid))""")
    return f"""
WITH base AS (SELECT cast(vec_id as bigint) as id, embedding as v
              FROM embeddings),
     qb AS (SELECT id, list_transform(v, x ->
              cast(floor(cast(x as double) * {QUANT}) as bigint)) as qv
            FROM base),
     qe AS (SELECT id, i, qv[i] as q
            FROM qb, range(1, {dim} + 1) t(i)),
     c0 AS (SELECT id as cid, qv as cq FROM qb WHERE id % {c_mod} = 0),
     {",".join(layers)},
     adots AS (SELECT b.id, c.cid, {idot} as s FROM qb b, c{KMEANS_ITERS} c),
     ranked_cells AS (
       SELECT id, cid, row_number() OVER (PARTITION BY id
              ORDER BY s DESC, cid ASC) as rn FROM adots),
     assign AS (SELECT id, cid FROM ranked_cells WHERE rn = 1),
     qprob AS (SELECT id as query_id, cid FROM ranked_cells
               WHERE id < {N_QUERIES} AND rn <= {nprobe}),
     scored AS (
       SELECT q.query_id, a.id as neighbor_id, {sdot} as score
       FROM qprob q JOIN assign a USING (cid)
            JOIN base qr ON qr.id = q.query_id
            JOIN base nb ON nb.id = a.id
       WHERE a.id != q.query_id),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) as rank
       FROM scored)
SELECT cast(query_id as bigint) as query_id,
       cast(neighbor_id as bigint) as neighbor_id,
       cast(score as bigint) as score, cast(rank as bigint) as rank
FROM ranked WHERE rank <= {TOPK}
"""


def embedding_near_dups(df: DataFrame, dim: int, bits: int | None = None,
                        probes: int = 1) -> DataFrame:
    """Embedding near-duplicate pairs (the dedup brief's embedding-cosine
    family): pairs co-located in an LSH bucket (with Hamming multi-probe)
    whose exact quantized dot product >= NEAR_DUP_MIN_DOT_Q. Embeddings are
    assumed L2-normalized, so the quantized dot IS cosine x QUANT^2 and
    the integer threshold is exact cross-engine.

    Scale shape: the corpus is bucketed once; the self-join shuffles on
    bucket with fan-out 1 + bits (+ C(bits,2) at probes=2) on the probe
    side, bounded by bucket occupancy (bits_for keeps that ~constant at
    any corpus size). Each qualifying pair appears exactly once: probe
    masks are distinct and the a<b filter keeps one orientation."""
    if bits is None:
        bits = bits_for(df.count())
    b = df.selectExpr(
        "cast(vec_id as bigint) as vec_id", "embedding",
        f"{bucket_expr(dim, bits)} as bucket")
    probe = ", ".join(
        f"cast(bucket ^ {m} as bigint)" for m in _probe_masks(bits, probes))
    a = b.selectExpr("vec_id as doc_a", "embedding as va",
                     f"explode(array({probe})) as bucket")
    bb = b.selectExpr("vec_id as doc_b", "embedding as vb", "bucket")
    return (
        a.join(bb, on="bucket")
        .filter("doc_a < doc_b")
        .selectExpr("doc_a", "doc_b", _qdot("va", "vb") + " as dot")
        .filter(f"dot >= {NEAR_DUP_MIN_DOT_Q}")
        .selectExpr("doc_a", "doc_b", "cast(dot as bigint) as dot")
    )


def embedding_near_dups_oracle_sql(dim: int, bits: int = SIM_BITS,
                                   probes: int = 1) -> str:
    bx = bucket_expr(dim, bits, dialect="duckdb")
    dot = _qdot_duck("a.va", "bb.vb")
    probe_list = ", ".join(
        f"xor(bucket, {m})" for m in _probe_masks(bits, probes))
    return f"""
WITH b AS (SELECT cast(vec_id as bigint) as vec_id, embedding,
                  {bx} as bucket FROM embeddings),
     a AS (SELECT vec_id as doc_a, embedding as va,
                  unnest([{probe_list}]) as bucket FROM b),
     bb AS (SELECT vec_id as doc_b, embedding as vb, bucket FROM b),
     pairs AS (
       SELECT a.doc_a, bb.doc_b, {dot} as dot
       FROM a JOIN bb USING (bucket) WHERE a.doc_a < bb.doc_b)
SELECT doc_a, doc_b, cast(dot as bigint) as dot
FROM pairs WHERE dot >= {NEAR_DUP_MIN_DOT_Q}
"""


def lsh_topk_oracle_sql(dim: int, bits: int = SIM_BITS,
                        probes: int = 1) -> str:
    bx = bucket_expr(dim, bits, dialect="duckdb")
    dot = _qdot_duck("q.qv", "n.nv")
    probe_list = ", ".join(
        f"xor(bucket, {m})" for m in _probe_masks(bits, probes))
    return f"""
WITH b AS (SELECT cast(vec_id as bigint) as vec_id, embedding,
                  {bx} as bucket FROM embeddings),
     q AS (SELECT vec_id as query_id, embedding as qv,
                  unnest([{probe_list}]) as bucket FROM b
           WHERE vec_id < {N_QUERIES}),
     n AS (SELECT vec_id as neighbor_id, embedding as nv, bucket FROM b),
     scored AS (
       SELECT q.query_id, n.neighbor_id, {dot} as score
       FROM q JOIN n ON q.bucket = n.bucket
       WHERE n.neighbor_id != q.query_id),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id ASC) as rank
       FROM scored)
SELECT cast(query_id as bigint) as query_id,
       cast(neighbor_id as bigint) as neighbor_id,
       cast(score as bigint) as score, cast(rank as bigint) as rank
FROM ranked WHERE rank <= {TOPK}
"""
