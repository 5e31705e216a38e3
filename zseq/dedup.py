"""Deduplication operators for a training-data pipeline.

Five families, scale-ranked:

  exact          md5-of-normalized-text groupBy            (oracle-checked)
  ngram_jaccard  exact word-k-gram Jaccard over pairs      (oracle-checked)
  minhash_lsh    MinHash signatures -> banded LSH buckets -> candidate
                 pairs -> exact-Jaccard verification       (rows-only; the
                 verification step reuses the oracle-checked exact kernel)
  simhash        64-bit SimHash + Hamming-radius buckets   (rows-only)
  embedding      cosine near-dup over an embedding column  (see zseq.sim)

Scale notes: exact dedup is one hash-shuffle. ngram_jaccard's pair join is
quadratic in bucket size and exists as the small-scale oracle + the
verification kernel; at 10^12 scale only minhash_lsh's banded join runs
over the full corpus (shuffle keyed on (band, bucket-hash) — bounded fan-
out per bucket, skew observable via bucket-size metrics). All hashing is
Spark-native xxhash64/md5 (JVM, codegen); MinHash sig aggregation is one
groupBy(min) per hash — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textops import SHINGLE_K, fingerprint_exprs, shingle_exprs

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_groups(df: DataFrame) -> DataFrame:
    """Group identical (normalized) texts; keeper = min doc_id per group."""
    fp_s, _ = fingerprint_exprs()
    return (
        df.selectExpr("cast(doc_id as bigint) as doc_id",
                      f"{fp_s} as fingerprint")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper"),
             F.count("*").alias("group_size"))
    )


def exact_groups_oracle_sql() -> str:
    _, fp_d = fingerprint_exprs()
    return (
        f"SELECT {fp_d} as fingerprint, "
        f"cast(min(doc_id) as bigint) as keeper, "
        f"cast(count(*) as bigint) as group_size "
        f"FROM documents GROUP BY {fp_d}"
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (the verification kernel + small-scale oracle)
# ---------------------------------------------------------------------------

def _shingle_table(df: DataFrame) -> DataFrame:
    sh_s, _ = shingle_exprs()
    return (
        df.selectExpr("cast(doc_id as bigint) as doc_id",
                      f"array_distinct({sh_s}) as sh")
        .selectExpr("doc_id", "size(sh) as n_sh",
                    "explode(sh) as shingle")
    )


#: The hot-shingle guard of ``ngram_jaccard_pairs``: None keeps the exact,
#: oracle-checked kernel.
NGRAM_MAX_DOC_FREQ: int | None = None


def ngram_jaccard_pairs(df: DataFrame, min_num: int = 1,
                        min_den: int = 5) -> DataFrame:
    """All pairs with Jaccard >= min_num/min_den over distinct word
    SHINGLE_K-grams, computed exactly. Integer arithmetic only (cross-
    multiplied threshold), so the DuckDB oracle matches bit-for-bit.

    ``NGRAM_MAX_DOC_FREQ`` is the hot-shingle guard for the quadratic
    self-join: a shingle present in n docs contributes n^2/2 join rows,
    and boilerplate shingles (headers, license text) appear in millions
    of docs. When set, shingles with document frequency above it are
    dropped BEFORE the join and Jaccard is computed over each document's
    *rare-shingle projection* (n_sh counts kept shingles, so the metric
    stays internally consistent). This is the standard df-capping
    approximation; None keeps the exact oracle-checked kernel."""
    if NGRAM_MAX_DOC_FREQ is not None:
        sh_s, _ = shingle_exprs()
        ex = (df.selectExpr("cast(doc_id as bigint) as doc_id",
                            f"array_distinct({sh_s}) as sh")
              .selectExpr("doc_id", "explode(sh) as shingle"))
        keep = (ex.groupBy("shingle").count()
                .filter(F.col("count") <= NGRAM_MAX_DOC_FREQ)
                .select("shingle"))
        kept = ex.join(keep, on="shingle", how="left_semi")
        n = kept.groupBy("doc_id").agg(
            F.count("*").cast("int").alias("n_sh"))
        sh = kept.join(n, on="doc_id").select("doc_id", "n_sh", "shingle")
    else:
        sh = _shingle_table(df)
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col("a.n_sh").alias("n_a"),
                 F.col("b.n_sh").alias("n_b"))
        .agg(F.count("*").alias("i_cnt"))
        .selectExpr("doc_a", "doc_b", "cast(i_cnt as bigint) as i_cnt",
                    "cast(n_a + n_b - i_cnt as bigint) as u_cnt")
        .filter(f"i_cnt * {min_den} >= u_cnt * {min_num}")
    )
    return pairs


def ngram_jaccard_oracle_sql(min_num: int = 1, min_den: int = 5) -> str:
    _, sh_d = shingle_exprs()
    return f"""
WITH sh AS (
  SELECT cast(doc_id as bigint) as doc_id,
         unnest(list_distinct({sh_d})) as shingle,
         len(list_distinct({sh_d})) as n_sh
  FROM documents
)
SELECT a.doc_id as doc_a, b.doc_id as doc_b,
       cast(count(*) as bigint) as i_cnt,
       cast(a.n_sh + b.n_sh - count(*) as bigint) as u_cnt
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
HAVING count(*) * {min_den} >= (a.n_sh + b.n_sh - count(*)) * {min_num}
"""


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------
#
# Pluggable 64-bit hash family. "xxhash64" (the default) is Spark's
# native JVM hash — the production choice (codegen, zero allocation) but
# inexpressible in DuckDB, so pipelines built on it can only be value-
# checked via planted corpora. "md5" derives a 60-bit non-negative
# bigint from the first 15 hex chars of md5 — bit-identical in Spark
# (conv(.., 16, 10)) and DuckDB (hex-literal cast), making the RAW
# candidate sets of minhash-LSH and simhash deterministically oracle-
# checkable. Probed cross-engine (see tests/test_dedup_sim.py): the
# 60-bit value, arithmetic >> on negatives, bit_count over two's
# complement, and min-long literals all agree.

HASH_FAMILIES = ("xxhash64", "md5")

#: MinHash signature length and its LSH banding (16 bands x 4 rows).
MINHASH_HASHES = 64
MINHASH_BANDS = 16

#: The hot-bucket guard of ``lsh_candidate_pairs``: None keeps every
#: bucket.
LSH_MAX_BUCKET: int | None = None


def _check_family(hash_family: str) -> None:
    if hash_family not in HASH_FAMILIES:
        raise ValueError(
            f"unknown hash_family {hash_family!r}: one of {HASH_FAMILIES}")


def _h64_spark(expr: str, seed: int, hash_family: str) -> str:
    """Spark SQL expr: 64-bit (xxhash64) / 60-bit (md5) bigint hash."""
    if hash_family == "xxhash64":
        return f"xxhash64({expr}, {seed})"
    return (f"cast(conv(substr(md5(concat({expr}, '|', {seed})), 1, 15), "
            "16, 10) as bigint)")


def _h64_duck(expr: str, seed: int) -> str:
    """DuckDB twin of the md5 family (xxhash64 has no DuckDB twin)."""
    return (f"cast(concat('0x', substr(md5(concat({expr}, '|', {seed})), "
            "1, 15)) as bigint)")


def minhash_signatures(df: DataFrame,
                       hash_family: str = "xxhash64") -> DataFrame:
    """MinHash over word shingles: h_i(doc) = min over shingles of
    hash(shingle, seed=i), i < MINHASH_HASHES. One explode + one
    groupBy(min array) — fully JVM-side for either family (md5 is JVM
    codegen too, just a wider expression)."""
    _check_family(hash_family)
    sh = _shingle_table(df)
    mins = [
        F.min(F.expr(_h64_spark("shingle", i, hash_family))).alias(f"h{i}")
        for i in range(MINHASH_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*mins).select(
        "doc_id",
        F.array(*[f"h{i}" for i in range(MINHASH_HASHES)]).alias("sig")
    )


def lsh_candidate_pairs(sigs: DataFrame,
                        hash_family: str = "xxhash64") -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates.
    Shuffle key = (band, hash(band slice)): the only join at corpus scale.

    ``LSH_MAX_BUCKET`` is the hot-bucket guard for that join: a bucket
    of n docs yields n^2/2 candidate pairs, and real corpora have giant
    boilerplate cliques, so at 10^12 rows one hot bucket can dominate
    the whole job. Larger buckets are dropped BEFORE the
    self-join (one map-side-combinable count + semi-join). The trade is
    explicit and standard: members of a dropped bucket are near-exact
    duplicate cliques, which `exact_groups` already collapses for a
    linear price — LSH only needs to find the non-identical tail."""
    _check_family(hash_family)
    n = MINHASH_HASHES // MINHASH_BANDS

    def _bucket(b: int):
        lo = b * n + 1
        if hash_family == "xxhash64":
            return F.xxhash64(F.slice("sig", lo, n))
        # md5 family: hash the band slice serialized as comma-joined
        # decimal digits — the exact string DuckDB's ordered string_agg
        # rebuilds (md5-family sig values are 60-bit non-negative, so
        # decimal rendering is sign-free in both engines).
        slice_str = (f"array_join(transform(slice(sig, {lo}, {n}), "
                     "x -> cast(x as string)), ',')")
        return F.expr(_h64_spark(slice_str, 0, "md5"))

    banded = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                _bucket(b).alias("bucket"),
            )
            for b in range(MINHASH_BANDS)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    if LSH_MAX_BUCKET is not None:
        keep = (banded.groupBy("band", "bucket").count()
                .filter(F.col("count") <= LSH_MAX_BUCKET)
                .select("band", "bucket"))
        banded = banded.join(keep, on=["band", "bucket"], how="left_semi")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup(df: DataFrame, min_num: int = 1, min_den: int = 5,
                  hash_family: str = "xxhash64") -> DataFrame:
    """Candidates from LSH, verified by exact Jaccard — and ONLY candidate
    pairs pay verification. The corpus-scale plan is: one banded equi-join
    over the full corpus (candidate generation), then a semi-join that
    restricts the document set to candidate ids, then two hash joins that
    attach each candidate doc's distinct-shingle array and compute the
    intersection with array_intersect. No all-pairs shingle join ever runs
    over the full corpus (that quadratic blow-up is exactly what LSH
    exists to avoid)."""
    sigs = minhash_signatures(df, hash_family=hash_family)
    # The candidate set is referenced three times below (ids twice, the
    # verification join once). Without materialization Spark re-executes
    # the full-corpus banded join per reference — localCheckpoint makes
    # it compute exactly once (its size is the LSH output: bounded by
    # bucket occupancy, tiny next to the corpus).
    cand = lsh_candidate_pairs(
        sigs, hash_family=hash_family).localCheckpoint(False)
    # Shingle arrays only for docs that appear in some candidate pair.
    ids = (cand.selectExpr("doc_a as doc_id")
           .union(cand.selectExpr("doc_b as doc_id")).distinct())
    sh_s, _ = shingle_exprs()
    sets = (
        df.selectExpr("cast(doc_id as bigint) as doc_id", "text")
        .join(ids, on="doc_id", how="left_semi")
        .selectExpr("doc_id", f"array_distinct({sh_s}) as sh")
        .selectExpr("doc_id", "sh", "size(sh) as n_sh")
        .localCheckpoint(False)  # referenced by both join sides below
    )
    return (
        cand
        .join(sets.selectExpr("doc_id as doc_a", "sh as sh_a",
                              "n_sh as n_a"), on="doc_a")
        .join(sets.selectExpr("doc_id as doc_b", "sh as sh_b",
                              "n_sh as n_b"), on="doc_b")
        .selectExpr(
            "doc_a", "doc_b",
            "cast(size(array_intersect(sh_a, sh_b)) as bigint) as i_cnt",
            "cast(n_a + n_b - size(array_intersect(sh_a, sh_b)) as bigint)"
            " as u_cnt")
        .filter(f"i_cnt * {min_den} >= u_cnt * {min_num}")
        .select("doc_a", "doc_b", "i_cnt", "u_cnt")
    )


def minhash_dedup_oracle_sql(min_num: int = 1, min_den: int = 5) -> str:
    """DuckDB twin of ``minhash_dedup(..., hash_family='md5')`` — the
    FULL pipeline (signatures -> banded buckets -> candidate pairs ->
    exact-Jaccard verification), deterministically value-checkable
    because every hash is the shared md5-derived 60-bit family. The
    banded bucket rebuilds Spark's serialization exactly: band-slice
    values comma-joined in seed order (string_agg ORDER BY seed ==
    array_join over the sig slice), then hashed with seed 0."""
    rows = MINHASH_HASHES // MINHASH_BANDS
    _, sh_d = shingle_exprs()
    # per-seed shingle hash: seed is the cross-joined t.i, not a literal
    h_shingle = ("cast(concat('0x', substr(md5(concat(shingle, '|', t.i)), "
                 "1, 15)) as bigint)")
    bucket = _h64_duck("string_agg(cast(h as varchar), ',' ORDER BY seed)",
                       0)
    return f"""
WITH sh AS (
  SELECT cast(doc_id as bigint) as doc_id,
         unnest(list_distinct({sh_d})) as shingle,
         len(list_distinct({sh_d})) as n_sh
  FROM documents
),
hs AS (
  SELECT doc_id, t.i as seed, min({h_shingle}) as h
  FROM sh CROSS JOIN range({MINHASH_HASHES}) t(i)
  GROUP BY doc_id, t.i
),
band AS (
  SELECT doc_id, seed // {rows} as band, {bucket} as bucket
  FROM hs GROUP BY doc_id, seed // {rows}
),
cand AS (
  SELECT DISTINCT a.doc_id as doc_a, b.doc_id as doc_b
  FROM band a JOIN band b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
ver AS (
  SELECT c.doc_a, c.doc_b,
         cast(count(*) as bigint) as i_cnt,
         cast(a.n_sh + b.n_sh - count(*) as bigint) as u_cnt
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b, a.n_sh, b.n_sh
)
SELECT doc_a, doc_b, i_cnt, u_cnt FROM ver
WHERE i_cnt * {min_den} >= u_cnt * {min_num}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: SimHash signature width: one bigint.
SIMHASH_BITS = 64


def simhash(df: DataFrame, hash_family: str = "xxhash64") -> DataFrame:
    """SIMHASH_BITS-bit SimHash over words: per bit, the sign of the sum of
    (+1 / -1) votes of each word's hash bit. Expressed relationally:
    explode words -> per-bit votes via bit arithmetic -> groupBy sum.

    The md5 family draws bits 0-59 from the low 60-bit limb (hex chars
    1-15 of md5(word)) and bits 60-63 from the 4-bit limb (hex char 16),
    so the full 64-bit signature is still well-defined — and DuckDB can
    rebuild it bit-identically (see simhash_pairs_oracle_sql)."""
    _check_family(hash_family)
    words = df.selectExpr(
        "cast(doc_id as bigint) as doc_id",
        "explode(split(trim(coalesce(text, '')), ' +')) as w",
    )
    if hash_family == "xxhash64":
        words = words.withColumn("h", F.xxhash64("w"))

        def bit(i: int):
            return F.shiftright("h", i).bitwiseAND(F.lit(1))
    else:
        words = words.selectExpr(
            "doc_id",
            "cast(conv(substr(md5(w), 1, 15), 16, 10) as bigint) as lo",
            "cast(conv(substr(md5(w), 16, 1), 16, 10) as bigint) as hi",
        )

        def bit(i: int):
            src, off = ("lo", i) if i < 60 else ("hi", i - 60)
            return F.shiftright(src, off).bitwiseAND(F.lit(1))
    votes = [
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    bit_terms = " + ".join(
        f"(case when b{i} > 0 then shiftleft(1L, {i}) else 0L end)"
        for i in range(SIMHASH_BITS)
    )
    return agg.selectExpr("doc_id", f"({bit_terms}) as simhash")


def _block_bounds(n_blocks: int) -> list[tuple[int, int]]:
    """Split SIMHASH_BITS into ``n_blocks`` contiguous (offset, width)
    blocks, widths differing by at most 1."""
    base, extra = divmod(SIMHASH_BITS, n_blocks)
    bounds, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_near_pairs(sh: DataFrame, max_hamming: int = 7,
                       allow_wide_buckets: bool = False) -> DataFrame:
    """Candidate generation by block buckets over the 64-bit signature,
    exact popcount verification.

    Recall contract (pigeonhole): a pair at Hamming distance d is
    GUARANTEED to share a block iff d < blocks, so the signature is cut
    into ``max_hamming + 1`` blocks: recall is exact for the requested
    radius. The trade at corpus scale: block width = 64/blocks bits, so
    bucket cardinality is 2^(64/blocks) — wider radii mean coarser
    buckets and more candidates to verify. Callers chasing 10^12-row
    scale should keep max_hamming <= 3 (16-bit blocks, 65536 buckets).

    Corpus-scale guard: block width < 8 bits means <= 256 distinct
    buckets per block — at large corpus sizes the banded self-join
    degenerates toward all-pairs (a candidate explosion, not a slow
    path). Such configs are REFUSED unless ``allow_wide_buckets=True``
    (legitimate on small corpora, e.g. a few thousand docs). The default
    radius is therefore 7 (8 blocks x 8-bit buckets — the widest radius
    whose exact-recall banding still clears the guard)."""
    n_blocks = max_hamming + 1
    if not 1 <= n_blocks <= 64:
        raise ValueError(
            f"simhash max_hamming must be in [0, 63]: {max_hamming}")
    if 64 // n_blocks < 8 and not allow_wide_buckets:
        raise ValueError(
            f"simhash: {n_blocks} blocks -> {64 // n_blocks}-bit buckets "
            "— at corpus scale the banded join degenerates to "
            "near-all-pairs. Reduce max_hamming (<= 7), or opt in with "
            "allow_wide_buckets=True for small corpora.")
    bounds = _block_bounds(n_blocks)

    def block_val(off: int, w: int):
        v = F.shiftright("simhash", off)
        # w == 64 only for max_hamming=0: the mask (1<<64)-1 overflows a Java
        # long and the full signature needs no masking anyway.
        return v if w >= 64 else v.bitwiseAND(F.lit((1 << w) - 1))

    blk = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("blk"),
                block_val(off, w).alias("v"),
            )
            for i, (off, w) in enumerate(bounds)
        ])).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.v")
    a, b = blk.alias("a"), blk.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.v") == F.col("b.v"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(
            F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .selectExpr("doc_a", "doc_b", "cast(hamming as bigint) as hamming")
    )


def simhash_pairs_oracle_sql(max_hamming: int = 7) -> str:
    """DuckDB twin of ``simhash_near_pairs(simhash(df, hash_family=
    'md5'), max_hamming)`` under the DEFAULT exact-recall banding
    (blocks = max_hamming + 1): the pigeonhole guarantee makes the
    banded output exactly the set of ALL pairs at Hamming distance
    <= max_hamming, so the oracle needn't replicate the blocks at all —
    it rebuilds each signature bit-identically (same md5 limbs, same
    vote rule, same min-long bit-63 term) and does the all-pairs
    popcount filter directly. Cross-engine probes backing this: DuckDB's
    ``>>`` on BIGINT is arithmetic like Spark's shiftright, bit_count
    counts over two's complement in both, and ``-9223372036854775807-1``
    equals Spark's shiftleft(1L, 63)."""
    return f"""
WITH words AS (
  SELECT cast(doc_id as bigint) as doc_id,
         unnest(string_split_regex(trim(coalesce(text, '')), ' +')) as w
  FROM documents
),
hw AS (
  SELECT doc_id,
         cast(concat('0x', substr(md5(w), 1, 15)) as bigint) as lo,
         cast(concat('0x', substr(md5(w), 16, 1)) as bigint) as hi
  FROM words
),
votes AS (
  SELECT doc_id, t.i as i,
         sum(case when ((case when t.i < 60 then lo >> t.i
                         else hi >> (t.i - 60) end) & 1) = 1
             then 1 else -1 end) as v
  FROM hw CROSS JOIN range({SIMHASH_BITS}) t(i)
  GROUP BY doc_id, t.i
),
sig AS (
  SELECT doc_id,
         cast(sum(case when v > 0 then
              (case when i = 63 then -9223372036854775807 - 1
                    else 1::bigint << i end)
              else 0 end) as bigint) as simhash
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id as doc_a, b.doc_id as doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as bigint) as hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Planted-duplicate corpus: deterministic expected output for the
# probabilistic pipelines (so the driver's DuckDB oracle can value-check
# minhash-LSH and simhash end to end, not just count rows).
# ---------------------------------------------------------------------------

PLANT_OFFSET = 10_000_000
PLANT_MOD = 10
PLANT_WORDS = 20


def planted_corpus(df: DataFrame) -> DataFrame:
    """Synthesize a corpus from the doc_id column alone: each base doc is
    PLANT_WORDS unique words ("w<id>x<j>"), so distinct base docs share
    zero shingles (Jaccard 0); every doc_id % PLANT_MOD == 0 also gets an
    exact duplicate at doc_id + PLANT_OFFSET (Jaccard 1, identical MinHash
    signature / SimHash => recall is guaranteed, not probabilistic, and
    any spurious LSH candidate is removed by exact verification — the
    output is therefore fully deterministic and SQL-expressible)."""
    text = (
        f"concat_ws(' ', transform(sequence(0, {PLANT_WORDS - 1}), "
        f"j -> concat('w', cast(doc_id as string), 'x', "
        f"cast(j as string)))) as text"
    )
    base = df.selectExpr("cast(doc_id as bigint) as doc_id") \
        .selectExpr("doc_id", text)
    dups = base.filter(f"doc_id % {PLANT_MOD} = 0") \
        .selectExpr(f"doc_id + {PLANT_OFFSET} as doc_id", "text")
    return base.union(dups)


def minhash_planted_oracle_sql() -> str:
    """Expected minhash_dedup output on planted_corpus: exactly the
    planted pairs, each with i_cnt = u_cnt = PLANT_WORDS - SHINGLE_K + 1."""
    n_sh = PLANT_WORDS - SHINGLE_K + 1
    return (
        f"SELECT cast(doc_id as bigint) as doc_a, "
        f"cast(doc_id + {PLANT_OFFSET} as bigint) as doc_b, "
        f"cast({n_sh} as bigint) as i_cnt, "
        f"cast({n_sh} as bigint) as u_cnt "
        f"FROM documents WHERE doc_id % {PLANT_MOD} = 0"
    )


def simhash_planted_oracle_sql() -> str:
    """Expected simhash_near_pairs output on planted_corpus: the planted
    pairs at Hamming 0 (identical text => identical signature)."""
    return (
        f"SELECT cast(doc_id as bigint) as doc_a, "
        f"cast(doc_id + {PLANT_OFFSET} as bigint) as doc_b, "
        f"cast(0 as bigint) as hamming "
        f"FROM documents WHERE doc_id % {PLANT_MOD} = 0"
    )


# ---------------------------------------------------------------------------
# From pairs to a deduplicated corpus: connected components + keeper
# ---------------------------------------------------------------------------

#: Label-propagation rounds before connected_components gives up.
CC_MAX_ITER = 25


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) near-duplicate pairs -> (doc_id, component), where
    component is the SMALLEST doc id reachable through the pair graph —
    the canonical keeper of each duplicate cluster.

    Algorithm: smallest-label propagation. Each round every node takes
    min(own label, neighbors' labels) — one join + one aggregation per
    round, converging in O(component diameter) rounds. Duplicate
    clusters are near-cliques by construction (members share the keeper
    as a pair partner), so real corpora converge in 2-3 rounds;
    CC_MAX_ITER is a guard against pathological chains, and
    non-convergence RAISES rather than silently returning split
    components. Each round is localCheckpoint'd: the plan stays O(1)
    deep instead of doubling per
    iteration (lineage blowup is the classic iterative-Spark trap), and
    the monotone sum(label) doubles as the exact convergence test
    (labels only ever decrease, so an unchanged sum == a fixpoint)."""
    edges = pairs.selectExpr("doc_a as a", "doc_b as b")
    und = edges.union(edges.selectExpr("b as a", "a as b")) \
        .distinct().localCheckpoint(eager=True)
    labels = und.selectExpr("a as doc_id").distinct() \
        .withColumn("component", F.col("doc_id")) \
        .localCheckpoint(eager=True)
    for _ in range(CC_MAX_ITER):
        nbr_min = (
            und.join(labels, und["a"] == labels["doc_id"])
            .groupBy("b").agg(F.min("component").alias("nc"))
        )
        # Convergence = ZERO labels changed this round (labels only ever
        # decrease, so changed==0 is a fixpoint). A bounded count, unlike
        # the previous sum(component): at 10^12 rows that sum exceeds
        # int64 — ANSI raises ARITHMETIC_OVERFLOW mid-algorithm, and with
        # ANSI off a wrap-coincidence could end a round early.
        staged = (
            labels.join(nbr_min, labels["doc_id"] == nbr_min["b"], "left")
            .selectExpr(
                "doc_id", "component as __old",
                "least(component, coalesce(nc, component)) as component")
            .localCheckpoint(eager=True)
        )
        changed = staged.filter("component < __old").count()
        labels = staged.drop("__old")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after {CC_MAX_ITER} rounds "
        "— component diameter exceeds CC_MAX_ITER; raise it")


#: Broadcast the anti-join drop-set only below this many rows. A drop-set
#: row is one long id (~8 bytes + overhead), so 4M rows is ~tens of MB on
#: every executor — comfortably inside a default-sized JVM, far under the
#: point where a forced broadcast OOMs. Real web corpora drop 30-80% of
#: documents, so at scale the drop-set is corpus-sized and MUST shuffle.
DEDUP_BROADCAST_MAX_ROWS = 4_000_000


def dedup_corpus(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Drop near-duplicates: every pair-graph component keeps only its
    smallest id; rows in no pair pass through untouched.

    The drop-set's size is measured (a cheap count — the component
    labels are already localCheckpoint'd) and the anti-join strategy is
    chosen from it: a provably-small drop-set (<=
    ``DEDUP_BROADCAST_MAX_ROWS``) is BROADCAST so the corpus is never
    shuffled; a corpus-scale drop-set (real near-dup rates run 30-80%
    of a web crawl, i.e.
    hundreds of billions of ids at 10^12 rows — broadcasting that OOMs
    every executor) takes a plain shuffled left_anti and lets AQE pick
    the physical join. Components come from connected_components with
    its CC_MAX_ITER round guard."""
    cc = connected_components(pairs)
    drop = cc.filter("doc_id != component").select("doc_id")
    if drop.count() <= DEDUP_BROADCAST_MAX_ROWS:
        drop = F.broadcast(drop)
    return df.join(drop, on="doc_id", how="left_anti")
