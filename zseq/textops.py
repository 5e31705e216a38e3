"""Text-analysis operators for a training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

These are *relational* operators — pure Spark SQL expressions (JVM-side,
whole-stage-codegen'd; no Python on the hot path), each with a matching
DuckDB SQL string so the driver's oracle can verify values exactly. All
derived metrics are integer-valued (counts, floored scaled ratios) so the
two engines agree bit-for-bit; no float formulas cross the comparison.

Not present in the reference (zbra has no scalar function layer at all) —
required by the graft brief as first-class training-pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Marker words per language for the n-gram/stopword language heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
}

# One explicit whitespace class for BOTH engines: Java's \\s includes
# vertical tab (\\x0B), RE2's does not — a document containing \\x0B would
# otherwise normalize/count differently in Spark vs the DuckDB oracle.
# The class holds the six REAL control characters (literal bytes need no
# regex escaping inside a class, and neither engine's string-literal
# escape processing touches raw bytes — Spark's parser eats unknown
# textual escapes like \\x).
_WS_S = "[ \t\n\f\r\x0b]+"
_WS_D = _WS_S

_WORDS = "split(trim(text), ' +')"
_WORDS_DUCK = "string_split_regex(trim(text), ' +')"

#: Word k-gram length of the dedup shingles (``shingle_exprs``).
SHINGLE_K = 3

#: Winnowing char k-gram length and window: two documents sharing a
#: passage of >= WINNOW_W + WINNOW_K - 1 (8) chars share a fingerprint.
WINNOW_K = 5
WINNOW_W = 4

#: Gopher word-count rule's upper bound (Rae et al. 2021).
GOPHER_MAX_WORDS = 100_000


def token_count_exprs() -> tuple[str, str]:
    """(spark_expr, duckdb_expr): whitespace token count."""
    return f"size({_WORDS})", f"len({_WORDS_DUCK})"


def quality_exprs() -> dict[str, tuple[str, str]]:
    """Per-metric (spark, duckdb) expression pairs. Integer-valued."""
    w_s, w_d = _WORDS, _WORDS_DUCK
    return {
        "n_chars_m": ("length(text)", "length(text)"),
        "n_words": (f"size({w_s})", f"len({w_d})"),
        "n_distinct_words": (
            f"size(array_distinct({w_s}))",
            f"len(list_distinct({w_d}))",
        ),
        # mean word length x100, floored -> integer
        "mean_word_len_x100": (
            f"cast(floor(length(replace(text, ' ', '')) * 100.0 / "
            f"greatest(size({w_s}), 1)) as bigint)",
            f"cast(floor(length(replace(text, ' ', '')) * 100.0 / "
            f"greatest(len({w_d}), 1)) as bigint)",
        ),
        # BPE-ish subword proxy: a letter run is one token, each digit one,
        # each other non-space char one (the GPT-2 pre-tokenizer shape,
        # restricted to ASCII classes so Java regex (Spark) and RE2
        # (DuckDB) agree byte-for-byte)
        "n_bpe_tokens": (
            "regexp_count(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')",
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))",
        ),
        # type-token ratio x1000, floored
        "ttr_x1000": (
            f"cast(floor(size(array_distinct({w_s})) * 1000.0 / "
            f"greatest(size({w_s}), 1)) as bigint)",
            f"cast(floor(len(list_distinct({w_d})) * 1000.0 / "
            f"greatest(len({w_d}), 1)) as bigint)",
        ),
    }


def lang_score_exprs() -> dict[str, tuple[str, str]]:
    """Marker-word hit counts per language (regexp_count / extract_all)."""
    out = {}
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        # Spark SQL string literals process backslash escapes ('\b' is a
        # backspace); DuckDB string literals do not. Double for Spark.
        spark_pat = pat.replace("\\", "\\\\")
        out[f"score_{lang}"] = (
            f"regexp_count(lower(text), '{spark_pat}')",
            f"len(regexp_extract_all(lower(text), '{pat}'))",
        )
    return out


def lang_winner_expr() -> str:
    """CASE picking the max-scoring language (ties: declaration order).
    Dialect-neutral by construction (plain CASE over the score columns)."""
    scores = list(LANG_MARKERS)
    conds = []
    for lang in scores:
        others = [f"score_{o}" for o in scores if o != lang]
        gt = " and ".join(f"score_{lang} >= {o}" for o in others)
        conds.append(f"when {gt} then '{lang}'")
    return "case " + " ".join(conds) + " else 'unk' end"


def fingerprint_exprs() -> tuple[str, str]:
    """Document fingerprint: md5 of lowercase text with SPACE RUNS
    collapsed (' +' only — deliberately narrower than winnow_parts'
    full whitespace class; this operator's contract is byte-stable
    space-normalization, cross-engine deterministic)."""
    norm_s = "lower(regexp_replace(trim(text), ' +', ' '))"
    norm_d = "lower(regexp_replace(trim(text), ' +', ' ', 'g'))"
    return (f"md5({norm_s})", f"md5({norm_d})")


def shingle_exprs() -> tuple[str, str]:
    """Word SHINGLE_K-gram shingles as an array column."""
    w_s, w_d, k = _WORDS, _WORDS_DUCK, SHINGLE_K
    # NB: Spark's sequence(0, -1) counts DOWN; guard short texts explicitly.
    spark = (
        f"case when size({w_s}) >= {k} then "
        f"transform(sequence(0, size({w_s}) - {k}), "
        f"i -> concat_ws(' ', slice({w_s}, i + 1, {k}))) "
        f"else array() end"
    )
    duck = (
        f"list_transform(range(0, greatest(len({w_d}) - {k} + 1, 0)), "
        f"i -> array_to_string(({w_d})[i + 1 : i + {k}], ' '))"
    )
    return spark, duck


def winnow_parts(k: int, w: int) -> dict[str, tuple[str, str]]:
    """Winnowing fingerprints (Schleimer et al. 2003 — the MOSS rolling-
    hash scheme, public) as STAGED (spark, duckdb) expression pairs:
    'grams' hashes every char k-gram of the normalized text; 'select'
    (over a MATERIALIZED grams column named __grams in Spark / g in the
    oracle CTE) keeps each w-window's minimum and distincts the kept
    set. Guarantee: two documents sharing any substring of length
    >= w + k - 1 share at least one fingerprint.

    Hashes are md5 hex STRINGS compared lexicographically — identical in
    Spark and DuckDB, so the selected set is exact cross-engine. The
    gram list MUST be materialized between the stages: inlining it into
    the window lambda re-evaluates every md5 per window — O(len^2) per
    document in BOTH engines (measured: minutes instead of seconds on
    the 500-doc table)."""
    norm_s = f"lower(regexp_replace(trim(text), '{_WS_S}', ' '))"
    norm_d = f"lower(regexp_replace(trim(text), '{_WS_D}', ' ', 'g'))"
    # NB: Spark's sequence(1, 0) counts DOWN — guard short texts.
    grams_s = (
        f"case when length({norm_s}) >= {k} then "
        f"transform(sequence(1, length({norm_s}) - {k} + 1), "
        f"i -> md5(substring({norm_s}, i, {k}))) else array() end"
    )
    grams_d = (
        f"list_transform(range(1, greatest(length({norm_d}) - {k} + 1, 0)"
        f" + 1), i -> md5(substr({norm_d}, i, {k})))"
    )
    sel_s = (
        f"case when size(__grams) >= {w} then array_distinct("
        f"transform(sequence(1, size(__grams) - {w} + 1), "
        f"j -> array_min(slice(__grams, j, {w})))) else array() end"
    )
    sel_d = (
        f"list_distinct(list_transform("
        f"range(1, greatest(len(g) - {w} + 1, 0) + 1), "
        f"j -> list_min(g[j : j + {w} - 1])))"
    )
    return {"grams": (grams_s, grams_d), "select": (sel_s, sel_d)}


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flag_exprs(min_words: int,
                      min_stopwords: int) -> dict[str, tuple[str, str]]:
    """Gopher-style document-quality rules (Rae et al. 2021, public) as
    per-rule boolean (spark, duckdb) expression pairs. All comparisons
    are integer cross-multiplications — no float ratios cross the
    engine boundary, so the oracle match is exact:

      ok_word_count     word count in [min_words, GOPHER_MAX_WORDS]
      ok_mean_word_len  mean word length in [3, 10] chars
      ok_symbol_ratio   (# + '...') per word <= 0.1
      ok_alpha_words    >= 80% of words contain a letter
      ok_stopwords      contains >= min_stopwords distinct Gopher
                        stop words (paper default 2)
      ok_bullet_lines   <= 90% of lines start with a bullet
      ok_ellipsis_lines <= 30% of lines end with '...'
      ok_dup_lines      repeated line occurrences <= 30% of lines
      ok_dup_paras      repeated paragraph (blank-line-separated)
                        occurrences <= 30% of paragraphs

    The repetition rules are the paper's duplicate-line / duplicate-
    paragraph fractions — the highest-yield Gopher signal on crawl
    data. "Repeated occurrences" = n - n_distinct, i.e. every copy
    beyond a string's first counts toward the fraction.
    """
    # Gopher rules split on ANY whitespace (not just spaces): a
    # line-structured document must still word-count correctly, else the
    # very docs the bullet/ellipsis rules exist for get mis-measured by
    # the word rules. (text_analyze's space-only split is a separate,
    # documented operator contract.)
    w_s = f"split(trim(text), '{_WS_S}')"
    w_d = f"string_split_regex(trim(text), '{_WS_D}')"
    nw_s, nw_d = f"size({w_s})", f"len({w_d})"
    ch_s = f"length(regexp_replace(text, '{_WS_S}', ''))"
    ch_d = f"length(regexp_replace(text, '{_WS_D}', '', 'g'))"
    sym_s = ("(regexp_count(text, '#') + "
             "regexp_count(text, '\\\\.\\\\.\\\\.'))")
    sym_d = ("(len(regexp_extract_all(text, '#')) + "
             "len(regexp_extract_all(text, '\\.\\.\\.')))")
    alpha_s = f"size(filter({w_s}, w -> w rlike '[A-Za-z]'))"
    alpha_d = (f"len(list_filter({w_d}, "
               f"w -> regexp_matches(w, '[A-Za-z]')))")
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    stop_s = (f"size(array_intersect(transform({w_s}, w -> lower(w)), "
              f"array({stops})))")
    stop_d = (f"len(list_intersect(list_transform({w_d}, "
              f"w -> lower(w)), [{stops}]))")
    lines_s = "split(text, '\\n')"
    lines_d = "string_split(text, chr(10))"
    nl_s, nl_d = f"size({lines_s})", f"len({lines_d})"
    bullet_s = (f"size(filter({lines_s}, "
                f"l -> trim(l) rlike '^[-*]'))")
    bullet_d = (f"len(list_filter({lines_d}, "
                f"l -> regexp_matches(trim(l), '^[-*]')))")
    ell_s = (f"size(filter({lines_s}, "
             f"l -> l rlike '\\\\.\\\\.\\\\.$'))")
    ell_d = (f"len(list_filter({lines_d}, "
             f"l -> regexp_matches(l, '\\.\\.\\.$')))")
    paras_s = "split(text, '\\n\\n')"
    paras_d = "string_split(text, chr(10) || chr(10))"
    np_s, np_d = f"size({paras_s})", f"len({paras_d})"
    dupl_s = f"({nl_s} - size(array_distinct({lines_s})))"
    dupl_d = f"({nl_d} - len(list_distinct({lines_d})))"
    dupp_s = f"({np_s} - size(array_distinct({paras_s})))"
    dupp_d = f"({np_d} - len(list_distinct({paras_d})))"
    return {
        "ok_word_count": (
            f"{nw_s} between {min_words} and {GOPHER_MAX_WORDS}",
            f"{nw_d} between {min_words} and {GOPHER_MAX_WORDS}",
        ),
        "ok_mean_word_len": (
            f"3 * {nw_s} <= {ch_s} and {ch_s} <= 10 * {nw_s}",
            f"3 * {nw_d} <= {ch_d} and {ch_d} <= 10 * {nw_d}",
        ),
        "ok_symbol_ratio": (
            f"10 * {sym_s} <= {nw_s}",
            f"10 * {sym_d} <= {nw_d}",
        ),
        "ok_alpha_words": (
            f"10 * {alpha_s} >= 8 * {nw_s}",
            f"10 * {alpha_d} >= 8 * {nw_d}",
        ),
        "ok_stopwords": (
            f"{stop_s} >= {min_stopwords}",
            f"{stop_d} >= {min_stopwords}",
        ),
        "ok_bullet_lines": (
            f"10 * {bullet_s} <= 9 * {nl_s}",
            f"10 * {bullet_d} <= 9 * {nl_d}",
        ),
        "ok_ellipsis_lines": (
            f"10 * {ell_s} <= 3 * {nl_s}",
            f"10 * {ell_d} <= 3 * {nl_d}",
        ),
        "ok_dup_lines": (
            f"10 * {dupl_s} <= 3 * {nl_s}",
            f"10 * {dupl_d} <= 3 * {nl_d}",
        ),
        "ok_dup_paras": (
            f"10 * {dupp_s} <= 3 * {np_s}",
            f"10 * {dupp_d} <= 3 * {np_d}",
        ),
    }


def winnow_fingerprints(df: DataFrame, k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """(doc_id, fp) rows of winnowing fingerprints — the overlap-detection
    index: join two corpora on fp to find shared passages (any common
    substring >= w + k - 1 chars guarantees a shared row). Documents
    shorter than k + w - 1 chars produce no rows (nothing to guarantee).
    Two projections + explode (grams materialized between them — see
    winnow_parts for why), no shuffle; dedup/group on fp downstream
    shuffles only the fingerprint table, never the corpus text."""
    parts = winnow_parts(k, w)
    grams_s, _ = parts["grams"]
    sel_s, _ = parts["select"]
    return df.selectExpr(
        "cast(doc_id as bigint) as doc_id",
        f"{grams_s} as __grams",
    ).selectExpr("doc_id", f"explode({sel_s}) as fp")


def contamination(train_df: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Train-vs-eval contamination report — the benchmark-decontamination
    join every training pipeline runs before releasing a model: for each
    EVAL document, how many of its winnowing fingerprints also occur
    anywhere in the TRAIN corpus. Returns (doc_id, n_fp, n_hit,
    contaminated): n_fp = the doc's distinct fingerprint count, n_hit =
    how many of those appear in train, contaminated = n_hit > 0 (the
    winnowing guarantee makes that "shares a passage of >= WINNOW_W +
    WINNOW_K - 1 chars with some training doc"). EVERY eval document
    appears in the report: docs too short to fingerprint (text <
    WINNOW_K + WINNOW_W - 1 chars) get an explicit (n_fp=0, n_hit=0,
    contaminated=false) row rather than silently vanishing — the eval
    side uses explode_outer so empty fingerprint sets survive as null-fp
    rows counted as zero.

    Scale shape: both corpora collapse to fingerprint tables FIRST, so
    the joins shuffle only (id, 16-byte-hash) rows — never document
    text; the train side is additionally reduced to a DISTINCT
    fingerprint set (one hash shuffle) before the left join that marks
    eval hits. At 10^12 train docs everything downstream of the two
    winnow projections is proportional to fingerprint counts, not
    corpus bytes."""
    from pyspark.sql import functions as F

    train_fp = winnow_fingerprints(train_df).select("fp").distinct()
    parts = winnow_parts(WINNOW_K, WINNOW_W)
    grams_s, _ = parts["grams"]
    sel_s, _ = parts["select"]
    # explode_outer (vs winnow_fingerprints' explode): a zero-
    # fingerprint eval doc keeps one null-fp row so it still reports
    eval_fp = eval_df.selectExpr(
        "cast(doc_id as bigint) as doc_id",
        f"{grams_s} as __grams",
    ).selectExpr("doc_id", f"explode_outer({sel_s}) as fp")
    marked = eval_fp.join(
        train_fp.withColumn("__hit", F.lit(1)), on="fp", how="left")
    return (
        marked.groupBy("doc_id")
        .agg(F.count(F.col("fp")).alias("n_fp"),
             F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"))
        .selectExpr(
            "cast(doc_id as bigint) as doc_id",
            "cast(n_fp as bigint) as n_fp",
            "cast(n_hit as bigint) as n_hit",
            "cast(n_hit > 0 as boolean) as contaminated")
    )


def decontaminate_train(train_df: DataFrame, eval_df: DataFrame,
                        k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """The enforcement half of :func:`contamination`: drop every TRAIN
    document sharing at least one winnowing fingerprint with the eval
    corpus (i.e. a passage of >= w + k - 1 chars), returning the cleaned
    train corpus. Composes the same verified pieces: eval collapses to a
    DISTINCT fingerprint set, a fingerprint-table semi-join finds the
    contaminated train ids, and those ids anti-join the corpus — text
    itself never shuffles, and both join inputs are fingerprint/id-sized.
    The eval fingerprint set is tiny by nature (benchmarks, not crawls),
    so Spark/AQE broadcasts it unhinted at any train scale."""
    eval_fp = winnow_fingerprints(eval_df, k, w).select("fp").distinct()
    bad_ids = winnow_fingerprints(train_df, k, w) \
        .join(eval_fp, on="fp", how="left_semi") \
        .select("doc_id").distinct()
    return train_df.join(bad_ids, on="doc_id", how="left_anti")


def contamination_oracle_sql(train_from: str, eval_from: str) -> str:
    """DuckDB mirror of :func:`contamination`. ``train_from`` /
    ``eval_from`` are full SELECTs yielding (doc_id, text)."""
    parts = winnow_parts(WINNOW_K, WINNOW_W)
    _, grams_d = parts["grams"]
    _, sel_d = parts["select"]
    return f"""
WITH tsrc AS ({train_from}),
     esrc AS ({eval_from}),
     tg AS (SELECT doc_id, {grams_d} as g FROM tsrc),
     tsel AS (SELECT doc_id, {sel_d} as fps FROM tg),
     tf AS (SELECT DISTINCT unnest(fps) as fp FROM tsel),
     eg AS (SELECT doc_id, {grams_d} as g FROM esrc),
     esel AS (SELECT doc_id, {sel_d} as fps FROM eg),
     -- zero-fingerprint docs keep one null-fp row (Spark explode_outer)
     ef AS (SELECT doc_id,
                   unnest(case when len(fps) = 0
                          then [cast(null as varchar)] else fps end) as fp
            FROM esel)
SELECT cast(e.doc_id as bigint) as doc_id,
       cast(count(e.fp) as bigint) as n_fp,
       cast(count(t.fp) as bigint) as n_hit,
       cast(count(t.fp) > 0 as boolean) as contaminated
FROM ef e LEFT JOIN tf t ON e.fp = t.fp
GROUP BY e.doc_id
"""


def decontaminate_oracle_sql(train_from: str, eval_from: str,
                             k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """DuckDB mirror of :func:`decontaminate_train`: the surviving train
    ids after dropping docs that share a winnowing fingerprint with
    eval. Lives here so the winnow CTE scaffolding has exactly one
    owner (shared staging with :func:`contamination_oracle_sql`)."""
    parts = winnow_parts(k, w)
    _, grams_d = parts["grams"]
    _, sel_d = parts["select"]
    return f"""
WITH tsrc AS ({train_from}),
     esrc AS ({eval_from}),
     eg AS (SELECT doc_id, {grams_d} as g FROM esrc),
     esel AS (SELECT doc_id, {sel_d} as fps FROM eg),
     ef AS (SELECT DISTINCT unnest(fps) as fp FROM esel),
     tg AS (SELECT doc_id, {grams_d} as g FROM tsrc),
     tsel AS (SELECT doc_id, {sel_d} as fps FROM tg),
     tf AS (SELECT doc_id, unnest(fps) as fp FROM tsel),
     bad AS (SELECT DISTINCT t.doc_id FROM tf t
             JOIN ef e ON t.fp = e.fp)
SELECT cast(doc_id as bigint) as doc_id FROM tsrc
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


def winnow_oracle_sql() -> str:
    parts = winnow_parts(WINNOW_K, WINNOW_W)
    _, grams_d = parts["grams"]
    _, sel_d = parts["select"]
    return f"""
WITH src AS (SELECT doc_id, coalesce(text, '') as text FROM documents),
     grams AS (SELECT doc_id, {grams_d} as g FROM src),
     sel AS (SELECT doc_id, {sel_d} as fps FROM grams)
SELECT cast(doc_id as bigint) as doc_id, unnest(fps) as fp FROM sel
"""


def gopher_quality(spark: SparkSession, sf_dir: str,
                   min_words: int = 50,
                   min_stopwords: int = 2) -> DataFrame:
    """Per-document Gopher-rule flags + the final keep/drop verdict —
    one projection over the scan, zero shuffles, all JVM expressions."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .selectExpr("doc_id", "coalesce(text, '') as text")
    flags = gopher_flag_exprs(min_words, min_stopwords)
    exprs = ["cast(doc_id as bigint) as doc_id"]
    for name, (s, _) in flags.items():
        exprs.append(f"cast({s} as boolean) as {name}")
    exprs.append(
        "cast(" + " and ".join(f"({s})" for s, _ in flags.values())
        + " as boolean) as keep")
    return df.selectExpr(*exprs)


def gopher_oracle_sql(min_words: int = 50, min_stopwords: int = 2) -> str:
    flags = gopher_flag_exprs(min_words, min_stopwords)
    parts = ["cast(doc_id as bigint) as doc_id"]
    for name, (_, d) in flags.items():
        parts.append(f"cast({d} as boolean) as {name}")
    parts.append(
        "cast(" + " and ".join(f"({d})" for _, d in flags.values())
        + " as boolean) as keep")
    return (
        "SELECT " + ", ".join(parts)
        + " FROM (SELECT doc_id, coalesce(text, '') as text "
        "FROM documents)"
    )


# ---------------------------------------------------------------------------
# DataFrame-level operators (Spark side)
# ---------------------------------------------------------------------------

def analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text-analysis projection over the documents table."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .selectExpr("doc_id", "coalesce(text, '') as text")
    exprs = ["cast(doc_id as bigint) as doc_id"]
    tc_s, _ = token_count_exprs()
    exprs.append(f"cast({tc_s} as bigint) as n_tokens")
    for name, (s, _) in quality_exprs().items():
        exprs.append(f"cast({s} as bigint) as {name}")
    for name, (s, _) in lang_score_exprs().items():
        exprs.append(f"cast({s} as bigint) as {name}")
    fp_s, _ = fingerprint_exprs()
    exprs.append(f"{fp_s} as fingerprint")
    out = df.selectExpr(*exprs)
    return out.selectExpr("*", lang_winner_expr() + " as lang_guess")


def analyze_oracle_sql() -> str:
    parts = ["cast(doc_id as bigint) as doc_id"]
    _, tc_d = token_count_exprs()
    parts.append(f"cast({tc_d} as bigint) as n_tokens")
    for name, (_, d) in quality_exprs().items():
        parts.append(f"cast({d} as bigint) as {name}")
    for name, (_, d) in lang_score_exprs().items():
        parts.append(f"cast({d} as bigint) as {name}")
    _, fp_d = fingerprint_exprs()
    parts.append(f"{fp_d} as fingerprint")
    inner = (
        "SELECT " + ", ".join(parts)
        + " FROM (SELECT doc_id, coalesce(text, '') as text FROM documents)"
    )
    return (
        f"SELECT *, {lang_winner_expr()} as lang_guess "
        f"FROM ({inner})"
    )
