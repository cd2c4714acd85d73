"""Text-analysis operators for training-data curation.

Four declared queries over ``documents``, all pure JVM-side column
expressions (no Python in the row path) with exact DuckDB twins:

* ``text_langid``          -- stopword-hit language ID heuristic
* ``text_quality_score``   -- length/stopword/character-class metrics
* ``token_count_stats``    -- whitespace + BPE-ish regex token counts
* ``doc_fingerprint``      -- md5 + 31-polynomial rolling hash
* ``text_tfidf``           -- per-(doc, term) tf-idf, cross-engine-stable idf
* ``text_bigrams``         -- corpus bigram frequencies via posexplode+lead
* ``text_sentiment``       -- lexicon polarity hits + exact-ratio score

Numeric discipline: every ratio is a SINGLE double division of exact
integers (never a sum of doubles), so parallel execution order cannot
perturb a result; group-level rollups aggregate the integer components,
not the per-doc doubles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_prefix
from ..functions.numeric import checked_bigint as _checked_bigint
from ..functions.text import (
    DUCKDB_SHINGLES_CTE,
    DUCKDB_TOKS_CTE,
    docs_by_id,
    duckdb_tokens_sql,
    normalize_text,
    shingles_df,
    tokenize,
    tokens_df,
    tokens_with_pos,
)
from ..sources import load_table

# Tiny per-language stopword lists (heuristic demo -- the corpus is
# synthetic; what matters is that Spark and the oracle agree exactly).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "y", "un"],
    "fr": ["le", "les", "et", "des", "une"],
}
LANGS = list(STOPWORDS)  # priority order for argmax ties


def _hits(tokens: Column, words: list[str]) -> Column:
    lits = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lits, t)))


def _sql_hits(ts: str, words: list[str]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({ts}, x -> list_contains({lst}, x)))"


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts, argmax with
    fixed priority order on ties, 'unknown' when nothing hits."""
    docs = load_table(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    scored = docs.select(
        "doc_id",
        *[_hits(ts, STOPWORDS[lang]).cast("bigint").alias(f"s_{lang}") for lang in LANGS],
    )
    s = {lang: F.col(f"s_{lang}") for lang in LANGS}
    pred = F.when(sum(s.values(), F.lit(0)) == 0, "unknown")
    for i, lang in enumerate(LANGS):
        cond = None
        for other in LANGS[i + 1 :]:
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        pred = pred.when(cond if cond is not None else F.lit(True), lang)
    return scored.select(
        "doc_id", pred.alias("lang_pred"), *[f"s_{lang}" for lang in LANGS]
    )


def _langid_oracle() -> str:
    hit_cols = ",\n           ".join(
        f"CAST({_sql_hits('ts', STOPWORDS[lang])} AS BIGINT) AS s_{lang}"
        for lang in LANGS
    )
    total = " + ".join(f"s_{lang}" for lang in LANGS)
    cases = []
    for i, lang in enumerate(LANGS):
        conds = [f"s_{lang} >= s_{o}" for o in LANGS[i + 1 :]]
        cases.append(
            f"WHEN {' AND '.join(conds)} THEN '{lang}'" if conds else f"ELSE '{lang}'"
        )
    case_sql = "\n                WHEN " + f"{total} = 0 THEN 'unknown'\n                " + "\n                ".join(cases)
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    scored AS (
        SELECT doc_id,
           {hit_cols}
        FROM toks
    )
    SELECT doc_id,
           CASE {case_sql}
           END AS lang_pred,
           {', '.join(f's_{lang}' for lang in LANGS)}
    FROM scored
"""


LANGID_ORACLE = _langid_oracle()

EN_STOPS = STOPWORDS["en"]


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: every ratio is one double division of
    exact integer counts; the composite score is a fixed linear form."""
    docs = load_table(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    base = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(ts).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("bigint").alias("n_distinct"),
        F.aggregate(
            F.transform(ts, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_token_len"),
        _hits(ts, EN_STOPS).cast("bigint").alias("stop_hits"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).cast("bigint").alias("n_alpha"),
    )
    avg_len = F.col("sum_token_len").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("stop_hits").cast("double") / F.col("n_tokens")
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    alpha_ratio = F.col("n_alpha").cast("double") / F.col("n_chars")
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct",
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stop_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        (0.3 * stop_ratio + 0.4 * distinct_ratio + 0.3 * alpha_ratio).alias("quality"),
    )


QUALITY_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    base AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(ts) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(ts, t -> CAST(length(t) AS BIGINT))),
                    (a, x) -> a + x) AS BIGINT) AS sum_token_len,
               CAST({_sql_hits('ts', EN_STOPS)} AS BIGINT) AS stop_hits,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
        FROM toks JOIN documents USING (doc_id)
    )
    SELECT doc_id, n_chars, n_tokens, n_distinct,
           CAST(sum_token_len AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
           CAST(n_alpha AS DOUBLE) / n_chars AS alpha_ratio,
           0.3 * (CAST(stop_hits AS DOUBLE) / n_tokens)
         + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
         + 0.3 * (CAST(n_alpha AS DOUBLE) / n_chars) AS quality
    FROM base
"""

# ---------------------------------------------------------------------------
# Inter-gate agreement (Cohen's kappa) -- do two independent quality
# gates agree beyond chance?  Rater A is the C4-style rule filter's
# ``keep``; rater B is the composite quality score thresholded at
# KAPPA_QUALITY_T.  Low kappa between two gates that each look fine in
# isolation is the standard signal that one of them encodes something
# the other doesn't (so stacking them changes the corpus materially);
# kappa ~ 1 says the second gate is redundant.  quality_gate_stack
# reports the funnel; this reports the STATISTICAL agreement.
#
# Exact-arithmetic form: the 2x2 confusion counts are one combinable
# aggregate; observed and expected agreement reduce to INTEGER
# numerators over N and N^2,
#
#     kappa = (po - pe) / (1 - pe)
#           = (N*(n11+n00) - pe_num) / (N*N - pe_num),
#     pe_num = (n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)
#
# so the emitted kappa is ONE double division of exact BIGINTs --
# bit-identical cross-engine with no rounding step.  Both raters are
# the already-oracle-checked queries, composed by a doc_id equi-join
# (their oracle SQL composes identically as subqueries).
# ---------------------------------------------------------------------------

KAPPA_QUALITY_T = 0.45  # ~median composite quality: a non-trivial split


def gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = c4_style_filter(spark, sf_dir).select("doc_id", F.col("keep").alias("a"))
    b = text_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("quality") >= KAPPA_QUALITY_T).alias("b")
    )
    cells = a.join(b, "doc_id").agg(
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    po_num = F.col("n11") + F.col("n00")
    return cells.select(
        "n11",
        "n10",
        "n01",
        "n00",
        (po_num.cast("double") / n.cast("double")).alias("observed_agreement"),
        (pe_num.cast("double") / (n * n).cast("double")).alias(
            "expected_agreement"
        ),
        (
            (n * po_num - pe_num).cast("double")
            / (n * n - pe_num).cast("double")
        ).alias("kappa"),
    )


def _kappa_oracle() -> str:
    return f"""
    WITH cells AS (
        SELECT CAST(sum(CASE WHEN a.keep AND q.quality >= {KAPPA_QUALITY_T}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n11,
               CAST(sum(CASE WHEN a.keep AND NOT q.quality >= {KAPPA_QUALITY_T}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(sum(CASE WHEN NOT a.keep AND q.quality >= {KAPPA_QUALITY_T}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(sum(CASE WHEN NOT a.keep AND NOT q.quality >= {KAPPA_QUALITY_T}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n00
        FROM ({{c4}}) a JOIN ({{q}}) q USING (doc_id)
    )
    SELECT n11, n10, n01, n00,
           CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE)
               AS observed_agreement,
           CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
                AS DOUBLE)
               / CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                      AS DOUBLE) AS expected_agreement,
           CAST((n11 + n10 + n01 + n00) * (n11 + n00)
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                AS DOUBLE)
               / CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                      - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                      AS DOUBLE) AS kappa
    FROM cells
"""


# ---------------------------------------------------------------------------
# cochran_q_test: Cochran's Q (1950) across the THREE document gates
# (C4 heuristics, composite quality >= T, char-entropy) -- the k-gate
# generalization of mcnemar_gate_test's pairwise symmetry check: do
# the gates pass systematically different fractions of the SAME
# documents?  Matched binary design: per doc the row sum r_i in 0..3,
# per gate the column total C_j,
#
#     Q = (k-1) * (k * sum_j C_j^2 - T^2) / (k*T - sum_i r_i^2)
#
# chi-square(k-1) under exchangeability.  Everything to the final
# division is exact integers (the kappa/mcnemar cell discipline);
# significance uses the pinned chi-square critical at df = 2.  The
# degenerate regime (every doc passes all gates or none -- denominator
# 0) is an explicit NULL.  Universe and entropy-null handling mirror
# quality_gate_stack: c4 INNER JOIN quality, entropy LEFT with
# COALESCE false.
# ---------------------------------------------------------------------------

COCHRAN_K = 3
COCHRAN_CHI2_CRIT = 5.991  # CHI2_CRIT_95[k-1], pinned (statistics.py table)


def cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across the three document gates.  The shared token
    stream stays persisted after the call; the session's cache contract
    (``session.release_caches``) releases it."""
    # one shared tokenize pass for all three gates (defined beside
    # quality_gate_stack below; flag values identical to the standalone
    # gate queries -- differential-tested)
    docs, toks = _gate_substrate(spark, sf_dir)
    a = _c4_flags_from_stream(docs, toks).select(
        "doc_id", F.col("keep").alias("g1")
    )
    b = _quality_from_stream(docs, toks).select(
        "doc_id", (F.col("quality") >= KAPPA_QUALITY_T).alias("g2")
    )
    c = _entropy_low_flag(toks).select(
        "doc_id", (~F.col("low_entropy")).alias("g3")
    )
    rows = (
        a.join(b, "doc_id")
        .join(c, "doc_id", "left")
        .select(
            F.col("g1").cast("int").alias("x1"),
            F.col("g2").cast("int").alias("x2"),
            F.coalesce(F.col("g3"), F.lit(True)).cast("int").alias("x3"),
        )
    )
    agg = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("x1").cast("bigint").alias("c1"),
        F.sum("x2").cast("bigint").alias("c2"),
        F.sum("x3").cast("bigint").alias("c3"),
        F.sum(
            (F.col("x1") + F.col("x2") + F.col("x3"))
            * (F.col("x1") + F.col("x2") + F.col("x3"))
        )
        .cast("bigint")
        .alias("sum_r2"),
    )
    t = F.col("c1") + F.col("c2") + F.col("c3")
    num = F.lit(COCHRAN_K - 1) * (
        F.lit(COCHRAN_K)
        * (
            F.col("c1") * F.col("c1")
            + F.col("c2") * F.col("c2")
            + F.col("c3") * F.col("c3")
        )
        - t * t
    )
    den = F.lit(COCHRAN_K) * t - F.col("sum_r2")
    q = F.when(den > 0, num.cast("double") / den.cast("double"))
    return agg.select(
        "n_docs",
        F.col("c1").alias("pass_c4"),
        F.col("c2").alias("pass_quality"),
        F.col("c3").alias("pass_entropy"),
        "sum_r2",
        q.alias("q_stat"),
        F.when(den > 0, q > COCHRAN_CHI2_CRIT).alias("significant"),
    )


COCHRAN_Q_ORACLE = f"""
    WITH rows_g AS (
        SELECT CASE WHEN a.keep THEN 1 ELSE 0 END AS x1,
               CASE WHEN q.quality >= {KAPPA_QUALITY_T} THEN 1 ELSE 0 END
                   AS x2,
               CASE WHEN COALESCE(NOT e.low_entropy, TRUE) THEN 1 ELSE 0 END
                   AS x3
        FROM ({{c4}}) a
        JOIN ({{q}}) q USING (doc_id)
        LEFT JOIN ({{ent}}) e USING (doc_id)
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(x1) AS BIGINT) AS c1,
               CAST(sum(x2) AS BIGINT) AS c2,
               CAST(sum(x3) AS BIGINT) AS c3,
               CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT)
                   AS sum_r2
        FROM rows_g
    )
    SELECT n_docs, c1 AS pass_c4, c2 AS pass_quality, c3 AS pass_entropy,
           sum_r2,
           CASE WHEN {COCHRAN_K} * (c1 + c2 + c3) - sum_r2 > 0 THEN
               CAST({COCHRAN_K - 1} * ({COCHRAN_K} * (c1*c1 + c2*c2 + c3*c3)
                    - (c1 + c2 + c3) * (c1 + c2 + c3)) AS DOUBLE)
               / CAST({COCHRAN_K} * (c1 + c2 + c3) - sum_r2 AS DOUBLE)
           END AS q_stat,
           CASE WHEN {COCHRAN_K} * (c1 + c2 + c3) - sum_r2 > 0 THEN
               CAST({COCHRAN_K - 1} * ({COCHRAN_K} * (c1*c1 + c2*c2 + c3*c3)
                    - (c1 + c2 + c3) * (c1 + c2 + c3)) AS DOUBLE)
               / CAST({COCHRAN_K} * (c1 + c2 + c3) - sum_r2 AS DOUBLE)
               > {COCHRAN_CHI2_CRIT}
           END AS significant
    FROM agg
"""


# ---------------------------------------------------------------------------
# good_turing_smoothing: Good-Turing frequency-of-frequencies table
# (Good 1953) over the corpus vocabulary -- the classical unseen-mass
# estimator under kn_continuation_probs: N_r = #word types seen exactly
# r times, adjusted count r* = (r+1) N_{r+1} / N_r, and the
# probability mass the corpus reserves for UNSEEN types is N_1 / N
# (the number every open-vocabulary LM smoothing scheme starts from).
# Emitted for the low-frequency head r <= GT_MAX_R where the estimator
# is meaningful (sparse high-r counts make raw GT noisy -- the reason
# Katz backs off to raw counts there, documented not ported).
#
# Everything is exact integers (type counts, frequency-of-frequencies,
# token total) with two final double divisions per row.  Scale shape:
# word counts are the wordcount shuffle; N_r reduces the VOCABULARY
# (type-bounded) to <= GT_MAX_R + 1 rows; the N_{r+1} lookup is a
# self-join on the tiny table.
# ---------------------------------------------------------------------------

GT_MAX_R = 10


def good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    wc = toks.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    totals = wc.agg(
        F.sum("r").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    nr = (
        wc.where(F.col("r") <= GT_MAX_R + 1)
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types_r"))
    )
    nxt = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_types_r").alias("n_types_r1")
    )
    return (
        nr.where(F.col("r") <= GT_MAX_R)
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "r",
            "n_types_r",
            F.coalesce(F.col("n_types_r1"), F.lit(0))
            .cast("bigint")
            .alias("n_types_r_plus_1"),
            (
                (F.col("r") + 1).cast("double")
                * F.coalesce(F.col("n_types_r1"), F.lit(0)).cast("double")
                / F.col("n_types_r").cast("double")
            ).alias("r_star"),
            "n_tokens",
            "n_types",
            (
                F.col("n_types_r").cast("double")
                * F.col("r").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("raw_mass"),
        )
        .orderBy("r")
    )


GOOD_TURING_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(ts) AS word FROM toks),
    wc AS (
        SELECT word, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY 1
    ),
    totals AS (
        SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types
        FROM wc
    ),
    nr AS (
        SELECT r, CAST(count(*) AS BIGINT) AS n_types_r
        FROM wc WHERE r <= {GT_MAX_R + 1} GROUP BY 1
    )
    SELECT a.r, a.n_types_r,
           CAST(COALESCE(b.n_types_r, 0) AS BIGINT) AS n_types_r_plus_1,
           CAST(a.r + 1 AS DOUBLE) * CAST(COALESCE(b.n_types_r, 0) AS DOUBLE)
               / CAST(a.n_types_r AS DOUBLE) AS r_star,
           t.n_tokens, t.n_types,
           CAST(a.n_types_r AS DOUBLE) * CAST(a.r AS DOUBLE)
               / CAST(t.n_tokens AS DOUBLE) AS raw_mass
    FROM nr a
    LEFT JOIN nr b ON b.r = a.r + 1
    CROSS JOIN totals t
    WHERE a.r <= {GT_MAX_R}
    ORDER BY a.r
"""


# ---------------------------------------------------------------------------
# Source-relative quality normalization -- the within-source percentile
# rank of the quality score.  Absolute-threshold gates (quality_gate_*,
# source_quality_decision) let a uniformly-high-scoring source crowd out
# everything else after filtering; the production alternative is to
# threshold each document AGAINST ITS OWN SOURCE's distribution, which
# needs the per-source percentile as a feature.  This computes it
# EXACTLY and scale-safely:
#
# A naive rank() window partitioned by source sorts a corpus-sized
# partition whenever one source dominates -- the skew the repo's window
# discipline forbids.  Instead the quality score is quantized to the
# 1e-6 lattice (the LOGIT_QUANT pattern: floor(q*1e6+0.5) of a
# bit-identical double is bit-identical), reduced to combinable
# (source, q_quality) counts, prefix-summed over the BOUNDED lattice
# table (window partitions = distinct score values per source, never
# documents), and joined back -- so every document gets exact integer
# (n_below, n_tied, n_source) and the only float is one division.
# keep_top_half is the integer threshold test 2*n_below >= n_source.
# ---------------------------------------------------------------------------

QUALITY_PCT_QUANT = 1000000  # 1e-6 score lattice, shared discipline


def quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = (
        text_quality_score(spark, sf_dir)
        .select(
            "doc_id",
            F.floor(F.col("quality") * QUALITY_PCT_QUANT + 0.5)
            .cast("bigint")
            .alias("q_quality"),
        )
        .join(docs, "doc_id")
    )
    cells = scored.groupBy("source", "q_quality").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tied")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("q_quality")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cells.select(
        "source",
        "q_quality",
        "n_tied",
        F.coalesce(F.sum("n_tied").over(w), F.lit(0))
        .cast("bigint")
        .alias("n_below"),
        F.sum("n_tied")
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n_source"),
    )
    return (
        scored.join(ranked, ["source", "q_quality"])
        .select(
            "doc_id",
            "source",
            "q_quality",
            "n_source",
            "n_below",
            "n_tied",
            # unrounded single IEEE division of exact ints
            (F.col("n_below").cast("double") / F.col("n_source")).alias(
                "pct_below"
            ),
            (F.col("n_below") * 2 >= F.col("n_source")).alias(
                "keep_top_half"
            ),
        )
        .orderBy("doc_id")
    )


QUALITY_PCT_ORACLE = f"""
    WITH q AS ({{QUALITY_ORACLE}}),
    scored AS (
        SELECT q.doc_id, d.source,
               CAST(floor(q.quality * {QUALITY_PCT_QUANT} + 0.5) AS BIGINT)
                   AS q_quality
        FROM q JOIN documents d USING (doc_id)
    ),
    cells AS (
        SELECT source, q_quality, CAST(count(*) AS BIGINT) AS n_tied
        FROM scored GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, q_quality, n_tied,
               CAST(coalesce(sum(n_tied) OVER (PARTITION BY source
                    ORDER BY q_quality
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_below,
               CAST(sum(n_tied) OVER (PARTITION BY source) AS BIGINT)
                   AS n_source
        FROM cells
    )
    SELECT s.doc_id, s.source, s.q_quality,
           r.n_source, r.n_below, r.n_tied,
           CAST(r.n_below AS DOUBLE) / r.n_source AS pct_below,
           r.n_below * 2 >= r.n_source AS keep_top_half
    FROM scored s JOIN ranked r USING (source, q_quality)
    ORDER BY s.doc_id
""".replace("{QUALITY_ORACLE}", QUALITY_ORACLE)


# BPE-ish word-piece pattern: runs of letters, runs of digits, single symbol
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways (whitespace split, BPE-ish regex pieces,
    bytes/4 estimate) -- the standard cheap size signals for data curation,
    rolled up per source with integer-exact ratios."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0)).cast("bigint").alias("regex_tokens"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.ceil(F.octet_length("text") / 4.0).cast("bigint").alias("est_bpe_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("regex_tokens").alias("total_regex_tokens"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("est_bpe_tokens").alias("total_est_bpe"),
        (F.sum("n_bytes").cast("double") / F.sum("ws_tokens")).alias("bytes_per_token"),
    )


TOKEN_COUNT_ORACLE = f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len(list_filter(list_transform(regexp_split_to_array(text, '\\s+'),
                        t -> regexp_replace(lower(t), '[^0-9a-z]', '', 'g')),
                        x -> x <> '')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS BIGINT) AS regex_tokens,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(sum(regex_tokens) AS BIGINT) AS total_regex_tokens,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(est_bpe_tokens) AS BIGINT) AS total_est_bpe,
           CAST(sum(n_bytes) AS DOUBLE) / sum(ws_tokens) AS bytes_per_token
    FROM per_doc
    GROUP BY source
"""

ROLLING_MOD = 1_000_000_007
ROLLING_MULT = 31


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text + a 31-polynomial
    rolling hash over character codes (mod 1e9+7), the classic
    Rabin-Karp-style fingerprint.

    The rolling hash is an inherently sequential stateful fold -- Spark's
    higher-order ``aggregate`` runs it interpreted (13s+ at sf0.1), so this
    is one of the few justified Pandas-UDF hot paths: Arrow-batched, exact
    Python integer math, identical result to the oracle's list_reduce."""

    @F.pandas_udf("bigint")
    def rolling_hash(texts: pd.Series) -> pd.Series:
        def h(t: str) -> int:
            acc = 0
            for ch in t:
                acc = (acc * ROLLING_MULT + ord(ch)) % ROLLING_MOD
            return acc

        return texts.map(h)

    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("md5_hex"),
        rolling_hash(norm).alias("rolling_hash"),
    )


FINGERPRINT_ORACLE = f"""
    WITH norm AS (
        SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS nt
        FROM documents
    )
    SELECT doc_id,
           md5(nt) AS md5_hex,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(nt)),
                                  i -> CAST(ascii(substring(nt, i, 1)) AS BIGINT))),
               (acc, c) -> (acc * {ROLLING_MULT} + c) % {ROLLING_MOD}) AS rolling_hash
    FROM norm
"""


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) tf-idf over the whole corpus.

    Classic two-aggregate formulation: tf = count per (doc, word) and
    df = docs-containing-word are both map-side-combinable shuffles; the
    corpus size joins in as a broadcast scalar.  At 100 TB the vocabulary
    table (word, df) is orders of magnitude smaller than the token stream,
    so the final tf<-join->idf is the only wide join and AQE can broadcast
    its small side.

    Cross-engine float discipline: JVM ``Math.log`` and DuckDB ``ln``
    disagree in the last ulp (~8% of inputs, measured), so the idf is
    squashed through DECIMAL(18,9) -- both engines round the ulp-apart
    values to the same 9-decimal quantum -- cast back to double (exact),
    and only then scaled by tf (double multiply is exactly rounded, so
    identical operands give identical products).  A decimal*int multiply
    would NOT work: decimal(18,9)*bigint overflows Spark's precision-38
    cap and silently drops scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = tokens_df(docs).groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df_docs"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "word",
        "df_docs",
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("df_docs") + 1))
        .cast("decimal(18,9)")
        .alias("_idf9"),
    )
    return tf.join(idf, "word").select(
        "doc_id",
        "word",
        "tf",
        "df_docs",
        (F.col("_idf9").cast("double") * F.col("tf")).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction: the top-K terms of each document by
# tf-idf -- the downstream consumer every tf-idf table exists for
# (tags, routing keys, BM25 priors).  Rides text_tfidf's already
# cross-engine-stable scores; rank is a doc-PARTITIONED row_number
# (groups bounded by per-doc vocabulary) with the word as a total-order
# tie-break, so the extracted keyword set is identical on any engine.
# ---------------------------------------------------------------------------

TFIDF_TOPK = 5


def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = text_tfidf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn(
            "term_rank", F.row_number().over(w).cast("int")
        )
        .filter(F.col("term_rank") <= TFIDF_TOPK)
        .select("doc_id", "term_rank", "word", "tf", "df_docs", "tfidf")
        .orderBy("doc_id", "term_rank")
    )


TFIDF_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(ts) AS word FROM toks),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT word, count(*) AS df_docs FROM tf GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word, tf.tf, dfq.df_docs,
           CAST(CAST(ln(CAST(nd.n_docs + 1 AS DOUBLE) / (dfq.df_docs + 1))
                     AS DECIMAL(18,9)) AS DOUBLE) * tf.tf AS tfidf
    FROM tf JOIN dfq USING (word) CROSS JOIN nd
"""


TFIDF_TOPK_ORACLE = f"""
    SELECT doc_id, term_rank, word, tf, df_docs, tfidf
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, word
               ) AS INTEGER) AS term_rank
        FROM ({TFIDF_ORACLE})
    )
    WHERE term_rank <= {TFIDF_TOPK}
    ORDER BY doc_id, term_rank
"""



# ---------------------------------------------------------------------------
# BM25 ranking -- the retrieval scorer tf-idf exists to feed.  tf-idf
# weights a term in a document; BM25 adds the two things a real lexical
# ranker needs: tf SATURATION (a 100th occurrence adds almost nothing,
# k1 controls the knee) and DOCUMENT-LENGTH normalization (b interpolates
# between none and full dl/avgdl scaling).  This is the standard
# Robertson/Okapi form, the exact function behind Lucene/Elasticsearch
# scoring and the lexical leg of hybrid_search_rrf.
#
#     idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
#     bm25(t, d) = idf * tf*(k1+1) / (tf + k1*((1-b) + b*dl/avgdl))
#
# Query workload: the TOP_DF_TERMS highest-df vocabulary terms stand in
# as single-term queries (deterministic: df desc, word asc) -- exactly
# the high-traffic head terms a ranker serves most, and the worst case
# for posting-list length, so the plan below is exercised at its
# heaviest.
#
# Cross-engine float discipline (text_tfidf precedent): ln() disagrees
# between JVM and DuckDB in the last ulp, so idf is squashed through
# DECIMAL(18,9); avgdl = sum_dl/N and every following op is IEEE
# correctly-rounded over bit-identical operands with operand order
# mirrored token-for-token in the oracle.
#
# Scale shape: tf and df are the same two combinable shuffles as
# text_tfidf; the 8-term query set and the scalar avgdl broadcast, so
# scoring is a SEMI-JOIN-pruned scan of just those terms' postings
# (PushedFilters can't help -- the term set is data-dependent -- but the
# broadcast hash semi-join prunes identically).  Per-term top-k is a
# word-partitioned row_number that Spark 4 rewrites to WindowGroupLimit
# (map-side partial top-k before the shuffle), so a 100 TB posting list
# ships at most k rows per input partition.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_TERMS = 8
BM25_TOPK_DOCS = 5


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("word").agg(F.count("*").cast("bigint").alias("df_docs"))
    corpus = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    wq = Window.orderBy(F.desc("df_docs"), F.asc("word"))
    # window input is the post-aggregate vocabulary table, not the stream
    qterms = (
        dfreq.withColumn("qrank", F.row_number().over(wq))
        .filter(F.col("qrank") <= BM25_TOP_TERMS)
        .crossJoin(F.broadcast(corpus))
        .select(
            "word",
            "df_docs",
            F.log(
                F.lit(1.0)
                + (
                    (F.col("n_docs") - F.col("df_docs")).cast("double")
                    + F.lit(0.5)
                )
                / (F.col("df_docs").cast("double") + F.lit(0.5))
            )
            .cast("decimal(18,9)")
            .alias("_idf9"),
            (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
                "_avgdl"
            ),
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "word")
        .join(dl, "doc_id")
        .select(
            "word",
            "df_docs",
            "doc_id",
            "tf",
            "dl",
            (
                F.col("_idf9").cast("double")
                * (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B)
                        * (F.col("dl").cast("double") / F.col("_avgdl"))
                    )
                )
            ).alias("bm25"),
        )
    )
    wd = Window.partitionBy("word").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("doc_rank", F.row_number().over(wd).cast("int"))
        .filter(F.col("doc_rank") <= BM25_TOPK_DOCS)
        .select("word", "df_docs", "doc_rank", "doc_id", "tf", "dl", "bm25")
        .orderBy("word", "doc_rank")
    )


# CTE prelude shared by the BM25 oracle and the RM3 expansion oracle
# (which re-reads the same scored feedback ranking).
_BM25_CTES = f"""tok AS (SELECT doc_id, unnest(ts) AS word FROM toks),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    qterms AS (
        SELECT word, df_docs,
               CAST(ln(1.0 + (CAST(n_docs - df_docs AS DOUBLE) + 0.5)
                             / (CAST(df_docs AS DOUBLE) + 0.5))
                    AS DECIMAL(18,9)) AS _idf9,
               CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS _avgdl
        FROM (
            SELECT *, row_number() OVER (ORDER BY df_docs DESC, word) AS qrank
            FROM dfq
        ) CROSS JOIN corpus
        WHERE qrank <= {BM25_TOP_TERMS}
    ),
    scored AS (
        SELECT q.word, q.df_docs, tf.doc_id, tf.tf, dl.dl,
               CAST(q._idf9 AS DOUBLE)
                   * (CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0})
                   / (CAST(tf.tf AS DOUBLE)
                      + {BM25_K1} * ({1.0 - BM25_B}
                          + {BM25_B} * (CAST(dl.dl AS DOUBLE) / q._avgdl)))
                   AS bm25
        FROM tf JOIN qterms q USING (word) JOIN dl USING (doc_id)
    )"""


BM25_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    {_BM25_CTES}
    SELECT word, df_docs, doc_rank, doc_id, tf, dl, bm25
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY word ORDER BY bm25 DESC, doc_id
               ) AS INTEGER) AS doc_rank
        FROM scored
    )
    WHERE doc_rank <= {BM25_TOPK_DOCS}
    ORDER BY word, doc_rank
"""


# ---------------------------------------------------------------------------
# rm3_expansion_terms: RM1 pseudo-relevance feedback (Lavrenko &
# Croft 2001; the expansion half of RM3) over the bm25_topk_docs
# serving path.  For each head-term query, the top-FB feedback docs'
# language models vote on expansion terms:
#
#     rm1(w) = sum_d  wt(d) * tf(w,d)/dl(d),   wt(d) = bm25_d / sum_FB bm25
#
# and the top RM3_EXP_TERMS new terms (the original query term
# excluded) are what RM3 would interpolate into the reformulated
# query.  This is the classic recall lever of a lexical stack -- the
# operator that turns "disk" into "disk drive controller scsi".
#
# Determinism: every per-doc contribution is a chain of IEEE
# correctly-rounded +,*,/ over bit-identical operands (bm25 scores are
# squashed to DECIMAL(18,9) BEFORE normalization so the weight ratio
# starts from identical doubles in both engines), each contribution is
# squashed to DECIMAL(18,15), and the cross-doc sum is exact decimal
# -- order-free, so the expansion ranking (rm1 desc, word asc) is
# deterministic.
#
# Scale shape: the feedback set is QUERY-BOUNDED (TOP_TERMS x FB docs
# = 40 rows, broadcast); candidate terms come from tf SEMI-JOINED to
# those 40 doc_ids -- a 100 TB corpus contributes only the feedback
# docs' own postings.  No new shuffle beyond bm25's own.
# ---------------------------------------------------------------------------

RM3_EXP_TERMS = 5


def rm3_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    fb = bm25_topk_docs(spark, sf_dir).select(
        F.col("word").alias("q_word"),
        "doc_id",
        F.col("bm25").cast("decimal(18,9)").alias("b9"),
    )
    tot = fb.groupBy("q_word").agg(F.sum("b9").alias("tot9"))
    fbw = fb.join(F.broadcast(tot), "q_word")
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    contrib = (
        tf.join(F.broadcast(fbw), "doc_id")
        .join(dl, "doc_id")
        .where(F.col("word") != F.col("q_word"))
        .select(
            "q_word",
            "word",
            (
                (F.col("b9").cast("double") / F.col("tot9").cast("double"))
                * (F.col("tf").cast("double") / F.col("dl").cast("double"))
            )
            .cast("decimal(18,15)")
            .alias("c15"),
        )
    )
    rm1 = contrib.groupBy("q_word", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fb_docs"),
        F.sum("c15").alias("rm1_15"),
    )
    wr = Window.partitionBy("q_word").orderBy(
        F.desc("rm1_15"), F.asc("word")
    )
    return (
        rm1.withColumn("exp_rank", F.row_number().over(wr).cast("int"))
        .where(F.col("exp_rank") <= RM3_EXP_TERMS)
        .select(
            "q_word",
            "exp_rank",
            F.col("word").alias("exp_word"),
            "n_fb_docs",
            F.col("rm1_15").cast("double").alias("rm1_weight"),
        )
        .orderBy("q_word", "exp_rank")
    )


RM3_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    {_BM25_CTES},
    fb AS (
        SELECT word AS q_word, doc_id,
               CAST(bm25 AS DECIMAL(18,9)) AS b9
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY word ORDER BY bm25 DESC, doc_id
                   ) AS doc_rank
            FROM scored
        )
        WHERE doc_rank <= {BM25_TOPK_DOCS}
    ),
    tot AS (SELECT q_word, sum(b9) AS tot9 FROM fb GROUP BY 1),
    contrib AS (
        SELECT f.q_word, tf.word,
               CAST((CAST(f.b9 AS DOUBLE) / CAST(t.tot9 AS DOUBLE))
                    * (CAST(tf.tf AS DOUBLE) / CAST(dl.dl AS DOUBLE))
                    AS DECIMAL(18,15)) AS c15
        FROM tf
        JOIN fb f USING (doc_id)
        JOIN tot t USING (q_word)
        JOIN dl USING (doc_id)
        WHERE tf.word <> f.q_word
    ),
    rm1 AS (
        SELECT q_word, word,
               CAST(count(*) AS BIGINT) AS n_fb_docs,
               sum(c15) AS rm1_15
        FROM contrib GROUP BY 1, 2
    )
    SELECT q_word, exp_rank, word AS exp_word, n_fb_docs,
           CAST(rm1_15 AS DOUBLE) AS rm1_weight
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY q_word ORDER BY rm1_15 DESC, word
               ) AS INTEGER) AS exp_rank
        FROM rm1
    )
    WHERE exp_rank <= {RM3_EXP_TERMS}
    ORDER BY q_word, exp_rank
"""


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query likelihood -- the OTHER standard lexical
# ranker next to bm25_topk_docs (Zhai & Lafferty's LM approach; what
# Lucene ships as LMDirichletSimilarity).  Per (term, doc):
#
#     ql = ln( (tf + MU * cf/total) / (dl + MU) )
#
# where cf is the term's collection frequency and MU the Dirichlet
# pseudo-count.  BM25 saturates tf and length-normalizes explicitly;
# QL shrinks every document toward the corpus language model -- the two
# disagree exactly where smoothing matters (rare term, short doc), so a
# retrieval stack wants both served off the one tf/dl/cf substrate.
#
# Determinism: same serving shape as bm25 (df-ranked heavy terms as the
# standing query set, broadcast onto the tf stream), but the score is a
# LOG, and JVM Math.log vs DuckDB ln differ in the last ulp -- so the
# score is squashed once onto the DECIMAL(18,9) grid (text_tfidf
# precedent) and BOTH the ranking and the emitted value use the
# squashed score.  Everything upstream of the log is a fixed-order
# double chain over exact integers.
#
# Scale shape: identical to bm25 -- three combinable aggregates, one
# broadcast of the bounded query-term table, WindowGroupLimit top-k per
# term (map-side partial top-k before the shuffle).
# ---------------------------------------------------------------------------

QL_MU = 50  # Dirichlet pseudo-count, sized to these short documents


def dirichlet_ql_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("word").agg(
        F.count("*").cast("bigint").alias("df_docs"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    corpus = dl.agg(F.sum("dl").cast("bigint").alias("total_tokens"))
    wq = Window.orderBy(F.desc("df_docs"), F.asc("word"))
    # window input is the post-aggregate vocabulary table, not the stream
    qterms = (
        dfreq.withColumn("qrank", F.row_number().over(wq))
        .filter(F.col("qrank") <= BM25_TOP_TERMS)
        .crossJoin(F.broadcast(corpus))
        .select(
            "word",
            "cf",
            (
                F.col("cf").cast("double") / F.col("total_tokens").cast("double")
            ).alias("_p_t"),
        )
    )
    # fixed operand order, mirrored in the oracle token-for-token:
    #   ql = ln( (tf + MU * p_t) / (dl + MU) )   squashed to 9 dp
    ql9 = F.log(
        (F.col("tf").cast("double") + F.lit(float(QL_MU)) * F.col("_p_t"))
        / (F.col("dl").cast("double") + F.lit(float(QL_MU)))
    ).cast("decimal(18,9)")
    scored = (
        tf.join(F.broadcast(qterms), "word")
        .join(dl, "doc_id")
        .select(
            "word", "cf", "doc_id", "tf", "dl", ql9.cast("double").alias("ql")
        )
    )
    wd = Window.partitionBy("word").orderBy(F.desc("ql"), F.asc("doc_id"))
    return (
        scored.withColumn("doc_rank", F.row_number().over(wd).cast("int"))
        .filter(F.col("doc_rank") <= BM25_TOPK_DOCS)
        .select("word", "cf", "doc_rank", "doc_id", "tf", "dl", "ql")
        .orderBy("word", "doc_rank")
    )


DIRICHLET_QL_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(ts) AS word FROM toks),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    dfq AS (
        SELECT word, CAST(count(*) AS BIGINT) AS df_docs,
               CAST(sum(tf) AS BIGINT) AS cf
        FROM tf GROUP BY 1
    ),
    corpus AS (SELECT CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
    qterms AS (
        SELECT word, cf,
               CAST(cf AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS _p_t
        FROM (
            SELECT *, row_number() OVER (ORDER BY df_docs DESC, word) AS qrank
            FROM dfq
        ) CROSS JOIN corpus
        WHERE qrank <= {BM25_TOP_TERMS}
    ),
    scored AS (
        SELECT q.word, q.cf, tf.doc_id, tf.tf, dl.dl,
               CAST(CAST(ln((CAST(tf.tf AS DOUBLE) + {float(QL_MU)} * q._p_t)
                            / (CAST(dl.dl AS DOUBLE) + {float(QL_MU)}))
                         AS DECIMAL(18,9)) AS DOUBLE) AS ql
        FROM tf JOIN qterms q USING (word) JOIN dl USING (doc_id)
    )
    SELECT word, cf, doc_rank, doc_id, tf, dl, ql
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY word ORDER BY ql DESC, doc_id
               ) AS INTEGER) AS doc_rank
        FROM scored
    )
    WHERE doc_rank <= {BM25_TOPK_DOCS}
    ORDER BY word, doc_rank
"""


def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (n-gram language statistics).

    posexplode + lead() window, NOT array indexing -- element_at over the
    inlined tokenize chain re-runs the tokenizer per element (SCALING.md
    pitfall 1).  One shuffle on doc_id for the window, one combinable
    shuffle for the count."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.select(
        "doc_id",
        F.col("word").alias("w1"),
        F.lead("word", 1).over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    return (
        pairs.groupBy("w1", "w2")
        .agg(
            F.count("*").alias("occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("occurrences") >= 2)
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "occurrences",
            "n_docs",
        )
    )


BIGRAMS_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    pairs AS (
        SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        FROM toks, unnest(range(1, len(ts))) t(i)
    )
    SELECT w1 || ' ' || w2 AS bigram,
           count(*) AS occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM pairs
    GROUP BY 1
    HAVING count(*) >= 2
"""

# Lexicons drawn from the synthetic corpus vocabulary so hits are non-trivial
# (the real value is the operator shape: literal-array membership scans,
# integer hit counts, one exact division for the score).
POS_WORDS = ["fast", "small", "merge"]
NEG_WORDS = ["slow", "big", "dup"]


def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment: integer hit counts per polarity, score =
    (pos - neg) / (pos + neg) as a single exact-int division, sign label."""
    docs = load_table(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    base = docs.select(
        "doc_id",
        _hits(ts, POS_WORDS).cast("bigint").alias("pos_hits"),
        _hits(ts, NEG_WORDS).cast("bigint").alias("neg_hits"),
    )
    total = F.col("pos_hits") + F.col("neg_hits")
    score = F.when(total == 0, F.lit(0.0)).otherwise(
        (F.col("pos_hits") - F.col("neg_hits")).cast("double") / total
    )
    return base.select(
        "doc_id",
        "pos_hits",
        "neg_hits",
        score.alias("sentiment"),
        F.when(score > 0, "positive")
        .when(score < 0, "negative")
        .otherwise("neutral")
        .alias("label"),
    )


SENTIMENT_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    base AS (
        SELECT doc_id,
               CAST({_sql_hits('ts', POS_WORDS)} AS BIGINT) AS pos_hits,
               CAST({_sql_hits('ts', NEG_WORDS)} AS BIGINT) AS neg_hits
        FROM toks
    ),
    scored AS (
        SELECT doc_id, pos_hits, neg_hits,
               CASE WHEN pos_hits + neg_hits = 0 THEN 0.0
                    ELSE CAST(pos_hits - neg_hits AS DOUBLE) / (pos_hits + neg_hits)
               END AS sentiment
        FROM base
    )
    SELECT doc_id, pos_hits, neg_hits, sentiment,
           CASE WHEN sentiment > 0 THEN 'positive'
                WHEN sentiment < 0 THEN 'negative'
                ELSE 'neutral' END AS label
    FROM scored
"""


# ---------------------------------------------------------------------------
# Normalization / cleaning: adjacent-repeat collapse + stopword strip
# ---------------------------------------------------------------------------


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite each document as cleaned text: tokenize (the shared
    reference tokenizer), collapse ADJACENT repeated tokens ("a a the" ->
    "a the" — stutter from OCR/scrape artifacts), then drop English
    stopwords; emit the rebuilt text plus audit counts.  The
    repeat-vs-previous test runs BEFORE stopword removal so two repeats
    separated by a stopword stay distinct occurrences.

    Plan: posexplode once, one lag() window per doc for adjacency, and
    ONE groupBy that computes all counts AND reassembles the text —
    ``collect_list`` of (pos, word) structs sorted by ``array_sort``
    (struct order = field order, pos first), so reassembly is
    shuffle-arrival-order-proof.  The collected list is bounded by
    document length — fine for documents, the wrong plan for unbounded
    groups."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    stops = F.array(*[F.lit(s) for s in EN_STOPS])
    flagged = toks.select(
        "doc_id",
        "pos",
        "word",
        (F.lag("word").over(w).isNull() | (F.col("word") != F.lag("word").over(w))).alias(
            "not_repeat"
        ),
    ).select(
        "doc_id",
        "pos",
        "word",
        "not_repeat",
        (F.col("not_repeat") & ~F.array_contains(stops, F.col("word"))).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(~F.col("not_repeat"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeats_removed"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "word"))
                    )
                ),
                lambda s: s["word"],
            ),
        ).alias("clean_text"),
    )


_SQL_STOPS = ", ".join(f"'{s}'" for s in EN_STOPS)

NORMALIZE_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    tok AS (
        SELECT doc_id, i AS pos, ts[i] AS word,
               (i = 1 OR ts[i] <> ts[i-1]) AS not_repeat
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    flagged AS (
        SELECT doc_id, pos, word, not_repeat,
               (not_repeat AND word NOT IN ({_SQL_STOPS})) AS keep
        FROM tok
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN NOT not_repeat THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeats_removed,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN word END, ' ' ORDER BY pos), '')
               AS clean_text
    FROM flagged
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Train/eval contamination detection: for each held-out document, the
# fraction of its distinct 3-gram shingles that also occur anywhere in the
# training split.  This is the standard pre-training hygiene check (does my
# eval set leak into the training corpus?) expressed as one shuffle-on-
# shingle left join: eval shingles probe a train-side DISTINCT shingle set.
#
# 100 TB posture: both sides are distinct-reduced before the join (the
# train side globally, the eval side per doc via shingles_df), so the join
# keys are the shingle vocabulary, not the token stream.  For web-scale
# corpora add a stop-shingle cap (drop shingles in > K train docs) -- same
# note as dedup.py's inverted-index join.
# ---------------------------------------------------------------------------

EVAL_MOD = 5  # doc_id % 5 == 0 -> the held-out eval split (~20%)


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs)
    eval_sh = sh.filter(F.col("doc_id") % EVAL_MOD == 0)
    train_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        eval_sh.join(train_sh, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination_rate",
            F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_ORACLE = f"""
    WITH {DUCKDB_SHINGLES_CTE},
    eval_sh AS (
        SELECT doc_id, sh FROM shing WHERE doc_id % {EVAL_MOD} = 0
    ),
    train_sh AS (
        SELECT DISTINCT sh FROM shing WHERE doc_id % {EVAL_MOD} <> 0
    )
    SELECT e.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(sum(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS contamination_rate
    FROM eval_sh e
    LEFT JOIN train_sh t ON e.sh = t.sh
    GROUP BY e.doc_id
    ORDER BY e.doc_id
"""

# ---------------------------------------------------------------------------
# PII-style redaction: scrub emails, long digit runs, and a configured
# sensitive-vocabulary class from every document; report per-doc match
# counts and the md5 of the redacted text (compact cross-engine witness
# that the rewritten strings are byte-identical).  All three patterns are
# in the portable regex subset (Java regex = RE2 semantics here); the
# synthetic corpus only exercises the vocabulary class, the email/number
# patterns are the real-world path.
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_NUM_RE = r"[0-9]{3,}"
PII_TERM_RE = r"\b(customer|key|query)\b"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"),
            PII_NUM_RE,
            "<NUM>",
        ),
        PII_TERM_RE,
        "<X>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(text, F.lit(PII_NUM_RE)).cast("bigint").alias("n_digit_runs"),
        F.regexp_count(text, F.lit(PII_TERM_RE)).cast("bigint").alias("n_sensitive"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


PII_ORACLE = rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_NUM_RE}')) AS BIGINT)
               AS n_digit_runs,
           CAST(len(regexp_extract_all(text, '{PII_TERM_RE}')) AS BIGINT)
               AS n_sensitive,
           CAST(length(
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PII_NUM_RE}', '<NUM>', 'g'),
                   '{PII_TERM_RE}', '<X>', 'g')) AS INTEGER) AS redacted_len,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PII_NUM_RE}', '<NUM>', 'g'),
                   '{PII_TERM_RE}', '<X>', 'g')) AS redacted_md5
    FROM documents
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Bigram-coverage quality score: the language-model-lite fluency signal.
# A document whose adjacent word pairs rarely occur elsewhere in the
# corpus is likely noise (shuffled tokens, boilerplate soup); the score
# is the fraction of a doc's bigram INSTANCES whose bigram occurs in at
# least MIN_BIGRAM_DF distinct OTHER documents.  Everything is integer
# until the single final division, so the score is bit-stable -- unlike
# a log-prob perplexity, whose ln() differs across engines in the last
# ulp (same reason tf-idf quantizes its idf).
# ---------------------------------------------------------------------------

MIN_BIGRAM_DF = 2


def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", "word", F.lead("word", 1).over(w)).alias("bg"),
            F.lead("word", 1).over(w).alias("_nxt"),
        )
        .filter(F.col("_nxt").isNotNull())
        .drop("_nxt")
    )
    df_counts = (
        bg.select("doc_id", "bg")
        .distinct()
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        bg.join(df_counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("df") >= MIN_BIGRAM_DF + 1, 1).otherwise(0)).alias(
                "n_covered"
            ),
        )
        .withColumn(
            "coverage",
            F.col("n_covered").cast("double") / F.col("n_bigrams").cast("double"),
        )
        .orderBy("doc_id")
    )


BIGRAM_COVERAGE_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, pos,
               regexp_replace(lower(t.tok), '[^0-9a-z]', '', 'g') AS word
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '\\s+')) AS tok,
                   generate_subscripts(regexp_split_to_array(text, '\\s+'), 1)
                       - 1 AS pos
            FROM documents
        ) t
        WHERE regexp_replace(lower(t.tok), '[^0-9a-z]', '', 'g') <> ''
    ),
    bg AS (
        SELECT doc_id,
               word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS bg
        FROM tok
        QUALIFY lead(word) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    ),
    dfc AS (
        SELECT bg, count(*) AS df
        FROM (SELECT DISTINCT doc_id, bg FROM bg)
        GROUP BY bg
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(sum(CASE WHEN df >= {MIN_BIGRAM_DF + 1} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN df >= {MIN_BIGRAM_DF + 1} THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS coverage
    FROM bg JOIN dfc USING (bg)
    GROUP BY doc_id
    ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# Token-ID encoding: the transform every LLM training pipeline ends with.
# vocab_table assigns dense ids by (frequency desc, word) -- the standard
# frequency-ranked vocabulary, deterministic because the tie-break is
# total.  vocab_encode_documents replaces each document's token stream
# with its id sequence (an array<bigint> per doc, order = token order).
#
# Scale shape: the vocab is a global aggregate + dense_rank (one
# shuffle + one small window over |vocab| rows, NOT the token stream);
# encoding is a broadcast-able join of the token stream against the
# vocab, then a per-doc sort-free reassembly via array_sort over
# (pos, id) structs -- no window over the token stream needed.
# ---------------------------------------------------------------------------


def vocab_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    # The dense_rank window below is global (partitionless) BY DESIGN,
    # and that is safe only because its input is `freq` -- the
    # post-aggregation vocabulary, ~1e6 rows even at corpus scale (token
    # frequencies follow Zipf; the type count grows ~ sqrt of the token
    # count) -- never the token stream.  tests/test_plans.py pins that
    # the window consumes the aggregate, so a refactor can't silently
    # move the rank onto unbounded input.
    w = Window.orderBy(F.desc("freq"), F.asc("word"))
    return freq.withColumn("token_id", F.dense_rank().over(w).cast("bigint")).select(
        "token_id", "word", "freq"
    )


VOCAB_ORACLE = f"""
    WITH tok AS ({duckdb_tokens_sql()}),
    freq AS (SELECT word, count(*) AS freq FROM tok GROUP BY word)
    SELECT CAST(dense_rank() OVER (ORDER BY freq DESC, word) AS BIGINT)
               AS token_id,
           word, freq
    FROM freq
"""


def vocab_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The id sequence is rendered as a canonical comma-joined string
    # rather than array<bigint>: downstream comparison layers (and the
    # driver's pandas-based canonicalizer) need hashable cells, and the
    # CSV rendering is byte-identical between Spark and the DuckDB
    # oracle.  Same treatment that inverted_index_map uses for its map
    # column.
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    vocab = vocab_table(spark, sf_dir).select("word", "token_id")
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                    lambda s: s.token_id,
                ),
                ",",
            ).alias("token_ids_csv"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


VOCAB_ENCODE_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, pos,
               regexp_replace(lower(t.tok), '[^0-9a-z]', '', 'g') AS word
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '\\s+')) AS tok,
                   generate_subscripts(regexp_split_to_array(text, '\\s+'), 1)
                       - 1 AS pos
            FROM documents
        ) t
        WHERE regexp_replace(lower(t.tok), '[^0-9a-z]', '', 'g') <> ''
    ),
    freq AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
    vocab AS (
        SELECT word,
               CAST(dense_rank() OVER (ORDER BY freq DESC, word) AS BIGINT)
                   AS token_id
        FROM freq
    )
    SELECT doc_id,
           array_to_string(array_agg(token_id ORDER BY pos), ',')
               AS token_ids_csv,
           count(*) AS n_tokens
    FROM tok JOIN vocab USING (word)
    GROUP BY doc_id
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Context-window extraction: overlapping fixed-size token windows per
# document -- how long documents become training samples (window W,
# stride S, so consecutive samples share W-S tokens of context).  Pure
# engine-side array math: tokenize once, then sequence+slice fan the
# token array out row-locally; no shuffle until a downstream consumer
# groups.  Windows are full-width only (a trailing fragment shorter than
# W is dropped, matching fixed-shape training batches); docs shorter
# than W yield no rows.
# ---------------------------------------------------------------------------

CTX_WINDOW = 50
CTX_STRIDE = 40


def doc_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    starts = F.sequence(
        F.lit(0), ((F.size("toks") - CTX_WINDOW) / CTX_STRIDE).cast("int")
    )
    return (
        toks.filter(F.size("toks") >= CTX_WINDOW)
        .select("doc_id", "toks", F.explode(starts).alias("win_idx"))
        .select(
            "doc_id",
            "win_idx",
            F.slice("toks", F.col("win_idx") * CTX_STRIDE + 1, CTX_WINDOW).alias(
                "window_tokens"
            ),
        )
        .select(
            "doc_id",
            "win_idx",
            F.md5(F.concat_ws(" ", "window_tokens")).alias("window_md5"),
            F.size("window_tokens").alias("n_tokens"),
        )
        .orderBy("doc_id", "win_idx")
    )


DOC_WINDOWS_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE}
    SELECT doc_id, CAST(i AS INTEGER) AS win_idx,
           md5(array_to_string(ts[i * {CTX_STRIDE} + 1 :
                                  i * {CTX_STRIDE} + {CTX_WINDOW}], ' '))
               AS window_md5,
           CAST({CTX_WINDOW} AS INTEGER) AS n_tokens
    FROM toks,
         unnest(range(0, (len(ts) - {CTX_WINDOW}) // {CTX_STRIDE} + 1)) t(i)
    WHERE len(ts) >= {CTX_WINDOW}
    ORDER BY doc_id, win_idx
"""

# ---------------------------------------------------------------------------
# Passage-level exact-duplication profile: fingerprint every stride-1
# run of PASSAGE_WINDOW tokens and find runs that recur in MULTIPLE
# documents -- the window-granular form of the suffix-array substring
# dedup used on LLM pretraining corpora (finds shared boilerplate /
# quoted passages that doc-level MinHash misses because the containing
# docs differ).  Per doc: how many of its window positions are covered
# by a cross-doc-duplicated passage, and the resulting contamination
# ratio/flag.
#
# Scale: the window stream is one row per token position (same
# cardinality as the token explode every text op already pays); windows
# are built with lead() over (doc_id, pos) -- partitioned, parallel --
# then one combinable shuffle on the 128-bit fingerprint.  Duplicated
# fingerprints are a tiny fraction, so the flagging join is
# broadcast-able in practice; written as a plain semi-join keyed by
# fingerprint and left to AQE.  All counts integer; one division.
# ---------------------------------------------------------------------------

PASSAGE_WINDOW = 10
PASSAGE_DUP_FLAG = 0.2


def passage_window_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, cnt): per-doc counts of each distinct stride-1
    PASSAGE_WINDOW-token fingerprint.

    The window stream is corpus-token cardinality -- evaluate it ONCE:
    collapse to (doc_id, fp, cnt) with a single combinable shuffle and
    persist that compact table (one row per distinct passage per doc).
    Callers derive totals / cross-doc fingerprints / dup coverage from
    it; reclaimed by the session cache contract (release_caches)."""
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", k).over(w) for k in range(1, PASSAGE_WINDOW)
    ]
    wins = (
        toks.select(
            "doc_id",
            *[p.alias(f"_w{k}") for k, p in enumerate(parts)],
        )
        .filter(F.col(f"_w{PASSAGE_WINDOW - 1}").isNotNull())
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", *[f"_w{k}" for k in range(PASSAGE_WINDOW)])
            ).alias("fp"),
        )
    )
    return (
        wins.groupBy("doc_id", "fp").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )


# DuckDB CTE producing the identical (doc_id, fp, cnt) table.
DUCKDB_PASSAGE_COUNTS_CTE = f"""
    {DUCKDB_TOKS_CTE},
    wins AS (
        SELECT doc_id,
               md5(array_to_string(ts[i : i + {PASSAGE_WINDOW - 1}], ' '))
                   AS fp
        FROM toks,
             unnest(range(1, len(ts) - {PASSAGE_WINDOW} + 2)) t(i)
        WHERE len(ts) >= {PASSAGE_WINDOW}
    ),
    grouped AS (
        SELECT doc_id, fp, count(*) AS cnt FROM wins GROUP BY doc_id, fp
    )
"""


def repeated_passage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grouped = passage_window_counts(docs)
    # one row per (doc, fp) => cross-doc multiplicity is a plain count
    dup_fp = (
        grouped.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    per_doc = grouped.groupBy("doc_id").agg(F.sum("cnt").alias("n_windows"))
    dup_per_doc = (
        grouped.join(dup_fp, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_dup_windows"))
    )
    ratio = F.col("n_dup_windows").cast("double") / F.col("n_windows")
    return (
        per_doc.join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(F.coalesce(ratio, F.lit(0.0)), 6).alias("passage_dup_ratio"),
            (
                F.round(F.coalesce(ratio, F.lit(0.0)), 6) > PASSAGE_DUP_FLAG
            ).alias("passage_contaminated"),
        )
        .orderBy("doc_id")
    )


REPEATED_PASSAGE_ORACLE = f"""
    WITH {DUCKDB_PASSAGE_COUNTS_CTE},
    dup_fp AS (
        SELECT fp FROM grouped GROUP BY fp
        HAVING count(*) >= 2
    ),
    per_doc AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_windows
        FROM grouped GROUP BY doc_id
    ),
    dup_per_doc AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_dup_windows
        FROM grouped SEMI JOIN dup_fp USING (fp)
        GROUP BY doc_id
    )
    SELECT doc_id,
           n_windows,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           round(coalesce(CAST(n_dup_windows AS DOUBLE) / n_windows, 0.0), 6)
               AS passage_dup_ratio,
           round(coalesce(CAST(n_dup_windows AS DOUBLE) / n_windows, 0.0), 6)
               > {PASSAGE_DUP_FLAG} AS passage_contaminated
    FROM per_doc LEFT JOIN dup_per_doc USING (doc_id)
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicate-span removal profile (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"): every
# stride-1 run of PASSAGE_WINDOW tokens is fingerprinted; for each
# fingerprint ONE canonical occurrence survives (the globally first by
# (doc_id, start) -- deterministic) and every other occurrence, intra-
# or cross-document, marks its token span for removal.  Output is the
# per-document removal accounting a corpus rewrite would apply: how
# many token positions sit under a removed span, what fraction
# survives.
#
# Scale: the occurrence stream is corpus-token cardinality built from a
# doc_id-PARTITIONED lead() window (parallel); the canonical pick is
# one combinable min(struct(doc_id,start)) groupBy on the fingerprint;
# only NON-canonical occurrences (a small fraction of a real corpus)
# pay the xW position explode, and the distinct that merges overlapping
# spans shuffles on (doc_id, position) -- never wider than the token
# stream itself.  All counts integer; one final division.
# ---------------------------------------------------------------------------


def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", k).over(w) for k in range(1, PASSAGE_WINDOW)
    ]
    occ = (
        toks.select(
            "doc_id",
            F.row_number().over(w).alias("s"),  # dense 1-based start
            *[p.alias(f"_w{k}") for k, p in enumerate(parts)],
        )
        .filter(F.col(f"_w{PASSAGE_WINDOW - 1}").isNotNull())
        .select(
            "doc_id",
            "s",
            F.md5(
                F.concat_ws(" ", *[f"_w{k}" for k in range(PASSAGE_WINDOW)])
            ).alias("fp"),
        )
        .persist()
    )
    canon = occ.groupBy("fp").agg(
        F.min(F.struct(F.col("doc_id").alias("d"), F.col("s").alias("p"))).alias(
            "c"
        )
    )
    dup_occ = occ.join(canon, "fp").filter(
        (F.col("doc_id") != F.col("c.d")) | (F.col("s") != F.col("c.p"))
    )
    covered = dup_occ.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("s"), F.col("s") + PASSAGE_WINDOW - 1)
        ).alias("p"),
    ).distinct()
    dropped = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_positions")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        per_doc.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            (
                F.col("n_tokens") - F.coalesce("n_dup_positions", F.lit(0))
            ).alias("retained_tokens"),
            F.round(
                (
                    F.col("n_tokens") - F.coalesce("n_dup_positions", F.lit(0))
                ).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("retained_ratio"),
        )
        .orderBy("doc_id")
    )


EXACT_SUBSTRING_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    occ AS (
        SELECT doc_id, i AS s,
               md5(array_to_string(ts[i : i + {PASSAGE_WINDOW - 1}], ' '))
                   AS fp,
               row_number() OVER (
                   PARTITION BY
                       md5(array_to_string(ts[i : i + {PASSAGE_WINDOW - 1}], ' '))
                   ORDER BY doc_id, i) AS rk
        FROM toks,
             unnest(range(1, len(ts) - {PASSAGE_WINDOW} + 2)) t(i)
        WHERE len(ts) >= {PASSAGE_WINDOW}
    ),
    covered AS (
        SELECT DISTINCT doc_id, p
        FROM occ, unnest(range(s, s + {PASSAGE_WINDOW})) t(p)
        WHERE rk >= 2
    ),
    dropped AS (
        SELECT doc_id, count(*) AS n_dup FROM covered GROUP BY doc_id
    ),
    -- len > 0 mirrors the Spark side, whose per-doc counts come from the
    -- exploded token stream (a 0-token doc contributes no rows there)
    per_doc AS (SELECT doc_id, len(ts) AS n_tokens FROM toks WHERE len(ts) > 0)
    SELECT per_doc.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_positions,
           CAST(n_tokens - coalesce(n_dup, 0) AS BIGINT) AS retained_tokens,
           round(CAST(n_tokens - coalesce(n_dup, 0) AS DOUBLE) / n_tokens, 6)
               AS retained_ratio
    FROM per_doc LEFT JOIN dropped USING (doc_id)
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Token-budget shard packing: assign documents to fixed-budget training
# shards by cumulative token count in a deterministic order (doc_id) --
# the pretraining shard-assignment step.  shard = floor((cumsum -
# n_toks) / BUDGET) (each doc's STARTING offset picks its shard), a
# single window cumsum; all integers.  A doc longer than the budget
# still lands in one shard (real packers split it first -- that's
# doc_token_windows' job).
#
# The naive global cumsum is a single-partition window by definition --
# it orders the WHOLE corpus.  This is the classic two-pass distributed
# prefix sum instead: range-partition by doc_id, cumsum WITHIN each
# range (a partitioned window -- every range sorts in parallel), then
# add each range's starting offset, computed from a driver-side scan of
# the per-range totals (one row per range: ~#partitions values, bounded
# by cluster size, never by data size).  Bit-identical integers to the
# global cumsum, so the same exact oracle applies -- but no stage ever
# sees more than one range's rows.
#
# The ranged intermediate is persisted: pass 1 (totals) and pass 2 (the
# partitioned cumsum) must observe the SAME range assignment, and the
# cache pins the spark_partition_id values between the two jobs.  The
# session cache contract (session.release_caches) reclaims it.
# ---------------------------------------------------------------------------

SHARD_TOKEN_BUDGET = 5000


def _doc_start_positions(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """counts(doc_id, n_toks) -> (doc_id, n_toks, doc_start): each doc's
    EXCLUSIVE prefix sum of n_toks in global doc_id order -- the two-pass
    distributed prefix sum shared by token_budget_packing and
    sequence_pack_tokens.

    pass 1: per-range token totals -- at most n_ranges rows reach the
    driver, so the collect is O(cluster), not O(data).  pass 2: cumsum
    within each range (a PARTITIONED window: every range sorts in
    parallel) + the broadcast range offset == the exact global running
    total; no stage ever sees more than one range's rows.  The ranged
    intermediate is persisted because both passes must observe the SAME
    range assignment (spark_partition_id is only stable across jobs for
    a cached plan); session.release_caches reclaims it."""
    n_ranges = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = (
        counts.repartitionByRange(n_ranges, "doc_id")
        .withColumn("rng", F.spark_partition_id())
        .persist()
    )
    totals = sorted(
        (int(r["rng"]), int(r["t"]))
        for r in ranged.groupBy("rng").agg(F.sum("n_toks").alias("t")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for rng, tot in totals:
        offsets[rng] = acc
        acc += tot
    if offsets:
        off_col = F.element_at(
            F.create_map(
                *[
                    c
                    for k, v in offsets.items()
                    for c in (F.lit(k).cast("int"), F.lit(v).cast("bigint"))
                ]
            ),
            F.col("rng"),
        )
    else:
        off_col = F.lit(0).cast("bigint")
    w_in = (
        Window.partitionBy("rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ranged.select(
        "doc_id",
        "n_toks",
        (off_col + F.sum("n_toks").over(w_in) - F.col("n_toks")).alias(
            "doc_start"
        ),
    )


def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_toks")
    )
    # each doc's STARTING global offset picks its shard; integer DIV on
    # the exact prefix sum, bit-identical to the single-window cumsum
    assigned = _doc_start_positions(spark, counts).select(
        "doc_id",
        "n_toks",
        F.expr(f"doc_start div {SHARD_TOKEN_BUDGET}").alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard")
    )


PACKING_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    n AS (SELECT doc_id, len(ts) AS n_toks FROM toks),
    a AS (
        SELECT doc_id, n_toks,
               (sum(n_toks) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) - n_toks)
                   // {SHARD_TOKEN_BUDGET} AS shard
        FROM n
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM a
    GROUP BY shard
    ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Training-shard manifest: the release artifact a training job consumes
# -- token_budget_packing's shard assignment extended with an
# order-insensitive content checksum per shard (md5 of the
# numerically-sorted doc_id list) and the budget fill fraction, so a
# downstream loader can verify it received exactly the declared
# documents without re-reading any text.  Reuses the shared two-pass
# distributed prefix sum for the shard assignment (driver state is
# O(#partitions)).
#
# Scale: the per-shard collect_list is bounded by construction for
# docs with >= 1 token -- each such doc advances the prefix sum, so a
# shard holds at most SHARD_TOKEN_BUDGET of them.  Zero-token documents
# (which the prefix-sum path deliberately keeps) all share one
# doc_start, so ONLY they can inflate a shard's group beyond the
# budget; a corpus that is mostly empty docs would need an n_toks > 0
# pre-filter before the checksum rollup.  Same combinable shuffle as
# the packing report.
# ---------------------------------------------------------------------------


def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_toks")
    )
    assigned = _doc_start_positions(spark, counts).select(
        "doc_id",
        "n_toks",
        F.expr(f"doc_start div {SHARD_TOKEN_BUDGET}").alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            # numeric sort BEFORE stringify: '10' < '9' lexicographically
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda d: d.cast("string"),
                    ),
                )
            ).alias("doc_list_md5"),
        )
        .select(
            "*",
            F.round(
                F.col("shard_tokens").cast("double") / SHARD_TOKEN_BUDGET, 6
            ).alias("fill_frac"),
        )
        .orderBy("shard")
    )


SHARD_MANIFEST_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    n AS (SELECT doc_id, len(ts) AS n_toks FROM toks),
    a AS (
        SELECT doc_id, n_toks,
               (sum(n_toks) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) - n_toks)
                   // {SHARD_TOKEN_BUDGET} AS shard
        FROM n
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS doc_list_md5,
           round(CAST(sum(n_toks) AS DOUBLE) / {SHARD_TOKEN_BUDGET}, 6)
               AS fill_frac
    FROM a
    GROUP BY shard
    ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Shard balance audit -- the operational read on the manifest: when the
# scheduler hands one shard per worker, the MAX shard is the straggler
# and the job's wall clock; this one-row report quantifies how far the
# packing is from uniform (max/mean straggler factor, Gini over shard
# token sizes via the exact sorted-rank formula, coefficient of
# variation from exact sufficient statistics).
#
# Determinism: shard sizes are exact BIGINTs off the manifest; the
# Gini rank is the two-pass distributed rank (range-partition on the
# sort key, row_number WITHIN each range in parallel, plus per-range
# row-count offsets -- O(cluster) driver state, the
# _doc_start_positions prefix-sum discipline applied to ranks), so the
# shard table (corpus_tokens / SHARD_TOKEN_BUDGET rows -- it GROWS
# with the corpus, just divided by a big constant) is never funneled
# through a single-partition global window; rank*size and the squared
# sums accumulate in DECIMAL(38,0); the Gini/CV are single-row double
# chains over those exact values.
# ---------------------------------------------------------------------------


def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    shards = training_shard_manifest(spark, sf_dir).select(
        "shard", "shard_tokens"
    )
    # Distributed global rank: repartitionByRange orders partition ids
    # by the sort key, so rank = in-range row_number + (rows in earlier
    # ranges).  The ranged frame is persisted because both passes must
    # observe the SAME range assignment; session.release_caches
    # reclaims it.  (shard, shard_tokens) keys are unique per row, so
    # the rank is exact and deterministic.
    n_ranges = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = (
        shards.repartitionByRange(n_ranges, "shard_tokens", "shard")
        .withColumn("rng", F.spark_partition_id())
        .persist()
    )
    cnts = sorted(
        (int(r["rng"]), int(r["c"]))
        for r in ranged.groupBy("rng")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for rng, c in cnts:
        offsets[rng] = acc
        acc += c
    if offsets:
        off_col = F.element_at(
            F.create_map(
                *[
                    c
                    for k, v in offsets.items()
                    for c in (F.lit(k).cast("int"), F.lit(v).cast("bigint"))
                ]
            ),
            F.col("rng"),
        )
    else:
        off_col = F.lit(0).cast("bigint")
    w_in = Window.partitionBy("rng").orderBy("shard_tokens", "shard")
    ranked = ranged.select(
        "shard",
        "shard_tokens",
        (off_col + F.row_number().over(w_in).cast("bigint")).alias("rk"),
    )
    x38 = F.col("shard_tokens").cast("decimal(38,0)")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum(x38).alias("s"),
        F.sum(F.col("rk").cast("decimal(19,0)") * x38).alias("s1"),
        F.sum(x38 * F.col("shard_tokens").cast("decimal(19,0)")).alias("s2"),
        F.min("shard_tokens").alias("min_tokens"),
        F.max("shard_tokens").alias("max_tokens"),
    )
    nd = F.col("n_shards").cast("double")
    sd = F.col("s").cast("double")
    mean = sd / nd
    var = (F.col("s2").cast("double") - sd * sd / nd) / nd  # population
    return agg.select(
        "n_shards",
        F.col("s").cast("bigint").alias("total_tokens"),
        "min_tokens",
        "max_tokens",
        F.round(mean, 6).alias("mean_tokens"),
        F.when(sd > 0, F.col("max_tokens").cast("double") / mean).alias(
            "max_over_mean"
        ),
        F.when(
            (F.col("n_shards") > 1) & (sd > 0),
            (
                F.lit(2).cast("double") * F.col("s1").cast("double")
                - (F.col("n_shards") + 1).cast("double") * sd
            )
            / (nd * sd),
        ).alias("gini"),
        F.when((F.col("n_shards") > 1) & (sd > 0), F.sqrt(var) / mean).alias(
            "cv"
        ),
    )


SHARD_BALANCE_ORACLE = f"""
    WITH m AS ({SHARD_MANIFEST_ORACLE.strip()}),
    ranked AS (
        SELECT shard, shard_tokens,
               CAST(row_number() OVER (ORDER BY shard_tokens, shard)
                   AS BIGINT) AS rk
        FROM m
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_shards,
               sum(CAST(shard_tokens AS DECIMAL(38,0))) AS s,
               sum(CAST(rk AS DECIMAL(19,0))
                   * CAST(shard_tokens AS DECIMAL(38,0))) AS s1,
               sum(CAST(shard_tokens AS DECIMAL(38,0))
                   * CAST(shard_tokens AS DECIMAL(19,0))) AS s2,
               min(shard_tokens) AS min_tokens,
               max(shard_tokens) AS max_tokens
        FROM ranked
    )
    SELECT n_shards,
           CAST(s AS BIGINT) AS total_tokens,
           min_tokens, max_tokens,
           round(CAST(s AS DOUBLE) / CAST(n_shards AS DOUBLE), 6)
               AS mean_tokens,
           CASE WHEN CAST(s AS DOUBLE) > 0
                THEN CAST(max_tokens AS DOUBLE)
                     / (CAST(s AS DOUBLE) / CAST(n_shards AS DOUBLE))
           END AS max_over_mean,
           CASE WHEN n_shards > 1 AND CAST(s AS DOUBLE) > 0
                THEN (CAST(2 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      - CAST(n_shards + 1 AS DOUBLE) * CAST(s AS DOUBLE))
                     / (CAST(n_shards AS DOUBLE) * CAST(s AS DOUBLE))
           END AS gini,
           CASE WHEN n_shards > 1 AND CAST(s AS DOUBLE) > 0
                THEN sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                             / CAST(n_shards AS DOUBLE))
                          / CAST(n_shards AS DOUBLE))
                     / (CAST(s AS DOUBLE) / CAST(n_shards AS DOUBLE))
           END AS cv
    FROM agg
"""


# ---------------------------------------------------------------------------
# Concat-and-chunk sequence packing: THE LM-pretraining data-prep step
# -- concatenate every document's token stream in deterministic
# (doc_id, position) order and cut it into fixed SEQ_LEN training
# sequences, crossing document boundaries (GPT-style packing; what
# doc_token_windows does per-doc and token_budget_packing does at
# whole-doc granularity, this does at TOKEN granularity over the global
# stream).  Output is one row per training sequence: its exact token
# count (only the tail sequence may be short), how many documents it
# spans, their id range, and the md5 of the packed token text -- a
# content hash a downstream writer can verify shards against.
#
# Scale: the global token position is doc_start (from the shared
# two-pass distributed prefix sum -- O(cluster) driver state, every
# range cumsums in parallel) + the doc-PARTITIONED row_number; the
# per-sequence rollup is one shuffle on seq_id whose groups are <=
# SEQ_LEN rows by construction, so the ordered collect_list is bounded
# and the corpus-cardinality stream is never globally sorted.
# ---------------------------------------------------------------------------

SEQ_LEN = 128


def sequence_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    tok = toks.select(
        "doc_id", "word", (F.row_number().over(w) - 1).alias("rn")
    )
    counts = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    starts = _doc_start_positions(spark, counts).select("doc_id", "doc_start")
    seq = tok.join(starts, "doc_id").select(
        "doc_id",
        "word",
        (F.col("doc_start") + F.col("rn")).alias("gpos"),
    )
    packed = (
        seq.select(
            "doc_id", "word", "gpos", F.expr(f"gpos div {SEQ_LEN}").alias("seq_id")
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("gpos").alias("g"), F.col("word").alias("w"))
                )
            ).alias("toks"),
        )
    )
    return packed.select(
        "seq_id",
        "n_tokens",
        "n_docs",
        "first_doc",
        "last_doc",
        F.md5(
            F.concat_ws(" ", F.transform(F.col("toks"), lambda s: s["w"]))
        ).alias("seq_md5"),
    ).orderBy("seq_id")


SEQUENCE_PACK_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    stream AS (
        SELECT doc_id, ts[i] AS word,
               row_number() OVER (ORDER BY doc_id, i) - 1 AS gpos
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    )
    SELECT gpos // {SEQ_LEN} AS seq_id,
           count(*) AS n_tokens,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           md5(string_agg(word, ' ' ORDER BY gpos)) AS seq_md5
    FROM stream
    GROUP BY 1
    ORDER BY seq_id
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition quality filter (Rae et al. 2021, "Scaling
# Language Models", table A1): documents dominated by a few repeated
# n-grams are boilerplate/spam and get dropped before training.  The
# published rules are line-based; this corpus has no newlines, so the
# same statistics are computed over the token stream:
#
#   top_unigram_frac  -- most frequent token's share of all tokens
#   top_bigram_frac   -- most frequent bigram's share of all bigrams
#   dup_trigram_frac  -- share of trigram occurrences beyond each
#                        trigram's first (n_trigrams - distinct)/n
#
# Plan shape -- deliberately SINGLE-PASS: one posexplode of the corpus,
# lead() windows build the 2/3-grams in the same window pass, and the
# three gram types are unpivoted into one (doc_id, type, gram) stream
# (explode of a 3-struct array) so ALL statistics come from one
# (doc_id, type, gram) count plus one per-doc conditional rollup.  The
# naive formulation -- separate uni/bi/tri aggregates joined back on
# doc_id -- reads the corpus three times and pays the window sort twice;
# this one is 1 scan, 1 window sort, 2 combinable shuffles, 0 joins,
# which is the difference that matters when the input is 100 TB.
# Numeric discipline: every ratio is a single double division of exact
# integers; the keep/drop flag compares those integers cross-multiplied,
# so the boolean never depends on float rounding at all.
# ---------------------------------------------------------------------------

# Gopher-ish thresholds, expressed as integer ratios (numerator,
# denominator) so the flag can be evaluated in exact arithmetic:
# drop when top_unigram > 20%, top_bigram > 40%, or dup_trigram > 60%.
REP_TOP_UNIGRAM = (1, 5)
REP_TOP_BIGRAM = (2, 5)
REP_DUP_TRIGRAM = (3, 5)


def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _repetition_report(tokens_with_pos(docs))


def _repetition_report(toks: DataFrame) -> DataFrame:
    """text_repetition_filter's report over a caller-supplied
    ``tokens_with_pos`` stream -- split out (optimization round 13) so the
    composite gate queries can feed ONE shared tokenize pass instead of
    re-tokenizing the corpus per sub-pipeline (guide §5 reuse)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    # window expressions are not allowed inside a generator: materialize
    # the two lead columns first, then unpivot.  concat_ws SKIPS nulls (a
    # trailing bigram would silently become its unigram), so incomplete
    # grams at doc end are nulled explicitly and dropped after the unpivot.
    leads = toks.select(
        "doc_id",
        "word",
        F.lead("word", 1).over(w).alias("w1"),
        F.lead("word", 2).over(w).alias("w2"),
    )
    grams = leads.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("u").alias("t"), F.col("word").alias("g")),
                F.struct(
                    F.lit("b").alias("t"),
                    F.when(
                        F.col("w1").isNotNull(),
                        F.concat_ws(" ", "word", "w1"),
                    ).alias("g"),
                ),
                F.struct(
                    F.lit("t").alias("t"),
                    F.when(
                        F.col("w2").isNotNull(),
                        F.concat_ws(" ", "word", "w1", "w2"),
                    ).alias("g"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.t").alias("t"), F.col("x.g").alias("g"))

    counts = (
        grams.filter(F.col("g").isNotNull()).groupBy("doc_id", "t", "g").count()
    )
    is_u = F.col("t") == "u"
    is_b = F.col("t") == "b"
    is_t = F.col("t") == "t"
    c_if = lambda cond: F.when(cond, F.col("count"))  # noqa: E731
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(c_if(is_u)).alias("n_tokens"),
        F.count(c_if(is_u)).alias("distinct_tokens"),
        F.max(c_if(is_u)).alias("top_unigram_n"),
        F.sum(c_if(is_b)).alias("n_bigrams"),
        F.max(c_if(is_b)).alias("top_bigram_n"),
        F.sum(c_if(is_t)).alias("n_trigrams"),
        (F.sum(c_if(is_t)) - F.count(c_if(is_t))).alias("dup_trigram_n"),
    )

    ru_n, ru_d = REP_TOP_UNIGRAM
    rb_n, rb_d = REP_TOP_BIGRAM
    rt_n, rt_d = REP_DUP_TRIGRAM
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        "top_unigram_n",
        "n_bigrams",
        "top_bigram_n",
        "n_trigrams",
        "dup_trigram_n",
        # ratios rounded to 6 dp on BOTH engines: the driver's value hash is
        # representation-sensitive, so emitted doubles must be round-stable.
        F.round(F.col("top_unigram_n") / F.col("n_tokens"), 6).alias(
            "top_unigram_frac"
        ),
        F.round(F.col("top_bigram_n") / F.col("n_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
        F.round(F.col("dup_trigram_n") / F.col("n_trigrams"), 6).alias(
            "dup_trigram_frac"
        ),
        # coalesce: a doc too short to have bi/trigrams makes those terms
        # NULL and false OR NULL is NULL -- which a downstream
        # filter(~repetitive) would silently drop.  Too-short-to-judge
        # means NOT repetitive, as a real boolean, on both engines.
        F.coalesce(
            (F.col("top_unigram_n") * ru_d > F.col("n_tokens") * ru_n)
            | (F.col("top_bigram_n") * rb_d > F.col("n_bigrams") * rb_n)
            | (F.col("dup_trigram_n") * rt_d > F.col("n_trigrams") * rt_n),
            F.lit(False),
        ).alias("repetitive"),
    ).orderBy("doc_id")


REPETITION_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    uni_g AS (
        SELECT doc_id, ts[i] AS g, count(*) AS c
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
        GROUP BY 1, 2
    ),
    uni AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS distinct_tokens,
               max(c) AS top_unigram_n
        FROM uni_g GROUP BY doc_id
    ),
    bi_g AS (
        SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g, count(*) AS c
        FROM toks, unnest(range(1, len(ts))) t(i)
        GROUP BY 1, 2
    ),
    bi AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
               max(c) AS top_bigram_n
        FROM bi_g GROUP BY doc_id
    ),
    tri_g AS (
        SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g,
               count(*) AS c
        FROM toks, unnest(range(1, len(ts) - 1)) t(i)
        GROUP BY 1, 2
    ),
    tri AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
               CAST(sum(c) - count(*) AS BIGINT) AS dup_trigram_n
        FROM tri_g GROUP BY doc_id
    )
    SELECT uni.doc_id, n_tokens, distinct_tokens, top_unigram_n,
           n_bigrams, top_bigram_n, n_trigrams, dup_trigram_n,
           round(top_unigram_n / n_tokens, 6) AS top_unigram_frac,
           round(top_bigram_n / n_bigrams, 6) AS top_bigram_frac,
           round(dup_trigram_n / n_trigrams, 6) AS dup_trigram_frac,
           coalesce(
               top_unigram_n * {REP_TOP_UNIGRAM[1]} > n_tokens * {REP_TOP_UNIGRAM[0]}
               OR top_bigram_n * {REP_TOP_BIGRAM[1]} > n_bigrams * {REP_TOP_BIGRAM[0]}
               OR dup_trigram_n * {REP_DUP_TRIGRAM[1]} > n_trigrams * {REP_DUP_TRIGRAM[0]},
               false
           ) AS repetitive
    FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
             LEFT JOIN tri ON uni.doc_id = tri.doc_id
    ORDER BY uni.doc_id
"""


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring: per-document average negative log
# probability under the corpus's own unigram distribution -- the
# perplexity-proxy filter (the cheap stand-in for a KenLM pass) that
# flags gibberish (rare-token soup scores high) and boilerplate
# (common-token soup scores low).  p(w) = corpus_freq(w) / corpus_total,
# so the model "trains" and scores in one plan.
#
# Determinism: each token's log p is a double (ln(freq) - ln(total)),
# cast to DECIMAL(25,12) BEFORE the per-doc sum -- the reduction is
# exact and partitioning-order-free (the geomean twin's discipline);
# the final avg divides once and rounds to 1e-6, and perplexity is
# exp() of that already-rounded double, rounded to 1e-4, absorbing
# last-ulp libm differences.
#
# Scale: one token scan feeds both the frequency table and the scoring
# join; the frequency join shuffles on word (a vocabulary is NOT
# assumed broadcastable at 100 TB -- let AQE decide), the 1-row total
# broadcasts, and the per-doc rollup partial-aggs.
# ---------------------------------------------------------------------------


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    lp = (F.log("c") - F.log("total")).cast("decimal(25,12)")
    scored = toks.join(freq, "word").crossJoin(F.broadcast(total))
    nll = -F.sum(lp).cast("double") / F.count(F.lit(1))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(nll, 6).alias("avg_nll"),
            F.round(F.exp(F.round(nll, 6)), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


UNIGRAM_LOGPROB_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    stream AS (
        SELECT doc_id, ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    freq AS (SELECT word, count(*) AS c FROM stream GROUP BY word),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM freq),
    lps AS (
        SELECT doc_id,
               CAST(ln(c) - ln(total) AS DECIMAL(25,12)) AS lp
        FROM stream JOIN freq USING (word), tot
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_nll,
           round(exp(round(-CAST(sum(lp) AS DOUBLE) / count(*), 6)), 4) AS ppl
    FROM lps
    GROUP BY doc_id
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus-health report: per-language Zipf/type-token statistics -- the
# first thing to look at when a crawl slice smells wrong (a collapsed
# type-token ratio means boilerplate flooding; a vanishing hapax
# fraction means dedup failed upstream; top-K coverage approaching 1
# means template text).  Everything is integer counts with single
# double divisions at the end.  TOP_COVER_K ranks ties by word so the
# covered-token count is deterministic on any engine.
#
# Scale: one token scan, one combinable (lang, word) shuffle, then the
# per-language rollup + a window rank over the per-language VOCABULARY
# (not the token stream) -- the sort input is |vocab| rows per
# language, which is the small side of a text corpus.
# ---------------------------------------------------------------------------

TOP_COVER_K = 100


def corpus_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs, keep=("lang",))
    wc = toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("word"))
    ranked = wc.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.groupBy("lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax_count"),
            F.sum(F.when(F.col("rnk") <= TOP_COVER_K, F.col("c")).otherwise(0)).alias(
                "topk_tokens"
            ),
        )
        .select(
            "lang",
            "n_tokens",
            "vocab_size",
            "hapax_count",
            "topk_tokens",
            # round(6): the driver's value hash is representation-sensitive,
            # so emitted doubles must be round-stable on both engines.
            F.round(F.col("vocab_size") / F.col("n_tokens"), 6).alias(
                "type_token_ratio"
            ),
            F.round(F.col("hapax_count") / F.col("vocab_size"), 6).alias(
                "hapax_frac"
            ),
            F.round(F.col("topk_tokens") / F.col("n_tokens"), 6).alias(
                "topk_coverage"
            ),
        )
        .orderBy("lang")
    )


ZIPF_STATS_ORACLE = f"""
    WITH stream AS (
        SELECT lang,
               regexp_replace(lower(tok), '[^0-9a-z]', '', 'g') AS word
        FROM (
            SELECT lang, unnest(regexp_split_to_array(text, '\\s+')) AS tok
            FROM documents
        )
        WHERE regexp_replace(lower(tok), '[^0-9a-z]', '', 'g') <> ''
    ),
    wc AS (SELECT lang, word, count(*) AS c FROM stream GROUP BY 1, 2),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY c DESC, word) AS rnk
        FROM wc
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           CAST(sum(CASE WHEN rnk <= {TOP_COVER_K} THEN c ELSE 0 END) AS BIGINT)
               AS topk_tokens,
           round(count(*) / sum(c), 6) AS type_token_ratio,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / count(*), 6)
               AS hapax_frac,
           round(sum(CASE WHEN rnk <= {TOP_COVER_K} THEN c ELSE 0 END) / sum(c), 6)
               AS topk_coverage
    FROM ranked
    GROUP BY lang
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Bigram conditional log-prob scoring: per-document average of
# -ln P(w_k | w_{k-1}) with P(b|a) = c(a b) / c(a ·), where c(a ·)
# counts bigram PREFIX occurrences (so the estimator is a proper
# conditional MLE and every probability is <= 1).  The word-order
# complement of text_unigram_logprob: a bag-of-frequent-words document
# scores well there but poorly here if its transitions are unnatural.
# Same determinism discipline: each ln(c_ab) - ln(c_a) is decimal-cast
# before the per-doc sum; single division; round(6); docs with < 2
# tokens have no transitions and drop out (both engines).
#
# Scale: the bigram stream comes from the one lead() window pass; its
# count table and the prefix-count table are the same combinable
# aggregate at two key widths; scoring joins shuffle on the bigram key
# -- nothing is ever quadratic and no model is collected to the driver.
# ---------------------------------------------------------------------------


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id", "word", F.lead("word", 1).over(w).alias("w1")
        )
        .filter(F.col("w1").isNotNull())
        .select("doc_id", F.col("word").alias("a"), F.col("w1").alias("b"))
    )
    c_ab = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    c_a = c_ab.groupBy("a").agg(F.sum("cab").alias("ca"))
    lp = (F.log("cab") - F.log("ca")).cast("decimal(25,12)")
    scored = big.join(c_ab, ["a", "b"]).join(c_a, "a")
    nll = -F.sum(lp).cast("double") / F.count(F.lit(1))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(nll, 6).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


BIGRAM_LOGPROB_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    big AS (
        SELECT doc_id, ts[i] AS a, ts[i+1] AS b
        FROM toks, unnest(range(1, len(ts))) t(i)
    ),
    c_ab AS (SELECT a, b, count(*) AS cab FROM big GROUP BY a, b),
    c_a AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM c_ab GROUP BY a),
    lps AS (
        SELECT doc_id,
               CAST(ln(cab) - ln(ca) AS DECIMAL(25,12)) AS lp
        FROM big JOIN c_ab USING (a, b) JOIN c_a USING (a)
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_nll
    FROM lps
    GROUP BY doc_id
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every document by
# how target-domain-like it is, using hashed n-gram bag-of-words models.
# Features are unigrams + bigrams hashed into 256 buckets (the 2-hex-char
# md5 prefix IS the bucket id -- identical on Spark and DuckDB, no
# numeric conversion needed); the "target" is the in-domain slice
# (lang = 'en' here, a stand-in for e.g. a Wikipedia sample) and the
# "source" is the whole corpus.  Per-doc log importance weight:
#
#   sum over feature occurrences of  ln p_target(b) - ln p_source(b)
#
# with Laplace smoothing p(b) = (c_b + 1) / (T + 256).  Docs scoring
# > 0 look more target-like than the corpus average -- resampling by
# these weights is the published recipe for tilting a 100 TB crawl
# toward a domain without training a classifier.
#
# Determinism: both model counts are exact integers from one shuffle;
# each BUCKET's log ratio is one double expression over those integers
# (bit-identical cross-engine) cast to DECIMAL(25,12) in the 256-row
# bucket table, so the per-doc sum is an exact decimal reduction --
# partitioning-order-free -- and the final round(6) absorbs last-ulp
# libm noise (the unigram-logprob discipline).
#
# Scale: one token scan -> one doc_id window (the bigram lead) -> the
# feature stream; bucket-model aggregation is a 256-group combinable
# shuffle; the 256-row scored-bucket table broadcast-joins back onto
# the stream and the per-doc rollup partial-aggs.  Nothing global, no
# all-pairs, no Python.
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"
DSIR_BUCKETS = 256  # 2 hex chars of md5


def _dsir_feature_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) -- one row per unigram+bigram occurrence,
    bucket = 2-hex md5 prefix of the gram text."""
    base = tokens_with_pos(docs, keep=("doc_id", "lang"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = base.select(
        "doc_id", "lang", "word", F.lead("word", 1).over(w).alias("w1")
    )
    return (
        leads.select(
            "doc_id",
            "lang",
            F.explode(
                F.array(
                    F.substring(F.md5("word"), 1, 2),
                    F.when(
                        F.col("w1").isNotNull(),
                        F.substring(F.md5(F.concat_ws(" ", "word", "w1")), 1, 2),
                    ),
                )
            ).alias("bucket"),
        )
        .filter(F.col("bucket").isNotNull())
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = _dsir_feature_stream(docs)
    bc = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("c_t"),
    )
    tot = bc.agg(F.sum("c_s").alias("t_s"), F.sum("c_t").alias("t_t"))
    lr = (
        F.log(F.col("c_t") + 1)
        - F.log(F.col("t_t") + DSIR_BUCKETS)
        - F.log(F.col("c_s") + 1)
        + F.log(F.col("t_s") + DSIR_BUCKETS)
    ).cast("decimal(25,12)")
    scored_buckets = bc.crossJoin(F.broadcast(tot)).select(
        "bucket", lr.alias("lr")
    )
    weight = F.round(F.sum("lr").cast("double"), 6)
    return (
        feats.join(F.broadcast(scored_buckets), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            weight.alias("logweight"),
            (weight > 0).alias("selected"),
        )
        .orderBy("doc_id")
    )


DSIR_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(
                   list_transform(regexp_split_to_array(text, '\\s+'),
                                  x -> regexp_replace(lower(x),
                                                      '[^0-9a-z]', '', 'g')),
                   x -> x <> '') AS ts
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, substring(md5(ts[i]), 1, 2) AS bucket
        FROM t, unnest(range(1, len(ts) + 1)) u(i)
        UNION ALL
        SELECT doc_id, lang,
               substring(md5(ts[i] || ' ' || ts[i+1]), 1, 2) AS bucket
        FROM t, unnest(range(1, len(ts))) u(i)
    ),
    bc AS (
        SELECT bucket, count(*) AS c_s,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS c_t
        FROM feats GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(sum(c_s) AS BIGINT) AS t_s,
               CAST(sum(c_t) AS BIGINT) AS t_t
        FROM bc
    ),
    lr AS (
        SELECT bucket,
               CAST(ln(c_t + 1) - ln(t_t + {DSIR_BUCKETS})
                    - ln(c_s + 1) + ln(t_s + {DSIR_BUCKETS})
                    AS DECIMAL(25,12)) AS lr
        FROM bc, tot
    )
    SELECT doc_id, lang,
           count(*) AS n_feats,
           round(CAST(sum(lr) AS DOUBLE), 6) AS logweight,
           round(CAST(sum(lr) AS DOUBLE), 6) > 0 AS selected
    FROM feats JOIN lr USING (bucket)
    GROUP BY doc_id, lang
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE merge-rule learning (Sennrich et al. 2016): the tokenizer-training
# step of every LLM data pipeline.  Start from characters, repeatedly
# (a) count adjacent symbol pairs across the corpus, (b) merge the most
# frequent pair everywhere, K times; the output is the learned merge
# table (rank, left, right, merged, pair_count).
#
# The scale trick that makes BPE tractable is that training never needs
# the token STREAM -- only the word->frequency table (vocabulary
# cardinality, Zipf-bounded): pair counts are frequency-weighted sums
# over distinct words.  So: one corpus-wide shuffle builds word counts,
# then every iteration is (pair explode -> combinable 2-symbol-group
# aggregate -> a top-1 collect of ONE row -> a map-only greedy re-merge
# of the symbol arrays).  The iteration-k top-1 probe is a scalar
# driver collect (the k-means codebook precedent); localCheckpoint
# truncates the K-deep lineage (the graph.py precedent; swap for
# reliable checkpoints on a real cluster).
#
# Determinism: the winning pair is picked by (count DESC, left ASC,
# right ASC) -- a total order, so the merge sequence is identical on
# any partitioning (pinned in the invariance matrix) and is checked
# symbol-for-symbol against an independent pure-Python BPE in pytest.
#
# Oracle (optimization round 13, VERDICT r12 item #1; previously
# rows-only): the K chained corpus rewrites ARE one SQL statement once
# the round count is UNROLLED -- the cc_closure_cte technique.  Each
# word's symbol sequence is encoded as a comma-TERMINATED string
# ('abc' -> 'a,b,c,'); the greedy left-to-right single-rule re-merge is
# then exactly SQL replace(s, 'a,b,', 'ab,'), because replace scans
# left to right and never rescans its own replacement -- the same
# (out, pending) fold semantics as _bpe_merge_step ('a,a,a,' under
# (a,a) -> 'aa,a,').  Per round: pair counts from the split-back
# symbol lists, top-1 by (cnt DESC, a, b), one replace.  MATERIALIZED
# CTE hints keep the 8-round chain linear (the cc oracle lesson).
# ---------------------------------------------------------------------------

BPE_MERGES = 8


def _bpe_oracle_rounds(n_rounds: int = BPE_MERGES) -> str:
    """CTE chain ``w0..w{n}, p1..t{n}`` unrolling the BPE learn loop;
    requires a preceding ``toks`` CTE.  ``w{r}`` holds (word, s, freq)
    after merge r; ``t{r}`` holds merge r's single (a, b, m, cnt) row."""
    ctes = [
        """
    wf AS MATERIALIZED (
        SELECT ts[i] AS word, CAST(count(*) AS BIGINT) AS freq
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
        GROUP BY 1
    ),
    w0 AS MATERIALIZED (
        SELECT word, regexp_replace(word, '(.)', '\\1,', 'g') AS s, freq
        FROM wf
    )"""
    ]
    for r in range(1, n_rounds + 1):
        prev = f"w{r - 1}"
        ctes.append(f"""
    p{r} AS MATERIALIZED (
        SELECT parts[i] AS a, parts[i + 1] AS b,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT string_split(rtrim(s, ','), ',') AS parts, freq
              FROM {prev}) q,
             unnest(range(1, len(parts))) t(i)
        WHERE len(parts) >= 2
        GROUP BY 1, 2
    ),
    t{r} AS MATERIALIZED (
        SELECT a, b, a || b AS m, cnt FROM p{r}
        ORDER BY cnt DESC, a, b LIMIT 1
    ),
    w{r} AS MATERIALIZED (
        SELECT word,
               CASE WHEN (SELECT count(*) FROM t{r}) = 0 THEN s
                    ELSE replace(s,
                                 (SELECT a || ',' || b || ',' FROM t{r}),
                                 (SELECT m || ',' FROM t{r}))
               END AS s,
               freq
        FROM {prev}
    )""")
    return ",".join(ctes)


def _bpe_learn_oracle() -> str:
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, a AS \"left\", b AS \"right\","
        f" m AS merged, cnt AS pair_count FROM t{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    {_bpe_oracle_rounds()}
    SELECT * FROM (
        {unions}
    ) ORDER BY rank
"""


def _bpe_encode_oracle() -> str:
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    {_bpe_oracle_rounds()},
    enc AS (
        SELECT word, length(word) AS n_chars_word,
               len(string_split(rtrim(s, ','), ',')) AS n_syms_word
        FROM w{BPE_MERGES}
    ),
    stream AS (
        SELECT doc_id, ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars_word) AS BIGINT) AS n_chars,
           CAST(sum(n_syms_word) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(n_chars_word) AS DOUBLE)
                 / CAST(sum(n_syms_word) AS BIGINT), 6) AS chars_per_symbol
    FROM stream JOIN enc USING (word)
    GROUP BY doc_id
    ORDER BY doc_id
"""


def _bpe_word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq) over the corpus — the Zipf-bounded training table."""
    return (
        tokens_df(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_merge_step(a: str, b: str, merged: str):
    """Map-only greedy left-to-right single-rule re-merge of ``syms``.

    Folds the symbol array with (out, pending) state -- "aaa" under
    (a,a) becomes [aa, a], exactly the reference greedy semantics.
    """
    return F.aggregate(
        "syms",
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pend"),
        ),
        lambda acc, s: F.when(
            acc.pend.isNull(), F.struct(acc.out.alias("out"), s.alias("pend"))
        )
        .when(
            (acc.pend == F.lit(a)) & (s == F.lit(b)),
            F.struct(
                F.concat(acc.out, F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc.out, F.array(acc.pend)).alias("out"),
                s.alias("pend"),
            )
        ),
        lambda acc: F.when(acc.pend.isNull(), acc.out).otherwise(
            F.concat(acc.out, F.array(acc.pend))
        ),
    )


def _bpe_learn(word_freqs: DataFrame, n_merges: int = BPE_MERGES) -> list[tuple[int, str, str, str, int]]:
    """Run the K-round learn loop over a (word, freq) table.

    Returns the merge table [(rank, left, right, merged, pair_count)].
    Shared by ``bpe_learn_merges`` (which declares the table itself) and
    ``bpe_encode_documents`` (which applies it to re-encode the corpus).
    """
    words = word_freqs.select(
        F.split("word", "").alias("syms"), "freq"
    ).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            words.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merged = a + b
        merges.append((rank, a, b, merged, cnt))
        words = words.select(
            _bpe_merge_step(a, b, merged).alias("syms"), "freq"
        ).localCheckpoint()
    return merges


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_learn(_bpe_word_freqs(docs))
    return spark.createDataFrame(
        merges,
        "rank: bigint, left: string, right: string, merged: string, "
        "pair_count: bigint",
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# BPE round-1 pair table, oracle-checked (VERDICT r5 item #6): the learn
# loop above is iterative (each round's stream depends on the previous
# merge) and therefore rows-only for the driver; its DISTRIBUTED kernel,
# though -- weighted symbol-pair counting over the (word, freq)
# vocabulary -- is one SQL statement.  This query pins that kernel
# cross-engine: the adjacent-character pair counts of merge round 1,
# top-BPE_PAIR_TOPK by (count desc, a, b), whose first row IS
# bpe_learn_merges' first merge (asserted in pytest).
#
# Scale: pair space is bounded by the token alphabet squared (<= 36^2
# cells), so the groupBy is fully map-side combinable; the explode runs
# over the Zipf-bounded vocabulary, not the corpus stream; the rank
# window sees only the BPE_PAIR_TOPK limited rows.
# ---------------------------------------------------------------------------

BPE_PAIR_TOPK = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = _bpe_word_freqs(docs).select(
        F.split("word", "").alias("syms"), "freq"
    )
    pairs = (
        words.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    order = [F.desc("pair_count"), F.asc("a"), F.asc("b")]
    return (
        pairs.orderBy(*order)
        .limit(BPE_PAIR_TOPK)
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy(*order)).cast("bigint")
        )
        .orderBy("rnk")
    )


BPE_PAIR_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    wf AS (
        SELECT ts[i] AS word, count(*) AS freq
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
        GROUP BY 1
    ),
    pairs AS (
        SELECT word[i] AS a, word[i+1] AS b,
               CAST(sum(freq) AS BIGINT) AS pair_count
        FROM wf, unnest(range(1, length(word))) t(i)
        WHERE length(word) >= 2
        GROUP BY 1, 2
    )
    SELECT a, b, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, a, b) AS BIGINT)
               AS rnk
    FROM pairs
    ORDER BY pair_count DESC, a, b
    LIMIT {BPE_PAIR_TOPK}
"""


def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to re-encode every document.

    The tokenize->encode step of the pipeline, and the same scale trick
    as training: the corpus is NEVER re-encoded token-by-token.  The
    merge rules are applied to the DISTINCT word table (vocabulary
    cardinality, Zipf-bounded -- K map-only array folds over ~|V| rows),
    producing word -> encoded-symbol-count; the corpus token stream then
    just joins on word (shuffle keyed by word, AQE-coalesced) and
    aggregates per document.  At 100x corpus scale the encode cost grows
    with the vocabulary, not the token count; the per-doc rollup is the
    only full-corpus shuffle.

    Output per document: token count, character count of the cleaned
    tokens, BPE symbol count under the learned merges, and the
    chars-per-symbol compression ratio (single double division of exact
    integers).  Declared rows-only for the driver (the merge table comes
    from the K-round iterative learn loop, not one SQL statement); the
    encoding itself is checked symbol-for-symbol against an independent
    pure-Python BPE in pytest.
    """
    docs = load_table(spark, sf_dir, "documents")
    word_freqs = _bpe_word_freqs(docs).localCheckpoint()
    merges = _bpe_learn(word_freqs)
    vocab = word_freqs.select("word", F.split("word", "").alias("syms"))
    for _rank, a, b, merged, _cnt in merges:
        vocab = vocab.select(
            "word", _bpe_merge_step(a, b, merged).alias("syms")
        )
    encoded = vocab.select(
        "word",
        F.length("word").alias("n_chars_word"),
        F.size("syms").alias("n_syms_word"),
    )
    return (
        tokens_df(docs)
        .join(encoded, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_chars_word").alias("n_chars"),
            F.sum("n_syms_word").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_chars",
            "n_bpe_tokens",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
            ).alias("chars_per_symbol"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, Kudo 2018) -- the OTHER
# production tokenizer family beside BPE: instead of greedy pair merges,
# hold a candidate piece vocabulary with log-probabilities and segment
# every word by VITERBI (the max-likelihood split); hard-EM alternates
# segment -> recount -> re-score.  T5/Llama-era pipelines train exactly
# this; the engine needs it next to bpe_learn_merges so a user can
# compare both tokenizer families on the same corpus.
#
# Spark-first formulation (no Python in the hot path, unlike every
# reference SentencePiece port):
#   * training substrate is the DISTINCT (word, freq) table
#     (vocabulary-bounded, Zipf: the same scale trick as BPE -- EM cost
#     grows with |V|, not token count);
#   * the candidate vocabulary is one substring-explode + groupBy
#     (bounded fan-out: len(word) x UNI_LMAX), top-UNI_VOCAB_K by
#     weighted count with every single character force-included so
#     segmentation is total;
#   * Viterbi is TWO higher-order F.aggregate folds per word -- a
#     forward DP over sequence(1, len) carrying an array<struct<score,
#     backlen>> and a backward walk emitting the chosen pieces -- all
#     whole-stage-codegen JVM expressions, no UDFs;
#   * the codebook (piece -> logp) is a driver-collected MAP literal,
#     O(UNI_VOCAB_K) rows by construction -- the kmeans codebook
#     discipline (constant-cardinality, never corpus-proportional);
#   * log-probs are fixed-point BIGINT micro-units (ln squashed through
#     DECIMAL(18,9), scaled 1e9 -- the pagerank determinism contract):
#     the DP is pure integer max/plus, so any engine, partitioning or
#     fold order yields the identical segmentation; max-ties break
#     toward the LONGER piece (the ascending-l fold overwrites on >=).
#
# Iterative (segment depends on the previous round's scores) -> the
# learn query is rows-only for the driver, like bpe_learn_merges; its
# distributed kernel (the candidate table + initial scores) is ONE SQL
# statement and is oracle-checked as unigram_piece_candidates; the EM
# loop itself is checked against an independent pure-Python
# implementation in pytest (the bpe_encode pattern).
# ---------------------------------------------------------------------------

UNI_LMAX = 4        # max piece length
UNI_VOCAB_K = 48    # multi-char budget; single chars are always added
UNI_EM_ITERS = 2
UNI_FP = 10**9      # fixed-point micro-units for logp


def _uni_candidates(word_freqs: DataFrame) -> DataFrame:
    """(piece, wcnt): weighted substring occurrence counts, len <= LMAX."""
    return (
        word_freqs.select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
            F.col("word"),
        )
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.lit(UNI_LMAX))).alias("l"),
            F.col("word").substr(F.col("i"), F.lit(UNI_LMAX + 1)).alias("_tail"),
        )
        .select("freq", F.col("_tail").substr(F.lit(1), F.col("l")).alias("piece"), "l")
        .filter(F.length("piece") == F.col("l"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("wcnt"))
    )


def _uni_init_vocab(word_freqs: DataFrame) -> DataFrame:
    """Initial vocabulary: top-K multi-char candidates by (wcnt desc,
    piece) UNION every single character (coverage guarantee)."""
    cand = _uni_candidates(word_freqs)
    wq = Window.orderBy(F.desc("wcnt"), F.asc("piece"))
    multi = (
        cand.filter(F.length("piece") >= 2)
        # window input is the candidate AGGREGATE (alphabet^LMAX-bounded)
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= UNI_VOCAB_K)
        .select("piece", "wcnt")
    )
    singles = cand.filter(F.length("piece") == 1).select("piece", "wcnt")
    return multi.unionByName(singles)


def _uni_score(vocab: DataFrame) -> DataFrame:
    """(piece, cnt) -> add logp_fp = round9(ln((cnt+1)/total)) * 1e9 as
    BIGINT micro-units; total = sum(cnt+1) over the vocabulary."""
    sm = vocab.select(
        "piece", "wcnt", (F.col("wcnt") + 1).cast("bigint").alias("_c1")
    )
    tot = sm.agg(F.sum("_c1").cast("bigint").alias("_tot"))
    return sm.crossJoin(F.broadcast(tot)).select(
        "piece",
        "wcnt",
        (
            F.log(F.col("_c1").cast("double") / F.col("_tot").cast("double"))
            .cast("decimal(18,9)")
            # decimal(18,9) x decimal(10,0) -> decimal(29,9): exact, under
            # the precision-38 cap (a bare int multiply would breach it
            # and silently drop scale -- the text_tfidf warning)
            * F.lit(UNI_FP).cast("decimal(10,0)")
        )
        .cast("bigint")
        .alias("logp_fp"),
    )


def _uni_word_scores(word_freqs: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, freq) -> (word, freq, _sc): per-word piece-score array under
    ``vocab(piece, logp_fp)``, where ``element_at(_sc, (j-1)*LMAX + l)``
    is the logp of ``substr(word, j-l+1, l)`` (NULL when j < l or the
    piece is out of vocabulary).

    TRIED AND NOT ADOPTED for the EM loop (optimization round 13,
    VERDICT r12 item #4): replacing the DP's O(K) map-literal lookups
    with this broadcast-join scoring stage measured a consistent LOSS at
    sf0.1 -- seg_counts 1.28 s (map literal) vs 1.93 s (join) warm, full
    query ~9 s vs ~13 s -- because the bench corpus has only 31 distinct
    words, so the lookup cost the item predicted is nil and the join +
    regroup + array_sort machinery is pure added latency.  Kept (tested)
    as the documented 100 TB formulation: at a real Zipf vocabulary the
    per-candidate K-entry scan dominates and this broadcast join is the
    guide §3 shape; the DP consumes identical logp_fp integers either
    way, so segmentation is bit-identical (pytest differential)."""
    sub = (
        word_freqs.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("j"),
        )
        .select(
            "word",
            "freq",
            "j",
            F.explode(F.sequence(F.lit(1), F.lit(UNI_LMAX))).alias("l"),
        )
        .select(
            "word",
            "freq",
            "j",
            "l",
            F.when(
                F.col("j") >= F.col("l"),
                F.col("word").substr(
                    F.col("j") - F.col("l") + F.lit(1), F.col("l")
                ),
            ).alias("piece"),
        )
    )
    scored = sub.join(
        F.broadcast(vocab.select("piece", "logp_fp")), "piece", "left"
    )
    return (
        scored.groupBy("word", "freq")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        ((F.col("j") - F.lit(1)) * UNI_LMAX + F.col("l")).alias(
                            "k"
                        ),
                        F.col("logp_fp").alias("s"),
                    )
                )
            ).alias("_kv")
        )
        .select(
            "word",
            "freq",
            F.transform("_kv", lambda x: x["s"]).alias("_sc"),
        )
    )


def _uni_forward_dp(word: F.Column, score_at) -> F.Column:
    """array<struct<s,bl>> forward Viterbi DP of ``word`` -- one
    F.aggregate fold over sequence(1, len), pure integer max/plus inside
    codegen.  ``score_at(j, l)`` supplies the candidate piece's logp_fp
    column: a (piece -> logp_fp) MAP-literal lookup in the production
    query (measured faster at the bounded K <= ~85 vocabulary), or an
    O(1) read of the ``_uni_word_scores`` array (the broadcast-join
    formulation, equivalence-pinned in pytest)."""
    null_s = F.lit(None).cast("bigint")

    def step(acc: F.Column, j: F.Column) -> F.Column:
        best = F.struct(null_s.alias("s"), F.lit(0).alias("bl"))
        for l in range(1, UNI_LMAX + 1):
            cand = F.when(
                j >= F.lit(l),
                F.element_at(acc, j - F.lit(l) + 1)["s"] + score_at(j, l),
            ).otherwise(null_s)
            # ascending l + '>=' => max with longer-piece tie preference
            best = F.when(
                cand.isNotNull() & (best["s"].isNull() | (cand >= best["s"])),
                F.struct(cand.alias("s"), F.lit(l).alias("bl")),
            ).otherwise(best)
        return F.concat(acc, F.array(best))

    return F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        F.array(F.struct(F.lit(0).cast("bigint").alias("s"), F.lit(0).alias("bl"))),
        step,
    )


def _uni_backtrace(word: F.Column, dp: F.Column) -> F.Column:
    """array<string> of the chosen pieces (end-to-start order) walking
    the backlinks of a MATERIALIZED dp column.  ``dp`` must be a bound
    attribute, not the forward-fold expression itself -- inlining the
    fold here would re-evaluate it per walk step (L x cost)."""

    def back(acc: F.Column, _: F.Column) -> F.Column:
        bl = F.element_at(dp, acc["pos"] + 1)["bl"]
        return F.when(acc["pos"] <= 0, acc).otherwise(
            F.struct(
                (acc["pos"] - bl).alias("pos"),
                F.concat(
                    acc["ps"],
                    F.array(word.substr(acc["pos"] - bl + 1, bl)),
                ).alias("ps"),
            )
        )

    walk = F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        F.struct(
            F.length(word).alias("pos"),
            F.array().cast("array<string>").alias("ps"),
        ),
        back,
    )
    return walk["ps"]


def unigram_lm_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    word_freqs = (
        tokens_df(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .localCheckpoint()
    )
    vocab = _uni_score(_uni_init_vocab(word_freqs))
    for _round in range(UNI_EM_ITERS):
        rows = vocab.select("piece", "logp_fp").collect()  # O(K) codebook
        m = F.create_map(
            *[
                c
                for r in sorted(rows)
                for c in (F.lit(r.piece), F.lit(r.logp_fp))
            ]
        )
        # map-literal scoring KEPT over the broadcast-join stage
        # (_uni_word_scores) after a measured A/B -- see its docstring;
        # the vocabulary is bounded at K <= UNI_VOCAB_K + |alphabet| by
        # construction, so the lookup never grows with the corpus
        word = F.col("word")
        seg_counts = (
            word_freqs.withColumn(
                "_dp",
                _uni_forward_dp(
                    word,
                    lambda j, l: F.element_at(
                        m, word.substr(j - F.lit(l) + 1, F.lit(l))
                    ),
                ),
            )
            .withColumn("_ps", _uni_backtrace(F.col("word"), F.col("_dp")))
            .select("freq", F.explode("_ps").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("used"))
        )
        # keep: every used piece + every single char (coverage); unused
        # multi-char candidates are pruned -- the EM shrink step
        survivors = (
            vocab.select("piece")
            .join(seg_counts, "piece", "left")
            .withColumn("used", F.coalesce("used", F.lit(0).cast("bigint")))
            .filter((F.col("used") > 0) | (F.length("piece") == 1))
            .select("piece", F.col("used").alias("wcnt"))
        )
        vocab = _uni_score(survivors).localCheckpoint()
    wq = Window.orderBy(F.desc("wcnt"), F.asc("piece"))
    return (
        vocab.withColumn("piece_rank", F.row_number().over(wq).cast("int"))
        .select(
            "piece_rank",
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            "wcnt",
            "logp_fp",
        )
        .orderBy("piece_rank")
    )


UNIGRAM_CANDIDATES_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    wf AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(ts) AS word FROM toks)
        GROUP BY 1
    ),
    subs AS (
        SELECT substr(word, i, l) AS piece, freq
        FROM wf,
             unnest(range(1, len(word) + 1)) t(i),
             unnest(range(1, {UNI_LMAX} + 1)) u(l)
        WHERE length(substr(word, i, l)) = l
    ),
    cand AS (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS wcnt
        FROM subs GROUP BY 1
    ),
    vocab AS (
        SELECT piece, wcnt FROM (
            SELECT *, row_number() OVER (ORDER BY wcnt DESC, piece) AS r
            FROM cand WHERE length(piece) >= 2
        ) WHERE r <= {UNI_VOCAB_K}
        UNION ALL
        SELECT piece, wcnt FROM cand WHERE length(piece) = 1
    ),
    tot AS (SELECT CAST(sum(wcnt + 1) AS BIGINT) AS t FROM vocab)
    SELECT CAST(row_number() OVER (ORDER BY wcnt DESC, piece) AS INTEGER)
               AS piece_rank,
           piece, CAST(length(piece) AS INTEGER) AS piece_len, wcnt,
           CAST(CAST(CAST(ln(CAST(wcnt + 1 AS DOUBLE) / CAST(t AS DOUBLE))
                          AS DECIMAL(18,9)) AS DECIMAL(28,9))
                * {UNI_FP} AS BIGINT) AS logp_fp
    FROM vocab CROSS JOIN tot
    ORDER BY piece_rank
"""


def unigram_piece_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM learn loop's distributed kernel, oracle-checked
    (the bpe_pair_counts pattern): candidate piece table + initial
    fixed-point scores -- exactly ``unigram_lm_learn``'s round-0
    vocabulary (asserted in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    word_freqs = tokens_df(docs).groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    vocab = _uni_score(_uni_init_vocab(word_freqs))
    wq = Window.orderBy(F.desc("wcnt"), F.asc("piece"))
    return (
        vocab.withColumn("piece_rank", F.row_number().over(wq).cast("int"))
        .select(
            "piece_rank",
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            "wcnt",
            "logp_fp",
        )
        .orderBy("piece_rank")
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal: Shannon entropy of each document's
# character distribution over the cleaned token stream.  Near-zero
# entropy is repeated-character garbage; unusually low entropy is
# template/boilerplate text; both are standard crawl-filter axes
# alongside the repetition and logprob gates.
#
# Numeric discipline (the logprob/DSIR pattern): per-(doc, char) terms
# c*ln(c) are cast to DECIMAL(25,12) and summed exactly, so partition
# order cannot perturb the sum; one double division + one subtraction
# at the end, converted to bits via an explicit ln(2) literal so both
# engines evaluate the identical formula (Spark's log2 and DuckDB's
# log2 are differently-rounded primitives -- avoided).
#
# Scale: one token scan, one combinable (doc, char) shuffle (≤ 36
# groups per doc), one per-doc rollup.  No windows, no driver state.
# ---------------------------------------------------------------------------

_LN2 = "0.6931471805599453"


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chars = tokens_df(docs).select(
        "doc_id", F.explode(F.split("word", "")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    term = (F.col("c") * F.log("c")).cast("decimal(25,12)")
    n = F.sum("c")
    ent_bits = (
        (F.log(n) - F.sum(term).cast("double") / n) / F.lit(float(_LN2))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            n.alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(ent_bits, 6).alias("char_entropy"),
            (F.round(ent_bits, 6) < 3.0).alias("low_entropy"),
        )
        .orderBy("doc_id")
    )


CHAR_ENTROPY_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    stream AS (
        SELECT doc_id, ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    chars AS (
        SELECT doc_id, unnest(string_split(word, '')) AS ch FROM stream
    ),
    counts AS (
        SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           count(*) AS n_distinct_chars,
           round((ln(sum(c))
                  - CAST(sum(CAST(c * ln(c) AS DECIMAL(25,12))) AS DOUBLE)
                    / sum(c)) / {_LN2}, 6) AS char_entropy,
           round((ln(sum(c))
                  - CAST(sum(CAST(c * ln(c) AS DECIMAL(25,12))) AS DOUBLE)
                    / sum(c)) / {_LN2}, 6) < 3.0 AS low_entropy
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Exact corpus heavy hitters: every word whose frequency exceeds 1/K of
# all tokens -- the stopword/boilerplate-discovery primitive.  The
# threshold test is pure integer arithmetic (freq * K >= total), so
# membership is engine-exact; the support ratio is the usual single
# double division, rounded.
#
# Scale: the groupBy is map-side combinable (vocabulary-bounded output)
# and the corpus total is a broadcast scalar -- no sketch needed: with
# a support floor of 1/K there are at most K qualifying words, and the
# candidate table is |vocab| which Zipf keeps far below the token
# count.  (A Misra-Gries/count-min pass would only pay off if the
# VOCABULARY itself outgrew executor aggregation, i.e. adversarial
# non-Zipf keys -- at that point swap the groupBy for
# partial-summary + merge, same top-level contract.)
# ---------------------------------------------------------------------------

HEAVY_HITTER_K = 500  # support floor = 1/K of all corpus tokens


def heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = tokens_df(docs).groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    total = freq.agg(F.sum("freq").alias("total"))
    return (
        freq.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * HEAVY_HITTER_K >= F.col("total"))
        .select(
            "word",
            "freq",
            F.round(F.col("freq").cast("double") / F.col("total"), 6).alias(
                "support"
            ),
        )
        .orderBy(F.desc("freq"), "word")
    )


HEAVY_HITTER_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    stream AS (
        SELECT doc_id, ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    freq AS (SELECT word, count(*) AS freq FROM stream GROUP BY word),
    tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq)
    SELECT word, freq,
           round(CAST(freq AS DOUBLE) / total, 6) AS support
    FROM freq, tot
    WHERE freq * {HEAVY_HITTER_K} >= total
    ORDER BY freq DESC, word
"""


# ---------------------------------------------------------------------------
# Space-Saving shard-plan audit -- the EXACT tuning table for the
# streaming heavy-hitter monitor (streaming/stateful.py: Space-Saving
# with SS_CAPACITY counters per md5 word-shard).  Same division of
# labor as sketch_summary vs the HLL/GK sketches: the bounded-state
# sketch runs on the live stream, and this batch query computes, from
# exact counts on the same shard lanes, what the sketch's contracts
# will be per shard:
#
#   err_bound    -- floor(n_tokens / capacity): no Space-Saving counter
#                   can overestimate by more than this (the min counter
#                   never exceeds the shard mean over capacity);
#   n_guaranteed -- words with freq * capacity > n_tokens: the coverage
#                   guarantee says every one of these IS tracked;
#   exact_below_capacity -- n_distinct <= capacity: the whole shard
#                   table is exact (no eviction ever fires).
#
# All threshold tests are integer-exact (freq * capacity vs n_tokens,
# never a float ratio); top_share is the usual single double division.
# Scale: one map-side-combinable (shard, word) count -- the word-count
# shuffle -- collapsed to SS_AUDIT_SHARDS rows; the totals join is
# 8 rows broadcast.  The shard lane is the repo's portable md5 hash,
# bit-identical in both engines, so shard membership is oracle-exact.
# ---------------------------------------------------------------------------

SS_AUDIT_SHARDS = 8  # == streaming.stateful.SS_SHARDS (no import: the
# streaming module pulls in pyspark.sql.streaming; keep batch imports flat)
SS_AUDIT_CAPACITY = 64  # == streaming.stateful.SS_CAPACITY


def heavy_hitter_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = md5_prefix("word") % SS_AUDIT_SHARDS
    cells = (
        tokens_df(docs)
        .select("word", shard.alias("shard"))
        .groupBy("shard", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    tot = cells.groupBy("shard").agg(
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("freq").cast("bigint").alias("max_freq"),
    )
    cap = F.lit(SS_AUDIT_CAPACITY)
    guaranteed = (
        cells.join(F.broadcast(tot.select("shard", "n_tokens")), "shard")
        .filter(F.col("freq") * cap > F.col("n_tokens"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_guaranteed"))
    )
    return (
        tot.join(guaranteed, "shard", "left")
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_tokens",
            "n_distinct",
            "max_freq",
            # integer floor division (never a float path)
            F.expr(f"n_tokens div {SS_AUDIT_CAPACITY}")
            .cast("bigint")
            .alias("err_bound"),
            F.coalesce(F.col("n_guaranteed"), F.lit(0))
            .cast("bigint")
            .alias("n_guaranteed"),
            (F.col("n_distinct") <= cap).alias("exact_below_capacity"),
            (F.col("max_freq").cast("double") / F.col("n_tokens")).alias(
                "top_share"
            ),
        )
        .orderBy("shard")
    )


HEAVY_HITTER_SHARD_PLAN_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    stream AS (
        SELECT ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    cells AS (
        SELECT ('0x' || substr(md5(word), 1, 15))::BIGINT
                   % {SS_AUDIT_SHARDS} AS shard,
               word, count(*) AS freq
        FROM stream
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT shard,
               CAST(sum(freq) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(max(freq) AS BIGINT) AS max_freq
        FROM cells GROUP BY shard
    ),
    guaranteed AS (
        SELECT c.shard, CAST(count(*) AS BIGINT) AS n_guaranteed
        FROM cells c JOIN tot t USING (shard)
        WHERE c.freq * {SS_AUDIT_CAPACITY} > t.n_tokens
        GROUP BY c.shard
    )
    SELECT CAST(t.shard AS INTEGER) AS shard,
           t.n_tokens, t.n_distinct, t.max_freq,
           CAST(t.n_tokens // {SS_AUDIT_CAPACITY} AS BIGINT) AS err_bound,
           CAST(coalesce(g.n_guaranteed, 0) AS BIGINT) AS n_guaranteed,
           t.n_distinct <= {SS_AUDIT_CAPACITY} AS exact_below_capacity,
           CAST(t.max_freq AS DOUBLE) / t.n_tokens AS top_share
    FROM tot t LEFT JOIN guaranteed g USING (shard)
    ORDER BY t.shard
"""


# ---------------------------------------------------------------------------
# Count-Min width sizing curve (Cormode & Muthukrishnan 2005, "An
# improved data stream summary: the count-min sketch and its
# applications") -- the third member of the sketch-contract-audit family
# (HLL/GK: sketch_summary + profiles; Space-Saving:
# heavy_hitter_shard_plan).  A CMS with depth d and width w answers
# point frequency queries with one-sided error: est >= true always, and
# est <= true + 2N/w per lane with probability >= 1 - 2^-d.  This query
# SIMULATES the d x w counter array from exact counts (the counters a
# real streaming pass would hold are exactly these bucket sums -- CMS
# update is additive, so the simulation is not an approximation of the
# sketch, it IS the sketch state) and reports, per candidate width, the
# full error profile the sketch would deliver on this corpus: how many
# words come back exact, the worst and mean overestimate, and how many
# words would break the 2N/w Markov bound.  This is the sizing table
# consulted before provisioning the sketch -- the same division of
# labor as heavy_hitter_shard_plan for Space-Saving capacity.
#
# Determinism: bucket lanes are the repo's portable md5 hash (prefix-15
# hex chars -> bigint, bit-identical in both engines); every audit
# column is integer arithmetic except mean_overestimate, the usual
# single double division of two exact integers.
#
# Scale: freq is the word-count shuffle (map-side combinable,
# vocab-bounded); lanes is 4x vocab; per width the counter table is at
# most CMS_DEPTH * w <= 8192 rows -- BROADCAST on the estimate join, so
# the per-width pass is one combinable groupBy + a broadcast hash join,
# never a second shuffle.  The 100 TB plan is the sf0.001 plan.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTHS = (128, 512, 2048)


def cms_width_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        tokens_df(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    total = freq.agg(F.sum("freq").cast("bigint").alias("total"))
    lanes = freq.select(
        "word",
        "freq",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        md5_prefix(
                            F.concat(F.lit(f"{j}:"), F.col("word"))
                        ).alias("h"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("l"),
    ).select("word", "freq", F.col("l.j").alias("j"), F.col("l.h").alias("h"))
    lanes = lanes.persist()  # feeds the counter build + estimate join per width
    width_rows = []
    for w in CMS_WIDTHS:
        cells = (
            lanes.groupBy("j", (F.col("h") % w).alias("bucket"))
            .agg(F.sum("freq").cast("bigint").alias("cell_total"))
        )
        est = (
            lanes.withColumn("bucket", F.col("h") % w)
            .join(F.broadcast(cells), ["j", "bucket"])
            .groupBy("word", "freq")
            .agg(F.min("cell_total").alias("est"))
        )
        over = F.col("est") - F.col("freq")
        width_rows.append(
            est.crossJoin(F.broadcast(total)).agg(
                F.lit(w).cast("int").alias("width"),
                F.count(F.lit(1)).cast("bigint").alias("n_words"),
                F.sum(F.when(over == 0, 1).otherwise(0))
                .cast("bigint")
                .alias("n_exact"),
                F.max(over).cast("bigint").alias("max_overestimate"),
                F.sum(over).cast("bigint").alias("sum_overestimate"),
                # Markov bound per CMS contract: over <= 2N/w, integer form
                F.sum(
                    F.when(over * w > 2 * F.col("total"), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_bound_violations"),
            )
        )
    out = width_rows[0]
    for extra in width_rows[1:]:
        out = out.unionByName(extra)
    return out.select(
        "width",
        "n_words",
        "n_exact",
        "max_overestimate",
        "sum_overestimate",
        (
            F.col("sum_overestimate").cast("double") / F.col("n_words")
        ).alias("mean_overestimate"),
        "n_bound_violations",
    ).orderBy("width")


def _cms_width_oracle() -> str:
    per_width = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({w} AS INTEGER) AS width,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN est - freq = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
           CAST(max(est - freq) AS BIGINT) AS max_overestimate,
           CAST(sum(est - freq) AS BIGINT) AS sum_overestimate,
           CAST(sum(est - freq) AS DOUBLE) / count(*) AS mean_overestimate,
           CAST(sum(CASE WHEN (est - freq) * {w} > 2 * (SELECT total FROM tot)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bound_violations
    FROM (
        SELECT l.word, l.freq, min(c.cell_total) AS est
        FROM (SELECT word, freq, j, h % {w} AS bucket FROM lanes) l
        JOIN (SELECT j, h % {w} AS bucket,
                     CAST(sum(freq) AS BIGINT) AS cell_total
              FROM lanes GROUP BY 1, 2) c
        USING (j, bucket)
        GROUP BY 1, 2
    )"""
        for w in CMS_WIDTHS
    )
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    stream AS (
        SELECT ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    freq AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM stream GROUP BY word
    ),
    tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq),
    lanes AS (
        SELECT word, freq, j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || word), 1, 15))
                   ::BIGINT AS h
        FROM freq, (SELECT unnest(range(0, {CMS_DEPTH})) AS j)
    )
{per_width}
    ORDER BY width
"""


CMS_WIDTH_ERROR_ORACLE = _cms_width_oracle()


# ---------------------------------------------------------------------------
# C4-style rule-based hygiene filter (Raffel et al. 2020 "Exploring the
# Limits of Transfer Learning", appendix C; mean-word-length band from
# Rae et al. 2021 table A1): the cheap deterministic drop rules every
# pretraining corpus pass runs BEFORE the expensive dedup/quality
# models.  Adapted to this newline-free corpus: the per-line rules
# become per-document rules over the token stream.
#
#   too_short      -- fewer than C4_MIN_TOKENS tokens
#   bad_mean_len   -- mean token length outside [3, 10]
#   has_blocklist  -- 'lorem ipsum' / 'javascript' / '{' anywhere
#   low_stopword   -- fewer than C4_MIN_STOP_HITS English stopword hits
#   non_target_lang-- declared lang is not 'en'
#   keep           -- none of the above fired
#
# Every flag is coalesced to a concrete boolean (no three-valued logic:
# a doc with zero tokens is too_short=true, bad_mean_len=false) so a
# downstream filter(keep) can never silently drop NULL-flagged rows.
# One scan, no shuffle, no UDF -- the 100 TB plan is the sf0.001 plan.
# ---------------------------------------------------------------------------

C4_MIN_TOKENS = 20
C4_MEAN_LEN_LO = 3.0
C4_MEAN_LEN_HI = 10.0
C4_BLOCKLIST = ["lorem ipsum", "javascript", "{"]
C4_MIN_STOP_HITS = 2


def c4_style_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = tokenize(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        F.size(ts).cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.transform(ts, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        _hits(ts, EN_STOPS).cast("bigint").alias("stop_hits"),
        F.lower("text").alias("lt"),
    )
    mean_len = F.coalesce(
        F.col("sum_len").cast("double") / F.col("n_tokens"), F.lit(0.0)
    )
    block = F.lit(False)
    for w in C4_BLOCKLIST:
        block = block | F.col("lt").contains(F.lit(w))
    too_short = F.col("n_tokens") < C4_MIN_TOKENS
    bad_mean = (F.col("n_tokens") >= C4_MIN_TOKENS) & (
        (mean_len < C4_MEAN_LEN_LO) | (mean_len > C4_MEAN_LEN_HI)
    )
    low_stop = F.col("stop_hits") < C4_MIN_STOP_HITS
    non_target = F.col("lang") != "en"
    return base.select(
        "doc_id",
        "n_tokens",
        F.round(mean_len, 6).alias("mean_token_len"),
        too_short.alias("too_short"),
        bad_mean.alias("bad_mean_len"),
        block.alias("has_blocklist"),
        low_stop.alias("low_stopword"),
        non_target.alias("non_target_lang"),
        (~(too_short | bad_mean | block | low_stop | non_target)).alias("keep"),
    ).orderBy("doc_id")


def _c4_oracle() -> str:
    block = " OR ".join(
        f"contains(lower(d.text), '{w}')" for w in C4_BLOCKLIST
    )
    mean_len = "coalesce(CAST(sum_len AS DOUBLE) / n_tokens, 0.0)"
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    base AS (
        SELECT d.doc_id, d.lang, len(ts) AS n_tokens,
               CAST(coalesce(list_sum(list_transform(ts, x -> length(x))), 0)
                    AS BIGINT) AS sum_len,
               CAST({_sql_hits('ts', EN_STOPS)} AS BIGINT) AS stop_hits,
               ({block}) AS has_blocklist
        FROM documents d JOIN toks USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           round({mean_len}, 6) AS mean_token_len,
           n_tokens < {C4_MIN_TOKENS} AS too_short,
           n_tokens >= {C4_MIN_TOKENS}
               AND ({mean_len} < {C4_MEAN_LEN_LO}
                    OR {mean_len} > {C4_MEAN_LEN_HI}) AS bad_mean_len,
           has_blocklist,
           stop_hits < {C4_MIN_STOP_HITS} AS low_stopword,
           lang <> 'en' AS non_target_lang,
           NOT (n_tokens < {C4_MIN_TOKENS}
                OR (n_tokens >= {C4_MIN_TOKENS}
                    AND ({mean_len} < {C4_MEAN_LEN_LO}
                         OR {mean_len} > {C4_MEAN_LEN_HI}))
                OR has_blocklist
                OR stop_hits < {C4_MIN_STOP_HITS}
                OR lang <> 'en') AS keep
    FROM base
    ORDER BY doc_id
"""


C4_FILTER_ORACLE = _c4_oracle()

KAPPA_ORACLE = _kappa_oracle().format(c4=C4_FILTER_ORACLE, q=QUALITY_ORACLE)
COCHRAN_Q_ORACLE = COCHRAN_Q_ORACLE.format(
    c4=C4_FILTER_ORACLE, q=QUALITY_ORACLE, ent=CHAR_ENTROPY_ORACLE
)


# ---------------------------------------------------------------------------
# McNemar's test over the same 2x2 gate confusion -- kappa answers "do
# the two gates agree beyond chance?"; McNemar answers the DIFFERENT
# operational question "do they disagree SYMMETRICALLY?"  A significant
# McNemar statistic means one gate systematically passes documents the
# other rejects (a biased disagreement -- swapping gates changes the
# corpus composition, not just its size); an insignificant one means
# the disagreements are noise-symmetric.  Only the off-diagonal counts
# matter: chi2 = (|n10 - n01| - 1)^2 / (n10 + n01) with Edwards'
# continuity correction, df = 1 against the shared pinned critical
# table.  Everything is exact BIGINT until the one final division;
# n10 + n01 = 0 (perfect agreement) has no defined statistic -> NULL.
# ---------------------------------------------------------------------------

MCNEMAR_CHI2_CRIT_1 = 3.841  # df=1, alpha=.05 (operators.statistics table)


def mcnemar_gate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = c4_style_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("a")
    )
    b = text_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("quality") >= KAPPA_QUALITY_T).alias("b")
    )
    cells = a.join(b, "doc_id").agg(
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    d = F.abs(F.col("n10") - F.col("n01")) - 1
    disc = F.col("n10") + F.col("n01")
    chi2 = (d * d).cast("double") / disc.cast("double")
    return cells.select(
        "n_docs",
        "n10",
        "n01",
        F.when(disc > 0, chi2).alias("mcnemar_chi2"),
        F.when(disc > 0, chi2 > F.lit(MCNEMAR_CHI2_CRIT_1)).alias(
            "asymmetric_disagreement"
        ),
    )


MCNEMAR_ORACLE = f"""
    WITH cells AS (
        SELECT CAST(sum(CASE WHEN a.keep
                              AND NOT q.quality >= {KAPPA_QUALITY_T}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(sum(CASE WHEN NOT a.keep
                              AND q.quality >= {KAPPA_QUALITY_T}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM ({C4_FILTER_ORACLE}) a JOIN ({QUALITY_ORACLE}) q USING (doc_id)
    )
    SELECT n_docs, n10, n01,
           CASE WHEN n10 + n01 > 0 THEN
               CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)
               / CAST(n10 + n01 AS DOUBLE)
           END AS mcnemar_chi2,
           CASE WHEN n10 + n01 > 0 THEN
               CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)
               / CAST(n10 + n01 AS DOUBLE) > {MCNEMAR_CHI2_CRIT_1}
           END AS asymmetric_disagreement
    FROM cells
"""


# ---------------------------------------------------------------------------
# Quality-gate stack funnel -- the counterpart of dedup_policy_funnel
# for the FILTER side of curation: the five C4 hygiene rules, the
# char-entropy gate, and the Gopher repetition gate applied as ONE
# ordered stack, with each dropped document attributed to the FIRST
# gate that fired (the ordering every production filter report uses, so
# per-gate costs aren't double-counted).  Per stage: raw fire count
# (order-independent), first-fire attribution, and documents remaining
# after the stage; a final 'kept' row closes the funnel.
#
# Zero-token documents have no entropy/repetition row (token-stream
# derived): LEFT join + coalesce(False) keeps them in the accounting --
# they are already too_short, so attribution is unaffected.
#
# Scale: composes three already-audited single-pass plans; the flag join
# shuffles on doc_id; the funnel itself is one combinable global
# aggregate to a single row, exploded to 8 static stage rows -- the
# cumulative 'remaining' is closed-form over that one row, so no window
# anywhere.
# ---------------------------------------------------------------------------

QUALITY_GATES: list[str] = [
    "too_short",
    "bad_mean_len",
    "has_blocklist",
    "low_stopword",
    "non_target_lang",
    "low_entropy",
    "repetitive",
]


# ---------------------------------------------------------------------------
# Shared gate substrate (optimization round 13, VERDICT r12 item #6):
# the composite gate queries (quality_gate_stack, cochran_q_test) each
# composed 2-4 full gate pipelines, and every pipeline re-tokenized the
# whole corpus from its own single-task scan of the one-file documents
# table.  Now: ONE re-spread scan + ONE tokenize pass, persisted, feeds
# every gate; each gate's statistics are order-independent aggregates of
# that stream, so the flag values are identical to the standalone
# queries' (differential-tested per gate).  The persisted stream is
# released by the cache contract (``session.release_caches``).
# ---------------------------------------------------------------------------


def _gate_substrate(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    docs = docs_by_id(load_table(spark, sf_dir, "documents"))
    return docs, tokens_with_pos(docs).persist()


def _c4_flags_from_stream(docs: DataFrame, toks: DataFrame) -> DataFrame:
    """c4_style_filter's flags recomputed from the shared token stream.

    Every input statistic (token count, summed token length, stopword
    hits) is an order-independent aggregate, so the flag values -- and
    the keep verdict -- are identical to the array-fold form; zero-token
    documents re-enter via the LEFT join with zeroed counts, exactly the
    (0, 0, 0) row the array form produces for them."""
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.length("word").cast("bigint")).cast("bigint").alias("sum_len"),
        F.sum(F.when(F.col("word").isin(EN_STOPS), 1).otherwise(0))
        .cast("bigint")
        .alias("stop_hits"),
    )
    base = (
        docs.select("doc_id", "lang", F.lower("text").alias("lt"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "lt",
            F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
            F.coalesce("sum_len", F.lit(0).cast("bigint")).alias("sum_len"),
            F.coalesce("stop_hits", F.lit(0).cast("bigint")).alias(
                "stop_hits"
            ),
        )
    )
    mean_len = F.coalesce(
        F.col("sum_len").cast("double") / F.col("n_tokens"), F.lit(0.0)
    )
    block = F.lit(False)
    for w in C4_BLOCKLIST:
        block = block | F.col("lt").contains(F.lit(w))
    too_short = F.col("n_tokens") < C4_MIN_TOKENS
    bad_mean = (F.col("n_tokens") >= C4_MIN_TOKENS) & (
        (mean_len < C4_MEAN_LEN_LO) | (mean_len > C4_MEAN_LEN_HI)
    )
    low_stop = F.col("stop_hits") < C4_MIN_STOP_HITS
    non_target = F.col("lang") != "en"
    return base.select(
        "doc_id",
        too_short.alias("too_short"),
        bad_mean.alias("bad_mean_len"),
        block.alias("has_blocklist"),
        low_stop.alias("low_stopword"),
        non_target.alias("non_target_lang"),
        (~(too_short | bad_mean | block | low_stop | non_target)).alias(
            "keep"
        ),
    )


def _entropy_low_flag(toks: DataFrame) -> DataFrame:
    """text_char_entropy's low_entropy verdict from the shared stream --
    the identical (doc, char) count -> decimal-exact c*ln(c) rollup."""
    chars = toks.select("doc_id", F.explode(F.split("word", "")).alias("ch"))
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    term = (F.col("c") * F.log("c")).cast("decimal(25,12)")
    n = F.sum("c")
    ent_bits = (
        (F.log(n) - F.sum(term).cast("double") / n) / F.lit(float(_LN2))
    )
    return counts.groupBy("doc_id").agg(
        (F.round(ent_bits, 6) < 3.0).alias("low_entropy")
    )


def _quality_from_stream(docs: DataFrame, toks: DataFrame) -> DataFrame:
    """text_quality_score's composite quality from the shared stream:
    same integer statistics (distinct tokens via countDistinct instead
    of array_distinct -- same multiset), same ratio arithmetic, so the
    emitted doubles are bit-identical."""
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("word").cast("bigint").alias("n_distinct"),
        F.sum(F.length("word").cast("bigint"))
        .cast("bigint")
        .alias("sum_token_len"),
        F.sum(F.when(F.col("word").isin(EN_STOPS), 1).otherwise(0))
        .cast("bigint")
        .alias("stop_hits"),
    )
    base = (
        docs.select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
            F.length(F.regexp_replace(F.lower("text"), "[^a-z]", ""))
            .cast("bigint")
            .alias("n_alpha"),
        )
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            "n_alpha",
            F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0).cast("bigint")).alias(
                "n_distinct"
            ),
            F.coalesce("sum_token_len", F.lit(0).cast("bigint")).alias(
                "sum_token_len"
            ),
            F.coalesce("stop_hits", F.lit(0).cast("bigint")).alias(
                "stop_hits"
            ),
        )
    )
    stop_ratio = F.col("stop_hits").cast("double") / F.col("n_tokens")
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    alpha_ratio = F.col("n_alpha").cast("double") / F.col("n_chars")
    return base.select(
        "doc_id",
        (
            0.3 * stop_ratio + 0.4 * distinct_ratio + 0.3 * alpha_ratio
        ).alias("quality"),
    )


def quality_gate_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gate funnel over the QUALITY_GATES, in order, from one shared
    token stream.  That stream stays persisted after the call; the
    session's cache contract (``session.release_caches``) releases it."""
    docs, toks = _gate_substrate(spark, sf_dir)
    c4 = _c4_flags_from_stream(docs, toks).select(
        "doc_id",
        "too_short",
        "bad_mean_len",
        "has_blocklist",
        "low_stopword",
        "non_target_lang",
    )
    ent = _entropy_low_flag(toks)
    rep = _repetition_report(toks).select("doc_id", "repetitive")
    flags = (
        c4.join(ent, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .select(
            "doc_id",
            *QUALITY_GATES[:5],
            F.coalesce("low_entropy", F.lit(False)).alias("low_entropy"),
            F.coalesce("repetitive", F.lit(False)).alias("repetitive"),
        )
    )
    first = F.lit("kept")
    for g in reversed(QUALITY_GATES):
        first = F.when(F.col(g), F.lit(g)).otherwise(first)
    flags = flags.withColumn("first_gate", first)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for g in QUALITY_GATES:
        aggs.append(
            F.sum(F.when(F.col(g), 1).otherwise(0))
            .cast("bigint")
            .alias(f"fl_{g}")
        )
        aggs.append(
            F.sum(F.when(F.col("first_gate") == g, 1).otherwise(0))
            .cast("bigint")
            .alias(f"dr_{g}")
        )
    one = flags.agg(*aggs)
    structs = []
    for i, g in enumerate(QUALITY_GATES, start=1):
        cum = None
        for h in QUALITY_GATES[:i]:
            cum = F.col(f"dr_{h}") if cum is None else cum + F.col(f"dr_{h}")
        structs.append(
            F.struct(
                F.lit(i).alias("stage_order"),
                F.lit(g).alias("stage"),
                F.col(f"fl_{g}").alias("n_flagged"),
                F.col(f"dr_{g}").alias("n_dropped_here"),
                (F.col("n_docs") - cum).cast("bigint").alias("n_remaining"),
            )
        )
    all_drops = None
    for g in QUALITY_GATES:
        all_drops = (
            F.col(f"dr_{g}") if all_drops is None else all_drops + F.col(f"dr_{g}")
        )
    kept = (F.col("n_docs") - all_drops).cast("bigint")
    structs.append(
        F.struct(
            F.lit(len(QUALITY_GATES) + 1).alias("stage_order"),
            F.lit("kept").alias("stage"),
            kept.alias("n_flagged"),
            F.lit(0).cast("bigint").alias("n_dropped_here"),
            kept.alias("n_remaining"),
        )
    )
    return (
        one.select(F.explode(F.array(*structs)).alias("s"))
        .select(
            F.col("s.stage_order").alias("stage_order"),
            F.col("s.stage").alias("stage"),
            F.col("s.n_flagged").alias("n_flagged"),
            F.col("s.n_dropped_here").alias("n_dropped_here"),
            F.col("s.n_remaining").alias("n_remaining"),
        )
        .orderBy("stage_order")
    )


def _quality_stack_oracle() -> str:
    first = "CASE " + " ".join(
        f"WHEN {g} THEN '{g}'" for g in QUALITY_GATES
    ) + " ELSE 'kept' END"
    selects = []
    for i, g in enumerate(QUALITY_GATES, start=1):
        fired = ", ".join(f"'{h}'" for h in QUALITY_GATES[:i])
        selects.append(f"""    SELECT {i} AS stage_order, '{g}' AS stage,
           CAST(sum(CASE WHEN {g} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN first_gate = '{g}' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped_here,
           CAST(count(*) - sum(CASE WHEN first_gate IN ({fired})
                                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_remaining
    FROM flags2""")
    selects.append(f"""    SELECT {len(QUALITY_GATES) + 1} AS stage_order, 'kept' AS stage,
           CAST(sum(CASE WHEN first_gate = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(0 AS BIGINT) AS n_dropped_here,
           CAST(sum(CASE WHEN first_gate = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_remaining
    FROM flags2""")
    unioned = "\n    UNION ALL\n".join(selects)
    return f"""
    WITH flags AS (
        SELECT c4.doc_id,
               c4.too_short, c4.bad_mean_len, c4.has_blocklist,
               c4.low_stopword, c4.non_target_lang,
               coalesce(e.low_entropy, FALSE) AS low_entropy,
               coalesce(r.repetitive, FALSE) AS repetitive
        FROM ({C4_FILTER_ORACLE}) c4
        LEFT JOIN ({CHAR_ENTROPY_ORACLE}) e USING (doc_id)
        LEFT JOIN ({REPETITION_ORACLE}) r USING (doc_id)
    ),
    flags2 AS (SELECT *, {first} AS first_gate FROM flags)
{unioned}
    ORDER BY stage_order
"""


QUALITY_STACK_ORACLE = _quality_stack_oracle()


# ---------------------------------------------------------------------------
# Perplexity-band mixture report -- the quality-stratified corpus
# composition a curriculum/mixture designer reads: documents bucketed by
# their unigram-LM perplexity proxy (text_unigram_logprob's already
# cross-engine-stable ppl) into fixed bands, rolled up per (lang, band)
# with document and token mass plus each band's share of its language.
# Fixed thresholds (not data-derived quantiles) keep band membership
# stable under corpus appends -- the same reasoning as the fixed-width
# histogram.
#
# Scale: the logprob pipeline's one token scan + word-keyed shuffle,
# then a combinable (lang, band) rollup joined against the tiny per-lang
# totals (broadcast).  No windows.
# ---------------------------------------------------------------------------

PPL_BANDS: list[float] = [50.0, 100.0, 200.0, 400.0]


def _ppl_band_label(idx: int) -> str:
    if idx == 0:
        return f"b0_lt_{int(PPL_BANDS[0])}"
    if idx == len(PPL_BANDS):
        return f"b{idx}_ge_{int(PPL_BANDS[-1])}"
    return f"b{idx}_{int(PPL_BANDS[idx - 1])}_{int(PPL_BANDS[idx])}"


def perplexity_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ppl = text_unigram_logprob(spark, sf_dir).select(
        "doc_id", "n_tokens", "ppl"
    )
    band = F.lit(_ppl_band_label(len(PPL_BANDS)))
    for i in range(len(PPL_BANDS) - 1, -1, -1):
        band = F.when(
            F.col("ppl") < PPL_BANDS[i], F.lit(_ppl_band_label(i))
        ).otherwise(band)
    per = (
        ppl.join(docs, "doc_id")
        .groupBy("lang", band.alias("ppl_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    lang_tot = per.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("lang_docs")
    )
    return (
        per.join(F.broadcast(lang_tot), "lang")
        .select(
            "lang",
            "ppl_band",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_docs").cast("double") / F.col("lang_docs"), 6
            ).alias("share_of_lang"),
        )
        .orderBy("lang", "ppl_band")
    )


def _ppl_buckets_oracle() -> str:
    band = "CASE " + " ".join(
        f"WHEN ppl < {PPL_BANDS[i]} THEN '{_ppl_band_label(i)}'"
        for i in range(len(PPL_BANDS))
    ) + f" ELSE '{_ppl_band_label(len(PPL_BANDS))}' END"
    return f"""
    WITH scored AS ({UNIGRAM_LOGPROB_ORACLE}),
    per AS (
        SELECT d.lang, {band} AS ppl_band,
               count(*) AS n_docs,
               CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens
        FROM scored s JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs
        FROM per GROUP BY lang
    )
    SELECT lang, ppl_band, n_docs, n_tokens,
           round(CAST(n_docs AS DOUBLE) / lang_docs, 6) AS share_of_lang
    FROM per JOIN tot USING (lang)
    ORDER BY lang, ppl_band
"""


PPL_BUCKETS_ORACLE = _ppl_buckets_oracle()



# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap via MinHash signatures -- the corpus-
# composition diagnostic (are two crawl sources near-mirrors?) computed
# WITHOUT ever joining the two vocabularies: each source is reduced to a
# NUM_MINHASHES-lane minwise signature (functions/hashing.py universal
# hashes over md5 of the distinct words), and est_jaccard is the lane
# agreement rate.  Per-source state is O(lanes); the pair comparison is
# a broadcast self-join of #sources rows.  At 100 TB: one distinct pass
# over (source, word) -- same cardinality as the vocab build -- one
# combinable 16-min aggregate per source, then driver-scale pair math.
# The exact pairwise Jaccard this estimates would cost a vocab-x-vocab
# join PER PAIR; the signature answer is the only shape that survives
# hundreds of sources.  Deterministic md5 lanes => the oracle replays
# the identical estimate, bit-for-bit.
# ---------------------------------------------------------------------------


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import MINHASH_AB, MINHASH_P

    docs = load_table(spark, sf_dir, "documents")
    words = tokens_df(docs, keep=("source",)).distinct()
    h = md5_prefix(F.col("word")) % MINHASH_P
    sig = words.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        *[
            F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ],
    )
    a, b = sig.alias("a"), F.broadcast(sig.alias("b"))
    n_lanes = len(MINHASH_AB)
    agree = sum(
        (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int") for i in range(n_lanes)
    )
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.n_words").alias("n_words_a"),
            F.col("b.n_words").alias("n_words_b"),
            F.round(agree.cast("double") / n_lanes, 6).alias("est_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def _source_overlap_oracle() -> str:
    from ..functions.hashing import MINHASH_AB, MINHASH_P

    lanes = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    agree = " + ".join(
        f"CAST(a.mh{i} = b.mh{i} AS INT)" for i in range(len(MINHASH_AB))
    )
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    words AS (
        SELECT DISTINCT d.source, word
        FROM documents d JOIN toks USING (doc_id), unnest(ts) t(word)
    ),
    hashed AS (
        SELECT source, ('0x' || substr(md5(word), 1, 15))::BIGINT
                       % {MINHASH_P} AS h
        FROM words
    ),
    sig AS (
        SELECT source, count(*) AS n_words,
               {lanes}
        FROM hashed GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.n_words AS n_words_a, b.n_words AS n_words_b,
           round(CAST({agree} AS DOUBLE) / {len(MINHASH_AB)}, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    ORDER BY source_a, source_b
"""


SOURCE_OVERLAP_ORACLE = _source_overlap_oracle()


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: the classifier-quality report for
# text_langid, AS A QUERY -- actual language (the corpus label) vs the
# stopword-heuristic prediction, with per-cell counts and each cell's
# share of its actual-language row.  The diagonal is per-language
# recall; off-diagonal mass shows which languages the heuristic
# confuses (shared stopwords like 'de'/'es' "de" are visible here).
# Same evaluation-as-query pattern as dedup_method_eval /
# ann_method_recall.  One combinable aggregate onto |langs|^2 cells.
# ---------------------------------------------------------------------------


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = text_langid(spark, sf_dir).select("doc_id", "lang_pred")
    joined = docs.join(pred, "doc_id")
    per_actual = joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_actual")
    )
    return (
        joined.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(per_actual, "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_actual"), 6).alias(
                "share_of_actual"
            ),
            (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
        )
        .orderBy("lang", "lang_pred")
    )


LANGID_CONFUSION_ORACLE = f"""
    WITH pred AS ({LANGID_ORACLE}),
    joined AS (
        SELECT d.lang, p.lang_pred
        FROM documents d JOIN pred p USING (doc_id)
    ),
    per_actual AS (
        SELECT lang, count(*) AS n_actual FROM joined GROUP BY lang
    )
    SELECT j.lang, j.lang_pred,
           count(*) AS n,
           round(CAST(count(*) AS DOUBLE) / any_value(n_actual), 6)
               AS share_of_actual,
           j.lang = j.lang_pred AS is_correct
    FROM joined j JOIN per_actual USING (lang)
    GROUP BY j.lang, j.lang_pred
    ORDER BY lang, lang_pred
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of all corpus tokens the
# top-k vocabulary entries cover, for a ladder of budgets -- the
# diagnostic that sizes a tokenizer vocabulary (the knee of this curve
# is where adding types stops paying).  One pass over the BOUNDED
# vocab table (vocab_table's documented post-aggregation cardinality):
# every budget is a conditional sum in the same combinable aggregate,
# then the single row pivots to one row per budget via an explode of a
# literal-width array -- no second scan, no window beyond vocab_table's
# own documented rank.  dense_rank ties share a token_id, so a budget
# boundary includes ties identically on both engines.
# ---------------------------------------------------------------------------

VOCAB_COVERAGE_KS = (100, 500, 2000)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = vocab_table(spark, sf_dir)
    aggs = [
        F.sum("freq").alias("total_tokens"),
        F.count(F.lit(1)).alias("total_types"),
    ]
    for k in VOCAB_COVERAGE_KS:
        cond = F.col("token_id") <= k
        aggs.append(
            F.sum(F.when(cond, F.col("freq")).otherwise(0)).alias(f"cov{k}")
        )
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"types{k}")
        )
    one = vocab.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.col(f"types{k}").alias("n_types_in_budget"),
                F.col(f"cov{k}").alias("tokens_covered"),
            )
            for k in VOCAB_COVERAGE_KS
        ]
    )
    return (
        one.select(
            "total_tokens", "total_types", F.explode(rows).alias("r")
        )
        .select(
            F.col("r.k").alias("k"),
            F.col("r.n_types_in_budget").alias("n_types_in_budget"),
            "total_types",
            F.col("r.tokens_covered").alias("tokens_covered"),
            "total_tokens",
            F.round(
                F.col("r.tokens_covered").cast("double")
                / F.col("total_tokens"),
                6,
            ).alias("coverage"),
        )
        .orderBy("k")
    )


def _vocab_coverage_oracle() -> str:
    selects = "\n    UNION ALL\n".join(
        f"""    SELECT {k} AS k,
           CAST(sum(CASE WHEN token_id <= {k} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_types_in_budget,
           count(*) AS total_types,
           CAST(sum(CASE WHEN token_id <= {k} THEN freq ELSE 0 END) AS BIGINT)
               AS tokens_covered,
           CAST(sum(freq) AS BIGINT) AS total_tokens,
           round(CAST(sum(CASE WHEN token_id <= {k} THEN freq ELSE 0 END)
                      AS DOUBLE) / sum(freq), 6) AS coverage
    FROM vocab"""
        for k in VOCAB_COVERAGE_KS
    )
    return f"""
    WITH tok AS ({{TOKENS}}),
    freq AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
    vocab AS (
        SELECT CAST(dense_rank() OVER (ORDER BY freq DESC, word) AS BIGINT)
                   AS token_id,
               word, freq
        FROM freq
    )
{selects}
    ORDER BY k
""".replace("{TOKENS}", duckdb_tokens_sql())


VOCAB_COVERAGE_ORACLE = _vocab_coverage_oracle()


# ---------------------------------------------------------------------------
# Pointwise mutual information over the heavy-hitter vocabulary: which
# frequent terms CO-OCCUR in documents more (pmi > 0) or less (pmi < 0)
# than their document frequencies predict -- the collocation/topic
# signal behind phrase mining and feature crosses.  All-pairs PMI over
# the full vocabulary is quadratic in |vocab|; bounding it to the top
# PMI_TOP_TERMS document-frequency terms (a deterministic TakeOrdered:
# count desc, word asc) caps the pair space at TOP^2/2 regardless of
# corpus size, and the per-doc self-join touches <= TOP presence rows
# per document.  Determinism: the count ratios are exact integers; the
# single ln() of their product is decimal-truncated (the unigram-
# logprob discipline) so engine last-ulp differences cannot surface.
# ---------------------------------------------------------------------------

PMI_TOP_TERMS = 40


def term_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pres = tokens_df(docs).select("doc_id", "word").distinct().persist()
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    top = (
        pres.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(PMI_TOP_TERMS)
        .persist()
    )
    p = pres.join(
        F.broadcast(top.select("word")), "word", "left_semi"
    )
    a, b = p.alias("a"), p.alias("b")
    pair_counts = (
        a.join(b, F.col("a.doc_id") == F.col("b.doc_id"))
        .filter(F.col("a.word") < F.col("b.word"))
        .groupBy(
            F.col("a.word").alias("term_a"), F.col("b.word").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    da = top.select(F.col("word").alias("term_a"), F.col("df").alias("df_a"))
    db = top.select(F.col("word").alias("term_b"), F.col("df").alias("df_b"))
    pmi = (
        F.log(
            (F.col("n_ab") * F.col("n_docs")).cast("double")
            / (F.col("df_a") * F.col("df_b"))
        )
    ).cast("decimal(25,12)")
    return (
        pair_counts.join(F.broadcast(da), "term_a")
        .join(F.broadcast(db), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            "df_a",
            "df_b",
            F.round(pmi.cast("double"), 6).alias("pmi"),
        )
        .orderBy("term_a", "term_b")
    )


TERM_PMI_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    pres AS (
        SELECT DISTINCT doc_id, word FROM toks, unnest(ts) t(word)
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    top AS (
        SELECT word, count(*) AS df FROM pres GROUP BY word
        ORDER BY df DESC, word ASC LIMIT {PMI_TOP_TERMS}
    ),
    p AS (SELECT pres.* FROM pres SEMI JOIN top USING (word)),
    pairs AS (
        SELECT a.word AS term_a, b.word AS term_b, count(*) AS n_ab
        FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY 1, 2
    )
    SELECT term_a, term_b, n_ab,
           ta.df AS df_a, tb.df AS df_b,
           round(CAST(CAST(ln(CAST(n_ab * n_docs AS DOUBLE)
                               / (ta.df * tb.df))
                           AS DECIMAL(25,12)) AS DOUBLE), 6) AS pmi
    FROM pairs
    JOIN top ta ON term_a = ta.word
    JOIN top tb ON term_b = tb.word
    CROSS JOIN n
    ORDER BY term_a, term_b
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility by language: tokens-per-character for each corpus
# language -- the standard multilingual-tokenizer health check (a
# language whose fertility is far above the corpus mean is being
# shredded into too many pieces and will be under-represented per
# compute budget).  One combinable groupBy over the documents scan;
# every per-group number is an exact integer sum until the two final
# divisions, so parallel execution order cannot perturb the output.
# At 100x corpus the group count is the language count (bounded, tiny):
# partial aggregation reduces each partition to |langs| rows before the
# one shuffle.
# ---------------------------------------------------------------------------


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(tokenize(F.col("text"))).alias("n_toks"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_chars",
            F.round(
                F.col("total_tokens").cast("double") / F.col("total_chars"), 6
            ).alias("fertility"),
            F.round(
                F.col("total_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("avg_doc_tokens"),
        )
        .orderBy("lang")
    )


FERTILITY_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    per_doc AS (
        SELECT d.lang, len(t.ts) AS n_toks, d.n_chars
        FROM documents d JOIN toks t USING (doc_id)
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(CAST(sum(n_toks) AS DOUBLE) / sum(n_chars), 6) AS fertility,
           round(CAST(sum(n_toks) AS DOUBLE) / count(*), 6) AS avg_doc_tokens
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Power-of-two length-bucket profile: assign each document to the
# length bucket floor(log2(n_toks)) -- the bucketed-batching layout
# training loaders use so one batch pads to its bucket's cap rather
# than the corpus max.  The bucket index is computed with pure integer
# string ops (number of binary digits minus one) in BOTH engines, so no
# float log can disagree in the last ulp.  pad_waste_ratio is the
# fraction of a bucket-capped batch that would be padding if every doc
# pads to the bucket cap (2^(b+1) - 1): exact integer sums, one final
# division.  Combinable groupBy; bucket count is ~log2(longest doc),
# i.e. < 64 groups at any corpus size.
# ---------------------------------------------------------------------------


def length_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(tokenize(F.col("text")))
    bucket = (F.length(F.bin(n_toks.cast("bigint"))) - 1).cast("int")
    per_doc = docs.select(bucket.alias("bucket"), n_toks.alias("n_toks"))
    cap = F.pow(F.lit(2.0), (F.col("bucket") + 1).cast("double")).cast("bigint") - 1
    return (
        per_doc.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.min("n_toks").alias("min_tokens"),
            F.max("n_toks").alias("max_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
            cap.alias("bucket_cap"),
            F.round(
                (F.col("n_docs") * cap - F.col("total_tokens")).cast("double")
                / (F.col("n_docs") * cap),
                6,
            ).alias("pad_waste_ratio"),
        )
        .orderBy("bucket")
    )


LENGTH_BUCKET_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    per_doc AS (
        SELECT CAST(length(printf('%b', len(ts))) - 1 AS INTEGER) AS bucket,
               len(ts) AS n_toks
        FROM toks
    ),
    g AS (
        SELECT bucket,
               count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               CAST(min(n_toks) AS INTEGER) AS min_tokens,
               CAST(max(n_toks) AS INTEGER) AS max_tokens,
               CAST(power(2, bucket + 1) AS BIGINT) - 1 AS bucket_cap
        FROM per_doc
        GROUP BY bucket
    )
    SELECT bucket, n_docs, total_tokens, min_tokens, max_tokens, bucket_cap,
           round(CAST(n_docs * bucket_cap - total_tokens AS DOUBLE)
                 / (n_docs * bucket_cap), 6) AS pad_waste_ratio
    FROM g
    ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Kneser-Ney continuation statistics -- the smoothing table behind every
# serious n-gram LM: a word's continuation probability is the number of
# DISTINCT left contexts it follows, over the total number of distinct
# bigram types (not raw frequency -- 'francisco' is frequent but follows
# almost nothing except 'san', so its continuation mass is tiny).  The
# complement of text_bigram_logprob's raw conditional MLE; emitted per
# vocabulary word beside its raw frequency so the divergence between the
# two distributions is visible.
#
# Scale: the bigram-type table is a distinct over (prev, word) -- one
# combinable shuffle on the pair key at vocabulary-pair cardinality (far
# below the token stream, Zipf); cont counts are a combinable groupBy on
# word; the type total is one broadcast scalar.  All integers until the
# single rounded division.
# ---------------------------------------------------------------------------


def kn_continuation_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        F.lag("word", 1).over(w).alias("prev"), "word"
    ).filter(F.col("prev").isNotNull())
    types = bi.select("prev", "word").distinct()
    cont = types.groupBy("word").agg(
        F.count(F.lit(1)).alias("cont_count")
    )
    total = types.agg(F.count(F.lit(1)).alias("total_types"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    return (
        freq.join(cont, "word", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "freq",
            F.coalesce("cont_count", F.lit(0).cast("bigint")).alias(
                "cont_count"
            ),
            F.round(
                F.coalesce("cont_count", F.lit(0)).cast("double")
                / F.col("total_types"),
                9,
            ).alias("p_continuation"),
        )
        .orderBy("word")
    )


KN_CONTINUATION_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    stream AS (
        SELECT doc_id, i, ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    bi AS (
        SELECT ts[i] AS prev, ts[i+1] AS word
        FROM toks, unnest(range(1, len(ts))) t(i)
    ),
    types AS (SELECT DISTINCT prev, word FROM bi),
    cont AS (SELECT word, count(*) AS cont_count FROM types GROUP BY word),
    tot AS (SELECT count(*) AS total_types FROM types),
    freq AS (SELECT word, count(*) AS freq FROM stream GROUP BY word)
    SELECT f.word, f.freq,
           CAST(coalesce(c.cont_count, 0) AS BIGINT) AS cont_count,
           round(CAST(coalesce(c.cont_count, 0) AS DOUBLE) / total_types, 9)
               AS p_continuation
    FROM freq f LEFT JOIN cont c USING (word), tot
    ORDER BY f.word
"""


# ---------------------------------------------------------------------------
# Eval-decontamination funnel -- the release-side complement of
# contamination_overlap: that query asks "is my EVAL set leaked?", this
# one EXECUTES the standard fix in the other direction -- drop every
# TRAIN document sharing more than DECONTAM_NUM/DEN of its distinct
# shingles with the held-out eval split, and report the funnel
# (train in, dropped, kept, kept chars) as the one-row release record.
# The drop verdict is an integer cross-multiplication
# (n_hit * DEN > n_shingles * NUM), never a derived-double compare;
# shingle-free train docs carry no evidence and are kept.
#
# Scale: the same distinct-reduced shuffle-on-shingle left join as
# contamination_overlap (join keys are the shingle vocabulary, not the
# token stream), one combinable per-doc count, then a scalar rollup.
# ---------------------------------------------------------------------------

DECONTAM_NUM, DECONTAM_DEN = 1, 2  # drop when > half the shingles leak


def eval_decontam_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs)
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        sh.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(eval_sh, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    train_docs = docs.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id", "n_chars"
    )
    dropd = F.when(
        F.coalesce("n_hit", F.lit(0)) * DECONTAM_DEN
        > F.coalesce("n_sh", F.lit(0)) * DECONTAM_NUM,
        1,
    ).otherwise(0)
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0).agg(
        F.count(F.lit(1)).alias("n_eval_docs")
    )
    return (
        train_docs.join(per_doc, "doc_id", "left")
        .select(dropd.alias("d"), "n_chars")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum("d").cast("bigint").alias("n_dropped"),
            F.sum(1 - F.col("d")).cast("bigint").alias("n_kept"),
            F.sum((1 - F.col("d")) * F.col("n_chars"))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .crossJoin(F.broadcast(ev))
        .select(
            "n_eval_docs",
            "n_train_docs",
            "n_dropped",
            "n_kept",
            "kept_chars",
            F.round(
                F.col("n_dropped").cast("double") / F.col("n_train_docs"), 6
            ).alias("drop_rate"),
        )
    )


DECONTAM_FUNNEL_ORACLE = f"""
    WITH {DUCKDB_SHINGLES_CTE},
    eval_sh AS (
        SELECT DISTINCT sh FROM shing WHERE doc_id % {EVAL_MOD} = 0
    ),
    per_doc AS (
        SELECT s.doc_id, count(*) AS n_sh,
               sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM shing s
        LEFT JOIN eval_sh e ON s.sh = e.sh
        WHERE s.doc_id % {EVAL_MOD} <> 0
        GROUP BY s.doc_id
    ),
    flagged AS (
        SELECT d.n_chars,
               CASE WHEN coalesce(p.n_hit, 0) * {DECONTAM_DEN}
                         > coalesce(p.n_sh, 0) * {DECONTAM_NUM}
                    THEN 1 ELSE 0 END AS dr
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        WHERE d.doc_id % {EVAL_MOD} <> 0
    ),
    ev AS (
        SELECT count(*) AS n_eval_docs FROM documents
        WHERE doc_id % {EVAL_MOD} = 0
    )
    SELECT any_value(n_eval_docs) AS n_eval_docs,
           count(*) AS n_train_docs,
           CAST(sum(dr) AS BIGINT) AS n_dropped,
           CAST(sum(1 - dr) AS BIGINT) AS n_kept,
           CAST(sum((1 - dr) * n_chars) AS BIGINT) AS kept_chars,
           round(CAST(sum(dr) AS DOUBLE) / count(*), 6) AS drop_rate
    FROM flagged, ev
"""


# ---------------------------------------------------------------------------
# N-gram novelty curve: how much genuinely NEW text each ingestion batch
# adds.  Docs are batched by doc_id range (the append-only ingest order
# proxy -- the testdata has no ingest timestamp); a (doc, shingle) pair
# is "novel" iff the shingle has never occurred in any earlier batch.
# The novelty share falling round over round is THE saturation signal a
# crawl pipeline watches to decide when another crawl of a source stops
# paying for itself (the same economics as dedup, but measured before
# near-dup detection: repeated 3-grams, not whole near-dup docs).
#
# Scale shape: first-occurrence is a plain min() groupBy over the
# distinct shingle stream, the novelty tag is one shuffle join on the
# shingle key (both sides distributed; no window, no driver state), and
# the curve is a batch-count-bounded rollup.
# ---------------------------------------------------------------------------

NOVELTY_BATCH = 100  # docs per ingestion batch (doc_id div 100)


def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs).select(
        F.expr(f"doc_id div {NOVELTY_BATCH}").alias("batch"), "sh"
    )
    firsts = sh.groupBy("sh").agg(F.min("batch").alias("first_batch"))
    per_batch = (
        sh.join(firsts, "sh")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(F.col("first_batch") == F.col("batch"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel_pairs"),
            F.count_distinct(F.col("sh")).alias("n_distinct_sh"),
        )
    )
    new_sh = firsts.groupBy(F.col("first_batch").alias("batch")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_sh")
    )
    return (
        per_batch.join(new_sh, "batch", "left")
        .select(
            "batch",
            "n_pairs",
            "n_novel_pairs",
            "n_distinct_sh",
            F.coalesce(F.col("n_new_sh"), F.lit(0).cast("bigint")).alias(
                "n_new_sh"
            ),
            F.round(
                F.col("n_novel_pairs").cast("double") / F.col("n_pairs"), 6
            ).alias("novelty_share"),
        )
        .orderBy("batch")
    )


NOVELTY_CURVE_ORACLE = f"""
    WITH {DUCKDB_SHINGLES_CTE},
    bsh AS (
        SELECT doc_id // {NOVELTY_BATCH} AS batch, sh FROM shing
    ),
    firsts AS (
        SELECT sh, min(batch) AS first_batch FROM bsh GROUP BY sh
    ),
    per_batch AS (
        SELECT b.batch,
               count(*) AS n_pairs,
               CAST(sum(CASE WHEN f.first_batch = b.batch THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel_pairs,
               CAST(count(DISTINCT b.sh) AS BIGINT) AS n_distinct_sh
        FROM bsh b JOIN firsts f USING (sh)
        GROUP BY b.batch
    ),
    new_sh AS (
        SELECT first_batch AS batch, count(*) AS n_new_sh
        FROM firsts GROUP BY first_batch
    )
    SELECT p.batch, p.n_pairs, p.n_novel_pairs, p.n_distinct_sh,
           CAST(coalesce(n.n_new_sh, 0) AS BIGINT) AS n_new_sh,
           round(CAST(p.n_novel_pairs AS DOUBLE) / p.n_pairs, 6)
               AS novelty_share
    FROM per_batch p LEFT JOIN new_sh n USING (batch)
    ORDER BY p.batch
"""


# ---------------------------------------------------------------------------
# Exact ROC-AUC of the quality composite against the declared-language
# label -- the classifier-evaluation primitive a curation pipeline runs
# on every scoring model.  The label here (lang = 'en') is deliberately
# chosen as a BIAS AUDIT: the quality composite weighs an EN-stopword
# ratio, so its AUC against English-vs-not quantifies exactly how much
# the "quality" gate doubles as a language gate (AUC 0.5 = language-
# neutral; near 1.0 = it is secretly a langid filter).
#
# AUC == Mann-Whitney U, accumulated on the integer lattice without ever
# ranking individual documents: collapse to per-distinct-score counts
# (pos_s, neg_s), let neg_below_s = negatives at strictly lower scores,
# then 2U = sum_s (2 pos_s neg_below_s + pos_s neg_s) -- ties at half
# weight -- and AUC = 2U / (2 n_pos n_neg), one double division of exact
# decimals.  Score equality is bit-exact cross-engine because the
# composite is the oracle-checked text_quality_score expression.
#
# Scale shape: one groupBy collapses the corpus to distinct scores; the
# strictly-below cumulative is the repo's two-pass range-partitioned
# prefix sum (per-range totals, O(#partitions) driver collect -- the
# _doc_start_positions pattern, never a partitionless window); the rest
# is a single global aggregate.  Docs with no tokens/chars are excluded
# (their ratios are unrankable).
# ---------------------------------------------------------------------------


def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("is_pos")
    )
    scored = (
        text_quality_score(spark, sf_dir)
        .filter((F.col("n_tokens") > 0) & (F.col("n_chars") > 0))
        .select("doc_id", "quality")
        .join(labels, "doc_id")
    )
    by_score = scored.groupBy("quality").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1))
        .cast("bigint")
        .alias("neg"),
    )
    n_ranges = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = (
        by_score.repartitionByRange(n_ranges, "quality")
        .withColumn("_rng", F.spark_partition_id())
        .persist()
    )
    totals = sorted(
        (int(r["_rng"]), int(r["t"]))
        for r in ranged.groupBy("_rng").agg(F.sum("neg").alias("t")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for rng, t in totals:
        offsets[rng] = acc
        acc += t
    if offsets:
        off_col = F.element_at(
            F.create_map(
                *[
                    c
                    for k, v in offsets.items()
                    for c in (F.lit(k).cast("int"), F.lit(v).cast("bigint"))
                ]
            ),
            F.col("_rng"),
        )
    else:
        off_col = F.lit(0).cast("bigint")
    w = (
        Window.partitionBy("_rng")
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    DEC = "decimal(38,0)"
    cum = ranged.select(
        "pos",
        "neg",
        (off_col + F.coalesce(F.sum("neg").over(w), F.lit(0)))
        .cast(DEC)
        .alias("neg_below"),
    )
    agg = cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
        # exact in decimal internally, EMITTED as BIGINT: decimal output
        # columns decay to float64 through the driver's pandas fetch of
        # the DuckDB oracle (the r7+r8 red class).  u2 <= 6e6 at sf0.1;
        # the emission below is overflow-guarded in-plan (ADVICE r9), so
        # past ~3e9 docs the job FAILS loudly instead of nulling.
        F.sum(
            F.lit(2).cast(DEC) * F.col("pos").cast(DEC) * F.col("neg_below")
            + F.col("pos").cast(DEC) * F.col("neg").cast(DEC)
        ).alias("u2_dec"),
    )
    den = (
        F.lit(2).cast(DEC) * F.col("n_pos").cast(DEC) * F.col("n_neg").cast(DEC)
    ).cast("double")
    # same integer whether narrowed first or not: decimal->double and
    # bigint->double are both correctly-rounded conversions of the value
    auc = F.col("u2_dec").cast("double") / den
    return agg.select(
        "n_pos",
        "n_neg",
        "n_scores",
        _checked_bigint(F.col("u2_dec"), "u2").alias("u2"),
        auc.alias("auc"),
        (2 * auc - 1).alias("gini"),
    )


QUALITY_AUC_ORACLE = f"""
    WITH q AS ({QUALITY_ORACLE}),
    scored AS (
        SELECT q.quality,
               CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_pos
        FROM q JOIN documents d USING (doc_id)
        WHERE q.n_tokens > 0 AND q.n_chars > 0
    ),
    by_score AS (
        SELECT quality,
               CAST(sum(is_pos) AS BIGINT) AS pos,
               CAST(sum(1 - is_pos) AS BIGINT) AS neg
        FROM scored GROUP BY quality
    ),
    cum AS (
        SELECT pos, neg,
               CAST(coalesce(sum(neg) OVER (ORDER BY quality
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS HUGEINT) AS neg_below
        FROM by_score
    ),
    agg AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg,
               count(*) AS n_scores,
               CAST(sum(2 * CAST(pos AS HUGEINT) * neg_below
                        + CAST(pos AS HUGEINT) * neg) AS BIGINT) AS u2
        FROM cum
    )
    SELECT n_pos, n_neg, n_scores, u2,
           CAST(u2 AS DOUBLE)
               / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE) AS auc,
           2 * (CAST(u2 AS DOUBLE)
               / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE)) - 1
               AS gini
    FROM agg
"""


# ---------------------------------------------------------------------------
# Distributed half of a fastText-style quality-classifier TRAINING step:
# the exact sufficient statistics for one Newton/IRLS iteration of
# logistic regression at w = 0, over quantized document features and the
# same language label quality_score_auc audits.  At w = 0 the Hessian is
# X'X / 4 and the gradient is X'(y - 1/2), so the full iteration needs
# only the Gram matrix and the label-signed feature sums -- both plain
# combinable aggregates; the driver (or any single node) solves the
# d x d system, d = 4.  Same division of labor as pca_gram_stats: the
# corpus-sized reduction is distributed and oracle-checked, the O(d^3)
# solve is trivially local.
#
# Numeric discipline (the pca_gram_stats pattern): features live on an
# integer lattice (counts, and ratios quantized to 1e-6 by floor(r*1e6
# + 0.5) -- one deterministic double op chain); every per-row product
# fits BIGINT (< 1e12); sums are lifted to decimal(38,0) ("BIGINT sums
# die at ~1e6 rows" -- at 100 TB these sums reach ~1e22).  The gradient
# rows carry 2*X'(y - 1/2) = X'(2y - 1) to stay integral.
# ---------------------------------------------------------------------------

LOGIT_QUANT = 1000000  # ratio-feature lattice: 1e-6 steps


def quality_logit_sufficient_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("is_pos")
    )
    base = (
        text_quality_score(spark, sf_dir)
        .filter((F.col("n_tokens") > 0) & (F.col("n_chars") > 0))
        .join(labels, "doc_id")
    )
    q = F.lit(LOGIT_QUANT)
    feats = base.select(
        F.lit(1).cast("bigint").alias("x0"),
        F.col("n_tokens").alias("x1"),
        F.floor(F.col("distinct_ratio") * q + 0.5).cast("bigint").alias("x2"),
        F.floor(F.col("alpha_ratio") * q + 0.5).cast("bigint").alias("x3"),
        F.when(F.col("is_pos"), F.lit(1)).otherwise(F.lit(-1))
        .cast("bigint")
        .alias("ysign"),
    )
    DEC = "decimal(38,0)"
    d = 4
    aggs = []
    for j in range(d):
        for k in range(j, d):
            aggs.append(
                F.sum((F.col(f"x{j}") * F.col(f"x{k}")).cast(DEC)).alias(
                    f"g_{j}_{k}"
                )
            )
    for j in range(d):
        aggs.append(
            F.sum((F.col(f"x{j}") * F.col("ysign")).cast(DEC)).alias(f"d_{j}")
        )
    one = feats.agg(*aggs)
    rows = [
        F.struct(
            F.lit("gram").alias("stat"),
            F.lit(j).cast("int").alias("j"),
            F.lit(k).cast("int").alias("k"),
            F.col(f"g_{j}_{k}").alias("v"),
        )
        for j in range(d)
        for k in range(j, d)
    ] + [
        F.struct(
            F.lit("grad2").alias("stat"),
            F.lit(j).cast("int").alias("j"),
            F.lit(j).cast("int").alias("k"),
            F.col(f"d_{j}").alias("v"),
        )
        for j in range(d)
    ]
    return (
        one.select(F.explode(F.array(*rows)).alias("r"))
        # exact in decimal internally, EMITTED as BIGINT (decimal
        # outputs decay to float64 through the driver's pandas fetch --
        # the r7+r8 red class).  |v| <= 3.4e15 at sf0.1, linear in docs;
        # the emission is overflow-guarded in-plan (ADVICE r9), so past
        # ~sf200 the job FAILS loudly instead of silently nulling.
        .select(
            "r.stat",
            "r.j",
            "r.k",
            _checked_bigint(F.col("r.v"), "v").alias("v"),
        )
        .orderBy("stat", "j", "k")
    )


def _logit_stats_oracle() -> str:
    d = 4
    gram = ",\n               ".join(
        f"CAST(sum(CAST(x{j} * x{k} AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        f" AS g_{j}_{k}"
        for j in range(d)
        for k in range(j, d)
    )
    grad = ",\n               ".join(
        f"CAST(sum(CAST(x{j} * ysign AS DECIMAL(38,0))) AS DECIMAL(38,0))"
        f" AS d_{j}"
        for j in range(d)
    )
    selects = [
        f"    SELECT 'gram' AS stat, {j} AS j, {k} AS k,"
        f" CAST(g_{j}_{k} AS BIGINT) AS v FROM agg"
        for j in range(d)
        for k in range(j, d)
    ] + [
        f"    SELECT 'grad2' AS stat, {j} AS j, {j} AS k,"
        f" CAST(d_{j} AS BIGINT) AS v FROM agg"
        for j in range(d)
    ]
    union = "\n    UNION ALL\n".join(selects)
    return f"""
    WITH q AS ({{QUALITY_ORACLE}}),
    feats AS (
        SELECT CAST(1 AS BIGINT) AS x0,
               q.n_tokens AS x1,
               CAST(floor(q.distinct_ratio * {LOGIT_QUANT} + 0.5) AS BIGINT)
                   AS x2,
               CAST(floor(q.alpha_ratio * {LOGIT_QUANT} + 0.5) AS BIGINT)
                   AS x3,
               CASE WHEN d.lang = 'en' THEN CAST(1 AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS ysign
        FROM q JOIN documents d USING (doc_id)
        WHERE q.n_tokens > 0 AND q.n_chars > 0
    ),
    agg AS (
        SELECT {gram},
               {grad}
        FROM feats
    )
    SELECT * FROM (
{union}
    )
    ORDER BY stat, j, k
""".replace("{QUALITY_ORACLE}", QUALITY_ORACLE)


LOGIT_STATS_ORACLE = _logit_stats_oracle()


# ---------------------------------------------------------------------------
# Reliability diagram for the quality composite -- the calibration table
# behind quality_score_auc's single number: per fixed-width score bucket,
# how many docs land there and what fraction carries the positive label
# (lang = 'en').  A language-neutral score shows a flat pos_rate across
# buckets; a sloped table is the bias localized to score bands.
#
# Exactness: the bucket id is one double division + floor; the bucket's
# mean score is an integer-lattice mean (scores quantized at 1e-6 by the
# LOGIT_QUANT rule, summed in decimal(38,0) -- a raw double sum would be
# shuffle-order-dependent); pos_rate and mean are single divisions.
# Scale: one groupBy into <= 21 bucket rows (score is a [0,1] convex
# combination), everything combinable.
# ---------------------------------------------------------------------------

CALIB_BUCKET_WIDTH = 0.05


def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("is_pos")
    )
    scored = (
        text_quality_score(spark, sf_dir)
        .filter((F.col("n_tokens") > 0) & (F.col("n_chars") > 0))
        .select("doc_id", "quality")
        .join(labels, "doc_id")
    )
    DEC = "decimal(38,0)"
    return (
        scored.select(
            F.floor(F.col("quality") / CALIB_BUCKET_WIDTH)
            .cast("int")
            .alias("bucket"),
            "is_pos",
            F.floor(F.col("quality") * LOGIT_QUANT + 0.5)
            .cast("bigint")
            .alias("q_int"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.col("q_int").cast(DEC)).cast(DEC).alias("sum_q"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(CALIB_BUCKET_WIDTH)).alias("bucket_lo"),
            "n_docs",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n_docs")).alias(
                "pos_rate"
            ),
            (
                F.col("sum_q").cast("double")
                / (F.col("n_docs") * LOGIT_QUANT)
            ).alias("mean_quality"),
        )
        .orderBy("bucket")
    )


QUALITY_CALIBRATION_ORACLE = f"""
    WITH q AS ({QUALITY_ORACLE}),
    scored AS (
        SELECT CAST(floor(q.quality / CAST({CALIB_BUCKET_WIDTH} AS DOUBLE))
                    AS INTEGER)
                   AS bucket,
               CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_pos,
               CAST(floor(q.quality * {LOGIT_QUANT} + 0.5) AS BIGINT)
                   AS q_int
        FROM q JOIN documents d USING (doc_id)
        WHERE q.n_tokens > 0 AND q.n_chars > 0
    ),
    agg AS (
        SELECT bucket,
               count(*) AS n_docs,
               CAST(sum(is_pos) AS BIGINT) AS n_pos,
               CAST(sum(CAST(q_int AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sum_q
        FROM scored GROUP BY bucket
    )
    SELECT bucket,
           bucket * CAST({CALIB_BUCKET_WIDTH} AS DOUBLE) AS bucket_lo,
           n_docs,
           n_pos,
           CAST(n_pos AS DOUBLE) / n_docs AS pos_rate,
           CAST(sum_q AS DOUBLE) / (n_docs * {LOGIT_QUANT}) AS mean_quality
    FROM agg
    ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Character-trigram language profile -- the TRAINING table of an n-gram
# language identifier (the stopword heuristic text_langid ships is the
# inference side; real langid models rank char n-gram profiles,
# Cavnar-Trenkle style).  Per declared language: the top-K character
# trigrams of the space-joined cleaned-token stream with occurrence
# shares.  Reuses the pinned [0-9a-z] token kernel verbatim (both
# engines share DUCKDB_TOKS_CTE), so no new normalization surface.
# Scale: trigram extraction is a per-doc transform+explode (JVM HOF, no
# Python); counts reduce map-side onto at most |langs| x 37^3 type rows,
# and the top-K window partitions by lang over trigram TYPES (bounded by
# the alphabet, never by corpus size).
# ---------------------------------------------------------------------------

TRIGRAM_TOP_K = 20


def char_trigram_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "lang", F.array_join(tokenize(F.col("text")), " ").alias("s")
    ).where(F.length("s") >= 3)
    # explode the POSITIONS and slice with one scalar substring: the
    # per-position lambda of the transform(sequence, ...) form ran
    # interpreted outside codegen (optimization round 12; same stream,
    # same values)
    tg = norm.select(
        "lang",
        "s",
        F.explode(F.sequence(F.lit(1), F.length("s") - 2)).alias("i"),
    ).select("lang", F.expr("substring(s, i, 3)").alias("trigram"))
    counts = tg.groupBy("lang", "trigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    lang_tot = counts.groupBy("lang").agg(
        F.sum("n_occurrences").cast("bigint").alias("total")
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("n_occurrences"), F.asc("trigram")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TRIGRAM_TOP_K)
        .join(F.broadcast(lang_tot), "lang")
        .select(
            "lang",
            "rank",
            "trigram",
            "n_occurrences",
            # unrounded exact-int division (pca red-class avoidance)
            (
                F.col("n_occurrences").cast("double") / F.col("total")
            ).alias("share"),
        )
        .orderBy("lang", "rank")
    )


CHAR_TRIGRAM_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    norm AS (
        SELECT d.lang, array_to_string(t.ts, ' ') AS s
        FROM documents d JOIN toks t USING (doc_id)
    ),
    idx AS (
        SELECT lang, s,
               unnest(generate_series(1, length(s) - 2)) AS i
        FROM norm
        WHERE length(s) >= 3
    ),
    counts AS (
        SELECT lang, substr(s, CAST(i AS INTEGER), 3) AS trigram,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM idx
        GROUP BY 1, 2
    ),
    lang_tot AS (
        SELECT lang, CAST(sum(n_occurrences) AS BIGINT) AS total
        FROM counts GROUP BY lang
    ),
    ranked AS (
        SELECT lang, trigram, n_occurrences,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY n_occurrences DESC, trigram) AS INTEGER) AS rank
        FROM counts
    )
    SELECT lang, rank, trigram, n_occurrences,
           CAST(n_occurrences AS DOUBLE) / total AS share
    FROM ranked JOIN lang_tot USING (lang)
    WHERE rank <= {TRIGRAM_TOP_K}
    ORDER BY lang, rank
"""


# ---------------------------------------------------------------------------
# nb_langid_confusion: multinomial naive-Bayes language ID over the
# char_trigram_lang_profile training table -- the INFERENCE side of
# the Cavnar-Trenkle-style identifier whose training table ships
# above, evaluated as a confusion matrix against the declared labels
# (the langid_confusion shape, but with the statistical model instead
# of the stopword heuristic).  Truncated-profile NB: the model
# vocabulary is the union of the per-language top-K trigram profiles
# (<= |langs| * K types), Laplace-smoothed
#
#     P(t|lang) = (cnt + 1) / (tot_lang + V),   P_oov = 1 / (tot_lang + V)
#
# and a doc scores  sum_matched cnt*ln P  +  (n_tri - matched)*ln P_oov
# per language.  Scores are EXACT decimals (each ln squashed to
# DECIMAL(18,9), counts integer, products/sums exact), so the argmax
# (min(struct(-score, lang))) is deterministic in both engines --
# never a double comparison.
#
# Scale shape: the profile and its log-table are bounded by the
# alphabet (broadcast); per-doc trigram counts reduce map-side; the
# doc x |langs| score table is |docs| x |langs| rows of exact decimal
# aggregation -- one shuffle on doc_id, no windows over the raw
# stream.  Docs shorter than one trigram are excluded, matching the
# profile builder's domain.
# ---------------------------------------------------------------------------


def nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # re-spread the doc scan before the tokenize + trigram-explode chain:
    # the single small parquet file otherwise runs the whole heavy map
    # stage on one task (guide SS2.5; measured 4.6 -> 0.9 s for the
    # doc-count stage at sf0.1); at production scale the scan has
    # natural row-group parallelism and this one narrow shuffle of doc
    # rows is noise next to the explode it feeds
    docs = docs_by_id(load_table(spark, sf_dir, "documents"))
    norm = docs.select(
        "doc_id", "lang", F.array_join(tokenize(F.col("text")), " ").alias("s")
    ).where(F.length("s") >= 3)
    # kept as the transform form (optimization round 12): the
    # position-explode + scalar-substring variant that wins in
    # char_trigram_lang_profile measured SLOWER here (4.9 -> 6.4 s at
    # sf0.1) -- this stream feeds two consumers, and the exploded rows
    # carry the whole normalized document string through both
    tg = norm.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
        ).alias("trigram"),
        # persisted: the tokenize + array_join + trigram explode chain is
        # the dominant cost and BOTH the profile side (prof_counts) and
        # the scoring side (dcnt) consume it -- unpersisted it computed
        # twice per run (optimization round 12)
    ).persist()
    prof_counts = tg.groupBy(F.col("lang").alias("plang"), "trigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wp = Window.partitionBy("plang").orderBy(F.desc("cnt"), F.asc("trigram"))
    prof = prof_counts.withColumn("rank", F.row_number().over(wp)).where(
        F.col("rank") <= TRIGRAM_TOP_K
    )
    tot = prof.groupBy("plang").agg(F.sum("cnt").cast("bigint").alias("tot"))
    vocab = prof.agg(
        F.countDistinct("trigram").cast("bigint").alias("v_size")
    )
    lp = (
        prof.join(F.broadcast(tot), "plang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "plang",
            "trigram",
            F.log(
                (F.col("cnt") + 1).cast("double")
                / (F.col("tot") + F.col("v_size")).cast("double")
            )
            .cast("decimal(18,9)")
            .alias("lp9"),
        )
    )
    oov = (
        tot.crossJoin(F.broadcast(vocab))
        .select(
            "plang",
            F.log(
                F.lit(1.0)
                / (F.col("tot") + F.col("v_size")).cast("double")
            )
            .cast("decimal(18,9)")
            .alias("oov9"),
        )
    )
    dcnt = tg.groupBy("doc_id", "lang", "trigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    dtot = dcnt.groupBy("doc_id", "lang").agg(
        F.sum("cnt").cast("bigint").alias("n_tri")
    )
    matched = (
        dcnt.join(F.broadcast(lp), "trigram")
        .groupBy("doc_id", "lang", "plang")
        .agg(
            F.sum(F.col("cnt").cast("decimal(18,0)") * F.col("lp9")).alias(
                "mlp"
            ),
            F.sum("cnt").cast("bigint").alias("mcnt"),
        )
    )
    scored = (
        dtot.crossJoin(F.broadcast(oov))
        .join(matched, ["doc_id", "lang", "plang"], "left")
        .select(
            "doc_id",
            "lang",
            "plang",
            (
                F.coalesce(F.col("mlp"), F.lit(0).cast("decimal(18,9)"))
                + (
                    F.col("n_tri") - F.coalesce(F.col("mcnt"), F.lit(0))
                ).cast("decimal(18,0)")
                * F.col("oov9")
            ).alias("score"),
        )
    )
    pred = scored.groupBy("doc_id", "lang").agg(
        F.min(
            F.struct((-F.col("score")).alias("neg"), F.col("plang").alias("p"))
        )["p"].alias("lang_pred")
    )
    actual_tot = pred.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_actual")
    )
    return (
        pred.groupBy(F.col("lang").alias("lang_actual"), "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(
            F.broadcast(actual_tot.withColumnRenamed("lang", "lang_actual")),
            "lang_actual",
        )
        .select(
            "lang_actual",
            "lang_pred",
            "n_docs",
            (
                F.col("n_docs").cast("double")
                / F.col("n_actual").cast("double")
            ).alias("share"),
        )
        .orderBy("lang_actual", "lang_pred")
    )


NB_LANGID_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    norm AS (
        SELECT t.doc_id, d.lang, array_to_string(t.ts, ' ') AS s
        FROM documents d JOIN toks t USING (doc_id)
    ),
    tg AS (
        SELECT doc_id, lang,
               substr(s, CAST(i AS INTEGER), 3) AS trigram
        FROM (
            SELECT doc_id, lang, s,
                   unnest(generate_series(1, length(s) - 2)) AS i
            FROM norm WHERE length(s) >= 3
        )
    ),
    prof_counts AS (
        SELECT lang AS plang, trigram, CAST(count(*) AS BIGINT) AS cnt
        FROM tg GROUP BY 1, 2
    ),
    prof AS (
        SELECT plang, trigram, cnt FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY plang ORDER BY cnt DESC, trigram
                   ) AS rank
            FROM prof_counts
        ) WHERE rank <= {TRIGRAM_TOP_K}
    ),
    tot AS (
        SELECT plang, CAST(sum(cnt) AS BIGINT) AS tot FROM prof GROUP BY 1
    ),
    vocab AS (
        SELECT CAST(count(DISTINCT trigram) AS BIGINT) AS v_size FROM prof
    ),
    lp AS (
        SELECT p.plang, p.trigram,
               CAST(ln(CAST(p.cnt + 1 AS DOUBLE)
                       / CAST(t.tot + v.v_size AS DOUBLE))
                    AS DECIMAL(18,9)) AS lp9
        FROM prof p JOIN tot t USING (plang), vocab v
    ),
    oov AS (
        SELECT t.plang,
               CAST(ln(1.0 / CAST(t.tot + v.v_size AS DOUBLE))
                    AS DECIMAL(18,9)) AS oov9
        FROM tot t, vocab v
    ),
    dcnt AS (
        SELECT doc_id, lang, trigram, CAST(count(*) AS BIGINT) AS cnt
        FROM tg GROUP BY 1, 2, 3
    ),
    dtot AS (
        SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_tri
        FROM dcnt GROUP BY 1, 2
    ),
    matched AS (
        SELECT d.doc_id, d.lang, l.plang,
               sum(CAST(d.cnt AS DECIMAL(18,0)) * l.lp9) AS mlp,
               CAST(sum(d.cnt) AS BIGINT) AS mcnt
        FROM dcnt d JOIN lp l USING (trigram)
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT dt.doc_id, dt.lang, o.plang,
               COALESCE(m.mlp, CAST(0 AS DECIMAL(18,9)))
               + CAST(dt.n_tri - COALESCE(m.mcnt, 0) AS DECIMAL(18,0))
                 * o.oov9 AS score
        FROM dtot dt
        CROSS JOIN oov o
        LEFT JOIN matched m
               ON m.doc_id = dt.doc_id AND m.lang = dt.lang
              AND m.plang = o.plang
    ),
    pred AS (
        SELECT doc_id, lang, plang AS lang_pred FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY doc_id, lang
                       ORDER BY score DESC, plang ASC
                   ) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    actual_tot AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_actual
        FROM pred GROUP BY 1
    )
    SELECT p.lang AS lang_actual, p.lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS DOUBLE) / CAST(any_value(a.n_actual) AS DOUBLE)
               AS share
    FROM pred p JOIN actual_tot a USING (lang)
    GROUP BY 1, 2
    ORDER BY lang_actual, lang_pred
"""


# ---------------------------------------------------------------------------
# PII incidence by source -- the governance rollup above pii_redaction's
# per-document scan: which SOURCES leak contact-like strings, at what
# density?  This is the table a release review reads to decide
# "source X needs the redaction pass / source Y gets dropped", the same
# altitude as source_quality_decision but for privacy rather than
# quality.  Same three pinned regex classes as pii_redaction (one scan,
# regexp_count only -- the rewrite stays in the per-doc query).  Scale:
# one combinable groupBy(source) over the document scan; rates are
# single divisions of exact integers (hits per 10k chars uses an
# integer-scaled numerator so only ONE double division happens).
# ---------------------------------------------------------------------------


def pii_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_email = F.regexp_count(text, F.lit(PII_EMAIL_RE))
    n_num = F.regexp_count(text, F.lit(PII_NUM_RE))
    n_term = F.regexp_count(text, F.lit(PII_TERM_RE))
    per_doc = docs.select(
        "source",
        n_email.alias("e"),
        n_num.alias("d"),
        n_term.alias("t"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when((F.col("e") + F.col("d") + F.col("t")) > 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("docs_with_pii"),
        F.sum("e").cast("bigint").alias("n_emails"),
        F.sum("d").cast("bigint").alias("n_digit_runs"),
        F.sum("t").cast("bigint").alias("n_sensitive"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    hits = F.col("n_emails") + F.col("n_digit_runs") + F.col("n_sensitive")
    return agg.select(
        "source",
        "n_docs",
        "docs_with_pii",
        "n_emails",
        "n_digit_runs",
        "n_sensitive",
        # unrounded exact-int divisions (pca red-class avoidance)
        (
            F.col("docs_with_pii").cast("double") / F.col("n_docs")
        ).alias("pii_doc_rate"),
        (
            (hits * F.lit(10000)).cast("double") / F.col("n_chars")
        ).alias("hits_per_10k_chars"),
    ).orderBy("source")


PII_BY_SOURCE_ORACLE = rf"""
    WITH per_doc AS (
        SELECT source,
               len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS e,
               len(regexp_extract_all(text, '{PII_NUM_RE}')) AS d,
               len(regexp_extract_all(text, '{PII_TERM_RE}')) AS t,
               length(text) AS n_chars
        FROM documents
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN e + d + t > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS docs_with_pii,
               CAST(sum(e) AS BIGINT) AS n_emails,
               CAST(sum(d) AS BIGINT) AS n_digit_runs,
               CAST(sum(t) AS BIGINT) AS n_sensitive,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM per_doc
        GROUP BY source
    )
    SELECT source, n_docs, docs_with_pii, n_emails, n_digit_runs, n_sensitive,
           CAST(docs_with_pii AS DOUBLE) / n_docs AS pii_doc_rate,
           CAST((n_emails + n_digit_runs + n_sensitive) * 10000
                AS DOUBLE) / n_chars AS hits_per_10k_chars
    FROM agg
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Language-declaration audit by source -- langid_confusion grades the
# CLASSIFIER against declared labels; this flips the lens and grades the
# SOURCES: per source, how often does the classifier disagree with the
# declared lang (mislabeled syndication / wrong-language contamination),
# and how often can it not tell (unknown)?  The per-source actionable
# twin of langid_confusion, same altitude as pii_rate_by_source.
# Reuses the pinned stopword classifier verbatim on both engines.
# Scale: classifier scan + one broadcast-joined groupBy(source).
# ---------------------------------------------------------------------------


def langid_mismatch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    pred = text_langid(spark, sf_dir).select("doc_id", "lang_pred")
    joined = docs.join(pred, "doc_id")
    is_unknown = F.col("lang_pred") == "unknown"
    is_mismatch = (~is_unknown) & (F.col("lang_pred") != F.col("lang"))
    agg = joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(is_mismatch, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mismatch"),
        F.sum(F.when(is_unknown, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unknown"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_mismatch",
        "n_unknown",
        # unrounded exact-int divisions (pca red-class avoidance)
        (
            F.col("n_mismatch").cast("double") / F.col("n_docs")
        ).alias("mismatch_rate"),
        (
            F.col("n_unknown").cast("double") / F.col("n_docs")
        ).alias("unknown_rate"),
    ).orderBy("source")


LANGID_MISMATCH_ORACLE = f"""
    WITH pred AS ({LANGID_ORACLE}),
    joined AS (
        SELECT d.source, d.lang, p.lang_pred
        FROM documents d JOIN pred p USING (doc_id)
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN lang_pred <> 'unknown'
                             AND lang_pred <> lang THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_mismatch,
               CAST(sum(CASE WHEN lang_pred = 'unknown' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unknown
        FROM joined
        GROUP BY source
    )
    SELECT source, n_docs, n_mismatch, n_unknown,
           CAST(n_mismatch AS DOUBLE) / n_docs AS mismatch_rate,
           CAST(n_unknown AS DOUBLE) / n_docs AS unknown_rate
    FROM agg
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate by source -- vocab_coverage_curve answers "how
# big must the vocab be" globally; this answers "WHICH SOURCES blow the
# token budget" once a size is fixed: per source, the token- and
# type-level OOV rates against the top-OOV_VOCAB_CAP vocabulary (the
# tokenizer-pressure report behind per-source fertility).  Scale: the
# corpus reduces to the (source, word) aggregate BEFORE any join (type
# economics, Zipf-bounded); the capped vocab is dense_rank over the
# audited post-aggregation vocab_table and broadcasts; rates are single
# divisions of exact counts.
# ---------------------------------------------------------------------------

OOV_VOCAB_CAP = 1000


def vocab_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs, keep=("source",))
    by_word = toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    vocab = (
        vocab_table(spark, sf_dir)
        .filter(F.col("token_id") <= OOV_VOCAB_CAP)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    flagged = by_word.join(F.broadcast(vocab), "word", "left").withColumn(
        "is_oov", F.col("in_vocab").isNull()
    )
    agg = flagged.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("is_oov"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_oov_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("is_oov"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov_types"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_oov_tokens",
        "n_types",
        "n_oov_types",
        # unrounded exact-int divisions (pca red-class avoidance)
        (
            F.col("n_oov_tokens").cast("double") / F.col("n_tokens")
        ).alias("oov_token_rate"),
        (
            F.col("n_oov_types").cast("double") / F.col("n_types")
        ).alias("oov_type_rate"),
    ).orderBy("source")


VOCAB_OOV_ORACLE = f"""
    WITH tok AS ({duckdb_tokens_sql()}),
    by_word AS (
        SELECT d.source, t.word, CAST(count(*) AS BIGINT) AS cnt
        FROM tok t JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    ),
    freq AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
    vocab AS (
        SELECT word FROM (
            SELECT word,
                   CAST(dense_rank() OVER (ORDER BY freq DESC, word)
                        AS BIGINT) AS token_id
            FROM freq
        ) WHERE token_id <= {OOV_VOCAB_CAP}
    ),
    flagged AS (
        SELECT b.source, b.cnt, v.word IS NULL AS is_oov
        FROM by_word b LEFT JOIN vocab v USING (word)
    ),
    agg AS (
        SELECT source,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN is_oov THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_oov_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov_types
        FROM flagged
        GROUP BY source
    )
    SELECT source, n_tokens, n_oov_tokens, n_types, n_oov_types,
           CAST(n_oov_tokens AS DOUBLE) / n_tokens AS oov_token_rate,
           CAST(n_oov_types AS DOUBLE) / n_types AS oov_type_rate
    FROM agg
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Split-conformal quality threshold -- the missing GUARANTEE next to the
# quality gates: quality_gate_stack applies fixed cutoffs,
# quality_score_calibration reports reliability, but neither answers
# "what cutoff rejects at most alpha of the docs I care about, with a
# finite-sample guarantee?".  Split conformal does, assuming only
# exchangeability: calibrate on a held-out half of the positives (en
# docs, the same label quality_score_auc grades against), set the
# threshold at the r-th smallest calibration quality with
# r = floor((n_cal + 1) / ALPHA_DEN), and the rejection rate of unseen
# positives is <= r / (n_cal + 1) <= 1/ALPHA_DEN.  The disjoint eval
# half then AUDITS the realized rates per source -- both the guarantee
# side (positives wrongly rejected) and the power side (negatives
# correctly rejected).
#
# Exactness: the calibration/eval split is md5-deterministic (the kfold
# contract), the r-th smallest is selected by exact integer cumulative
# counts over the DISTINCT quality values (the mann_whitney rank idiom
# -- never a global row window over raw docs), r itself is pure integer
# arithmetic ((n+1) DIV 10, no 0.1-times-double boundary hazard), and
# every rate is one double division of exact counts.  If n_cal < ALPHA_DEN
# - 1 the guarantee is vacuous (r = 0); the threshold is then NULL and
# nothing is rejected -- the honest degenerate answer, not a crash.
#
# Scale shape: one combinable groupBy(quality) over the calibration
# half (distinct-value table), one bounded window over it, broadcast
# one-row threshold, one combinable per-source rollup of the eval half.
# ---------------------------------------------------------------------------

CONFORMAL_ALPHA_DEN = 10  # alpha = 1/10: reject <= 10% of good docs


def conformal_quality_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.col("lang") == "en").alias("is_pos")
    )
    scored = (
        text_quality_score(spark, sf_dir)
        .filter((F.col("n_tokens") > 0) & (F.col("n_chars") > 0))
        .select("doc_id", "quality")
        .join(docs, "doc_id")
        .withColumn(
            "is_cal",
            md5_prefix(F.col("doc_id").cast("string")) % 2 == 0,
        )
        # persist: the quality-score pipeline (whole-corpus tokenize)
        # feeds the calibration branch AND the eval rollup
        .persist()
    )
    byq = (
        scored.filter(F.col("is_cal") & F.col("is_pos"))
        .groupBy("quality")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()  # consumed by both the cum window and the total
    )
    # window input is the distinct-quality table (post-aggregate), never docs
    w_cum = Window.orderBy("quality").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = byq.select("quality", F.sum("n").over(w_cum).alias("cum"))
    tot = byq.agg(
        F.sum("n").cast("bigint").alias("n_cal"),
    ).select(
        "n_cal",
        F.expr(f"(n_cal + 1) div {CONFORMAL_ALPHA_DEN}").alias("thresh_rank"),
    )
    thr = (
        cum.crossJoin(F.broadcast(tot))
        .filter((F.col("thresh_rank") >= 1) & (F.col("cum") >= F.col("thresh_rank")))
        .agg(F.min("quality").alias("threshold"))
    )
    thr_row = tot.crossJoin(F.broadcast(thr))
    ev = scored.filter(~F.col("is_cal")).crossJoin(F.broadcast(thr_row))
    agg = ev.groupBy("source").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_eval_pos"),
        F.sum(
            F.when(F.col("is_pos") & (F.col("quality") < F.col("threshold")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("pos_rejected"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_eval_neg"),
        F.sum(
            F.when(
                (~F.col("is_pos")) & (F.col("quality") < F.col("threshold")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("neg_rejected"),
        F.max("n_cal").alias("n_cal"),
        F.max("thresh_rank").alias("thresh_rank"),
        F.max("threshold").alias("threshold"),
    )
    # single-label-source guard: a source with zero eval positives (or
    # negatives) must emit NULL, not Spark-NULL-vs-DuckDB-inf divergence
    # (ieee_floating_point_ops default) -- same degenerate-regime
    # discipline as hill/ljung/kruskal
    return agg.select(
        "source",
        "n_eval_pos",
        "pos_rejected",
        F.when(
            F.col("n_eval_pos") > 0,
            F.col("pos_rejected").cast("double")
            / F.col("n_eval_pos").cast("double"),
        ).alias("pos_reject_rate"),
        "n_eval_neg",
        "neg_rejected",
        F.when(
            F.col("n_eval_neg") > 0,
            F.col("neg_rejected").cast("double")
            / F.col("n_eval_neg").cast("double"),
        ).alias("neg_reject_rate"),
        "n_cal",
        "thresh_rank",
        "threshold",
    ).orderBy("source")


CONFORMAL_ORACLE = f"""
    WITH q AS ({QUALITY_ORACLE.strip()}),
    scored AS (
        SELECT q.doc_id, q.quality, d.source, d.lang = 'en' AS is_pos,
               ('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 2 = 0 AS is_cal
        FROM q JOIN documents d USING (doc_id)
        WHERE q.n_tokens > 0 AND q.n_chars > 0
    ),
    byq AS (
        SELECT quality, CAST(count(*) AS BIGINT) AS n
        FROM scored WHERE is_cal AND is_pos
        GROUP BY quality
    ),
    cum AS (
        SELECT quality,
               CAST(sum(n) OVER (ORDER BY quality
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM byq
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_cal,
               CAST((sum(n) + 1) // {CONFORMAL_ALPHA_DEN} AS BIGINT)
                   AS thresh_rank
        FROM byq
    ),
    thr AS (
        SELECT min(quality) AS threshold
        FROM cum CROSS JOIN tot
        WHERE thresh_rank >= 1 AND cum >= thresh_rank
    ),
    thr_row AS (SELECT * FROM tot CROSS JOIN thr),
    agg AS (
        SELECT source,
               CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_eval_pos,
               CAST(sum(CASE WHEN is_pos AND quality < threshold THEN 1
                             ELSE 0 END) AS BIGINT) AS pos_rejected,
               CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_eval_neg,
               CAST(sum(CASE WHEN NOT is_pos AND quality < threshold THEN 1
                             ELSE 0 END) AS BIGINT) AS neg_rejected,
               max(n_cal) AS n_cal,
               max(thresh_rank) AS thresh_rank,
               max(threshold) AS threshold
        FROM scored CROSS JOIN thr_row
        WHERE NOT is_cal
        GROUP BY source
    )
    SELECT source, n_eval_pos, pos_rejected,
           CASE WHEN n_eval_pos > 0
                THEN CAST(pos_rejected AS DOUBLE) / CAST(n_eval_pos AS DOUBLE)
           END AS pos_reject_rate,
           n_eval_neg, neg_rejected,
           CASE WHEN n_eval_neg > 0
                THEN CAST(neg_rejected AS DOUBLE) / CAST(n_eval_neg AS DOUBLE)
           END AS neg_reject_rate,
           n_cal, thresh_rank, threshold
    FROM agg
    ORDER BY source
"""


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence matrix between per-source unigram
# distributions -- the mixture-curation DISTANCE: which sources are
# near-duplicates of each other IN DISTRIBUTION (redundant to upsample
# together) and which contribute genuinely new text.
# source_vocab_overlap answers the SET question (shared types); this
# answers the MASS question (how differently probability mass is
# allocated).  JSD is symmetric, bounded by ln 2, and 0 iff identical.
#
# Decomposition that keeps everything exact until one decimal-squashed
# log sum: for a source pair with unigram probs p, q, words present in
# only ONE source contribute exactly (ln 2)/2 times their mass, so the
# word-level log sum runs over the SHARED vocab only (inner join -- no
# outer-join null lattice) and the disjoint mass is recovered in closed
# form from exact BIGINT count sums:
#     2*JSD = S2_shared + (2 - sa/ta - sb/tb) * ln 2
# Each shared-word term p*ln(2p/(p+q)) + q*ln(2q/(p+q)) >= 0 (a KL
# pair) is a fixed-order double chain over exact-integer ratios (p, q
# are single divisions of BIGINTs; 2p is written p + p so no bare
# double literal differs between engines), quantized to the exact
# integer picogrid (floor(term * 1e12 + 0.5) -- the silhouette lesson:
# a DECIMAL(18,15) cast of a ~0.1-magnitude double is NOT
# engine-portable) per row and summed EXACTLY in DECIMAL(38,0), so
# shuffle order cannot perturb a pair's divergence.  No product of corpus-sized
# totals is ever formed, so nothing overflows at 100 TB token counts.
#
# Scale shape: per-(source, word) counts are one combinable groupBy off
# the token stream; the shared-vocab join is a word equi-join producing
# <= |sources|^2/2 rows per word (sources are bounded metadata
# cardinality, like event types); the pair rollup has |sources|^2/2
# groups.  No windows, no outer joins, no driver data paths.
# ---------------------------------------------------------------------------


def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        tokens_df(docs, keep=("source",))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = cnt.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("tot"))
    a = cnt.select(
        F.col("source").alias("source_a"), "word", F.col("cnt").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("source_b"), "word", F.col("cnt").alias("cb")
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("tot").alias("ta"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("tot").alias("tb"))
    # SHUFFLE_HASH, not auto-broadcast: both sides are per-source VOCAB
    # tables -- corpus-growing under Heaps' law, exactly the side the
    # r11 sf0.1 sweep caught OOMing a long-lived driver when broadcast
    # (dedup_method_eval class).  The bounded sides (per-source totals)
    # stay explicit broadcasts below.
    shared = (
        a.join(b.hint("shuffle_hash"), "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .withColumn("p", F.col("ca").cast("double") / F.col("ta").cast("double"))
        .withColumn("q", F.col("cb").cast("double") / F.col("tb").cast("double"))
    )
    # exact integer picogrid quantization BEFORE the cross-row sum:
    # floor(term * 1e12 + 0.5) is the same double->int everywhere, while
    # a DECIMAL(18,15) cast of a ~0.1-magnitude double is NOT (engines
    # route double->decimal through different representations; measured
    # 0.56% divergence on random doubles -- the silhouette lesson)
    term = F.floor(
        (
            F.col("p")
            * F.log((F.col("p") + F.col("p")) / (F.col("p") + F.col("q")))
            + F.col("q")
            * F.log((F.col("q") + F.col("q")) / (F.col("p") + F.col("q")))
        )
        * F.lit(1000000000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    pair_stats = shared.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_words"),
        F.sum("ca").cast("bigint").alias("sa"),
        F.sum("cb").cast("bigint").alias("sb"),
        F.sum(term.cast("decimal(38,0)")).alias("s2"),
    )
    pairs = ta.crossJoin(F.broadcast(tb)).filter(
        F.col("source_a") < F.col("source_b")
    )
    two = F.lit(2).cast("double")
    ln2 = F.log(F.lit(2).cast("double"))
    full = (
        pairs.join(F.broadcast(pair_stats), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.col("ta").alias("tokens_a"),
            F.col("tb").alias("tokens_b"),
            F.coalesce(F.col("n_shared_words"), F.lit(0).cast("bigint")).alias(
                "n_shared_words"
            ),
            F.coalesce(F.col("sa"), F.lit(0).cast("bigint")).alias("shared_cnt_a"),
            F.coalesce(F.col("sb"), F.lit(0).cast("bigint")).alias("shared_cnt_b"),
            (
                (
                    F.coalesce(
                        F.col("s2").cast("double"), F.lit(0).cast("double")
                    )
                    / F.lit(1000000000000.0)
                    + (
                        two
                        - F.coalesce(F.col("sa"), F.lit(0).cast("bigint")).cast(
                            "double"
                        )
                        / F.col("ta").cast("double")
                        - F.coalesce(F.col("sb"), F.lit(0).cast("bigint")).cast(
                            "double"
                        )
                        / F.col("tb").cast("double")
                    )
                    * ln2
                )
                / two
            ).alias("jsd_nats"),
        )
        .withColumn("jsd_bits", F.col("jsd_nats") / ln2)
    )
    return full.orderBy("source_a", "source_b")


JS_DIVERGENCE_ORACLE = f"""
    WITH {DUCKDB_TOKS_CTE},
    cnt AS (
        SELECT d.source, w AS word, CAST(count(*) AS BIGINT) AS cnt
        FROM toks JOIN documents d USING (doc_id), unnest(ts) t(w)
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM cnt GROUP BY 1
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               a.cnt AS ca, b.cnt AS cb, ta.tot AS ta, tb.tot AS tb,
               CAST(a.cnt AS DOUBLE) / CAST(ta.tot AS DOUBLE) AS p,
               CAST(b.cnt AS DOUBLE) / CAST(tb.tot AS DOUBLE) AS q
        FROM cnt a
        JOIN cnt b ON a.word = b.word AND a.source < b.source
        JOIN tot ta ON ta.source = a.source
        JOIN tot tb ON tb.source = b.source
    ),
    pair_stats AS (
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS n_shared_words,
               CAST(sum(ca) AS BIGINT) AS sa,
               CAST(sum(cb) AS BIGINT) AS sb,
               sum(CAST(CAST(floor((p * ln((p + p) / (p + q))
                        + q * ln((q + q) / (p + q)))
                        * 1000000000000.0e0 + 0.5e0) AS BIGINT)
                   AS DECIMAL(38,0))) AS s2
        FROM shared GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.source AS source_a, a.tot AS ta,
               b.source AS source_b, b.tot AS tb
        FROM tot a JOIN tot b ON a.source < b.source
    )
    SELECT source_a, source_b, tokens_a, tokens_b, n_shared_words,
           shared_cnt_a, shared_cnt_b, jsd_nats,
           jsd_nats / ln(CAST(2 AS DOUBLE)) AS jsd_bits
    FROM (
        SELECT p.source_a, p.source_b,
               p.ta AS tokens_a, p.tb AS tokens_b,
               coalesce(s.n_shared_words, CAST(0 AS BIGINT)) AS n_shared_words,
               coalesce(s.sa, CAST(0 AS BIGINT)) AS shared_cnt_a,
               coalesce(s.sb, CAST(0 AS BIGINT)) AS shared_cnt_b,
               (coalesce(CAST(s.s2 AS DOUBLE), CAST(0 AS DOUBLE))
                / 1000000000000.0e0
                + (CAST(2 AS DOUBLE)
                   - CAST(coalesce(s.sa, CAST(0 AS BIGINT)) AS DOUBLE)
                     / CAST(p.ta AS DOUBLE)
                   - CAST(coalesce(s.sb, CAST(0 AS BIGINT)) AS DOUBLE)
                     / CAST(p.tb AS DOUBLE))
                  * ln(CAST(2 AS DOUBLE)))
               / CAST(2 AS DOUBLE) AS jsd_nats
        FROM pairs p
        LEFT JOIN pair_stats s
               ON s.source_a = p.source_a AND s.source_b = p.source_b
    )
    ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth V(n) ~ K * n^beta over the corpus --
# the curation primitive behind "how much NEW vocabulary does the next
# shard of data buy", the capacity planner for tokenizer vocab budgets
# (vocab_coverage_curve answers coverage at FIXED corpus; this predicts
# growth as the corpus scales).
#
# The classic formulation needs a document ARRIVAL ORDER and a running
# distinct count -- a global sort + partitionless window, banned here.
# Heaps' law holds for ANY fixed order, so the arrival order is the
# md5 hash order of doc_id, bucketed to 256 lanes by the first two hex
# digits: checkpoint membership becomes a pure per-row predicate (no
# sort), a word's first arrival is min(bucket) (combinable), and the
# cumulative curve is a running sum over the BOUNDED 256-row bucket
# histogram.  16 checkpoints at every 16th bucket give the fit points;
# ln-ln OLS runs as four 0.0-seeded ordered folds over the
# checkpoint-sorted 16-element array (the kruskal discipline) so both
# engines add the same 16 doubles in the same order.  The fitted
# (beta, K) ride every checkpoint row.
#
# Scale shape: two combinable aggregates over the token stream (bucket
# token totals, per-word min bucket), one 256-row histogram window, one
# 16-row fold.  Nothing grows with the corpus except the two aggregates.
# ---------------------------------------------------------------------------

HEAPS_BUCKETS = 256
HEAPS_CUTS = 16  # checkpoint every HEAPS_BUCKETS / HEAPS_CUTS buckets

# engine-shared bucket expression: first two md5 hex digits of the
# doc_id rendered in decimal -- instr-based (DuckDB lacks conv())
_HEAPS_BUCKET_SQL = (
    f"(instr('{{hex}}', substring(md5(CAST(doc_id AS {{str_t}})), 1, 1)) - 1) * 16"
    f" + instr('{{hex}}', substring(md5(CAST(doc_id AS {{str_t}})), 2, 1)) - 1"
)


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import HEX_DIGITS

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        _HEAPS_BUCKET_SQL.format(hex=HEX_DIGITS, str_t="STRING")
    ).cast("int")
    doc_level = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tok"),
        tokenize(F.col("text")).alias("ts"),
    )
    btok = doc_level.groupBy("bucket").agg(
        F.sum("n_tok").cast("bigint").alias("toks")
    )
    bvoc = (
        doc_level.select("bucket", F.explode("ts").alias("word"))
        .groupBy("word")
        .agg(F.min("bucket").alias("first_bucket"))
        .groupBy(F.col("first_bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_words"))
    )
    grid = spark.range(HEAPS_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        grid.join(F.broadcast(btok), "bucket", "left")
        .join(F.broadcast(bvoc), "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("toks"), F.lit(0).cast("bigint")).alias("toks"),
            F.coalesce(F.col("new_words"), F.lit(0).cast("bigint")).alias(
                "new_words"
            ),
        )
        .select(
            "bucket",
            F.sum("toks").over(w_cum).cast("bigint").alias("cum_tokens"),
            F.sum("new_words").over(w_cum).cast("bigint").alias("cum_vocab"),
        )
    )
    step = HEAPS_BUCKETS // HEAPS_CUTS
    chk = cum.filter((F.col("bucket") + 1) % step == 0).select(
        ((F.col("bucket") + 1) / step).cast("int").alias("checkpoint"),
        "cum_tokens",
        "cum_vocab",
    )
    pts = chk.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).select(
        "checkpoint",
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
    )
    folded = (
        pts.select(
            F.struct(
                F.col("checkpoint").alias("k"), F.col("x"), F.col("y")
            ).alias("pt")
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_fit_points"),
            F.array_sort(F.collect_list("pt")).alias("pts"),
        )
        .select(
            "n_fit_points",
            F.aggregate("pts", F.lit(0.0), lambda a, p: a + p["x"]).alias("sx"),
            F.aggregate("pts", F.lit(0.0), lambda a, p: a + p["y"]).alias("sy"),
            F.aggregate(
                "pts", F.lit(0.0), lambda a, p: a + p["x"] * p["x"]
            ).alias("sxx"),
            F.aggregate(
                "pts", F.lit(0.0), lambda a, p: a + p["x"] * p["y"]
            ).alias("sxy"),
        )
    )
    nd = F.col("n_fit_points").cast("double")
    fit = (
        folded.withColumn("den", nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        .withColumn(
            "heaps_beta",
            F.when(
                F.col("den") != 0,
                (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / F.col("den"),
            ),
        )
        .withColumn(
            "heaps_lnk",
            F.when(
                F.col("den") != 0,
                (F.col("sy") - F.col("heaps_beta") * F.col("sx")) / nd,
            ),
        )
        .select(
            "n_fit_points",
            "heaps_beta",
            "heaps_lnk",
            F.round(F.exp(F.col("heaps_lnk")), 6).alias("heaps_k"),
        )
    )
    return (
        chk.crossJoin(F.broadcast(fit))
        .select(
            "checkpoint",
            "cum_tokens",
            "cum_vocab",
            "n_fit_points",
            "heaps_beta",
            "heaps_lnk",
            "heaps_k",
        )
        .orderBy("checkpoint")
    )


def _heaps_oracle() -> str:
    from ..functions.hashing import HEX_DIGITS

    bucket = _HEAPS_BUCKET_SQL.format(hex=HEX_DIGITS, str_t="VARCHAR")
    step = HEAPS_BUCKETS // HEAPS_CUTS
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {lst}),"
        " (a, b) -> a + b)"
    )
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    doc_level AS (
        SELECT doc_id, CAST({bucket} AS INTEGER) AS bucket,
               CAST(len(ts) AS BIGINT) AS n_tok, ts
        FROM toks
    ),
    btok AS (
        SELECT bucket, CAST(sum(n_tok) AS BIGINT) AS toks
        FROM doc_level GROUP BY 1
    ),
    bvoc AS (
        SELECT first_bucket AS bucket, CAST(count(*) AS BIGINT) AS new_words
        FROM (
            SELECT w AS word, min(bucket) AS first_bucket
            FROM doc_level, unnest(ts) t(w)
            GROUP BY 1
        ) GROUP BY 1
    ),
    grid AS (SELECT CAST(i AS INTEGER) AS bucket FROM range({HEAPS_BUCKETS}) t(i)),
    cum AS (
        SELECT g.bucket,
               CAST(sum(coalesce(bt.toks, 0)) OVER (
                   ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens,
               CAST(sum(coalesce(bv.new_words, 0)) OVER (
                   ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_vocab
        FROM grid g
        LEFT JOIN btok bt ON bt.bucket = g.bucket
        LEFT JOIN bvoc bv ON bv.bucket = g.bucket
    ),
    chk AS (
        SELECT CAST((bucket + 1) / {step} AS INTEGER) AS checkpoint,
               cum_tokens, cum_vocab
        FROM cum WHERE (bucket + 1) % {step} = 0
    ),
    pts AS (
        SELECT checkpoint,
               ln(CAST(cum_tokens AS DOUBLE)) AS x,
               ln(CAST(cum_vocab AS DOUBLE)) AS y
        FROM chk WHERE cum_tokens > 0 AND cum_vocab > 0
    ),
    folded AS (
        SELECT CAST(count(*) AS INTEGER) AS n_fit_points,
               {fold.format(lst="list(x ORDER BY checkpoint)")} AS sx,
               {fold.format(lst="list(y ORDER BY checkpoint)")} AS sy,
               {fold.format(lst="list(x * x ORDER BY checkpoint)")} AS sxx,
               {fold.format(lst="list(x * y ORDER BY checkpoint)")} AS sxy
        FROM pts
    ),
    fit AS (
        SELECT n_fit_points, heaps_beta,
               CASE WHEN den <> 0
                    THEN (sy - heaps_beta * sx) / CAST(n_fit_points AS DOUBLE)
               END AS heaps_lnk
        FROM (
            SELECT n_fit_points, sx, sy, sxy, den,
                   CASE WHEN den <> 0
                        THEN (CAST(n_fit_points AS DOUBLE) * sxy - sx * sy)
                             / den
                   END AS heaps_beta
            FROM (
                SELECT *,
                       CAST(n_fit_points AS DOUBLE) * sxx - sx * sx AS den
                FROM folded
            )
        )
    )
    SELECT checkpoint, cum_tokens, cum_vocab, n_fit_points,
           heaps_beta, heaps_lnk, round(exp(heaps_lnk), 6) AS heaps_k
    FROM chk CROSS JOIN fit
    ORDER BY checkpoint
"""


HEAPS_LAW_ORACLE = _heaps_oracle()


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (Rose et al. 2010, "Automatic keyword
# extraction from individual documents") -- the unsupervised keyphrase
# layer above tf-idf's single terms: candidate phrases are maximal runs
# of non-stopword tokens (split at stopwords), each word scores
# degree/frequency (degree = summed length of every phrase it appears
# in -- within-phrase co-occurrence), and a phrase scores the sum of
# its member word scores.  Output: the corpus top-K phrases.
#
# Determinism: phrase segmentation is integer window cumsum of the
# stopword indicator; word scores are ONE exact-integer division; each
# occurrence's phrase score is an ordered fold (by token position) of
# those identical doubles, so every occurrence of the same phrase text
# folds the same sequence -- bit-equal in both engines; top-K ordering
# ties break on phrase text.
#
# Scale: the token stream explodes once; segmentation and phrase-length
# windows are doc-partitioned; word scores are one combinable groupBy
# over the vocab; the phrase rollup shuffles on phrase text; top-K is
# TakeOrderedAndProject (no global sort materialization).  Per-phrase
# collect_list is bounded by document length -- the per-doc array
# posture every tokenizer op shares.
# ---------------------------------------------------------------------------

RAKE_TOP_K = 32


def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_with_pos(docs)
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = toks.select(
        "doc_id",
        "pos",
        "word",
        F.sum(F.when(F.col("word").isin(EN_STOPS), 1).otherwise(0))
        .over(w_cum)
        .cast("bigint")
        .alias("phrase_id"),
    ).filter(~F.col("word").isin(EN_STOPS))
    w_len = Window.partitionBy("doc_id", "phrase_id")
    members = seg.select(
        "doc_id",
        "phrase_id",
        "pos",
        "word",
        F.count(F.lit(1)).over(w_len).cast("bigint").alias("phrase_len"),
    )
    word_scores = (
        members.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("phrase_len").cast("bigint").alias("degree"),
        )
        .select(
            "word",
            (
                F.col("degree").cast("double") / F.col("freq").cast("double")
            ).alias("wscore"),
        )
    )
    occ = (
        members.join(word_scores, "word")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "word", "wscore"))
            ).alias("mem")
        )
        .select(
            F.concat_ws(
                " ", F.transform("mem", lambda s: s["word"])
            ).alias("phrase"),
            F.size("mem").cast("bigint").alias("n_words"),
            F.aggregate(
                F.transform("mem", lambda s: s["wscore"]),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ).alias("occ_score"),
        )
    )
    phrases = occ.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.max("occ_score").alias("score"),
    )
    return phrases.orderBy(F.desc("score"), "phrase").limit(RAKE_TOP_K)


def _rake_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in EN_STOPS)
    return f"""
    WITH {DUCKDB_TOKS_CTE},
    tok AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS word
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
    ),
    seg AS (
        SELECT doc_id, pos, word,
               CAST(sum(CASE WHEN word IN ({stops}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS phrase_id
        FROM tok
    ),
    mem AS (
        SELECT doc_id, phrase_id, pos, word,
               CAST(count(*) OVER (PARTITION BY doc_id, phrase_id)
                    AS BIGINT) AS phrase_len
        FROM seg WHERE word NOT IN ({stops})
    ),
    ws AS (
        SELECT word,
               CAST(sum(phrase_len) AS BIGINT) AS degree,
               CAST(count(*) AS BIGINT) AS freq
        FROM mem GROUP BY 1
    ),
    occ AS (
        SELECT m.doc_id, m.phrase_id,
               string_agg(m.word, ' ' ORDER BY m.pos) AS phrase,
               CAST(count(*) AS BIGINT) AS n_words,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   array_agg(CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE)
                             ORDER BY m.pos)),
                   (acc, x) -> acc + x) AS occ_score
        FROM mem m JOIN ws USING (word)
        GROUP BY 1, 2
    ),
    ph AS (
        SELECT phrase, n_words,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               max(occ_score) AS score
        FROM occ GROUP BY 1, 2
    )
    SELECT phrase, n_words, n_occurrences, score
    FROM ph
    ORDER BY score DESC, phrase
    LIMIT {RAKE_TOP_K}
"""


RAKE_ORACLE = _rake_oracle()


TEXT_ANALYSIS_QUERIES: list[tuple[str, object, str | None]] = [
    ("rake_keyphrases", rake_keyphrases, RAKE_ORACLE),
    ("mcnemar_gate_test", mcnemar_gate_test, MCNEMAR_ORACLE),
    (
        "js_divergence_sources",
        js_divergence_sources,
        JS_DIVERGENCE_ORACLE,
    ),
    ("heaps_law_fit", heaps_law_fit, HEAPS_LAW_ORACLE),
    ("shard_balance_audit", shard_balance_audit, SHARD_BALANCE_ORACLE),
    (
        "conformal_quality_threshold",
        conformal_quality_threshold,
        CONFORMAL_ORACLE,
    ),
    ("pii_rate_by_source", pii_rate_by_source, PII_BY_SOURCE_ORACLE),
    (
        "vocab_oov_rate_by_source",
        vocab_oov_rate_by_source,
        VOCAB_OOV_ORACLE,
    ),
    (
        "langid_mismatch_by_source",
        langid_mismatch_by_source,
        LANGID_MISMATCH_ORACLE,
    ),
    ("eval_decontam_funnel", eval_decontam_funnel, DECONTAM_FUNNEL_ORACLE),
    ("nb_langid_confusion", nb_langid_confusion, NB_LANGID_ORACLE),
    ("cochran_q_test", cochran_q_test, COCHRAN_Q_ORACLE),
    ("good_turing_smoothing", good_turing_smoothing, GOOD_TURING_ORACLE),
    (
        "char_trigram_lang_profile",
        char_trigram_lang_profile,
        CHAR_TRIGRAM_ORACLE,
    ),
    ("kn_continuation_probs", kn_continuation_probs, KN_CONTINUATION_ORACLE),
    ("tfidf_topk_terms", tfidf_topk_terms, TFIDF_TOPK_ORACLE),
    ("bm25_topk_docs", bm25_topk_docs, BM25_ORACLE),
    ("rm3_expansion_terms", rm3_expansion_terms, RM3_ORACLE),
    ("dirichlet_ql_topk_docs", dirichlet_ql_topk_docs, DIRICHLET_QL_ORACLE),
    ("text_normalize", text_normalize, NORMALIZE_ORACLE),
    ("text_langid", text_langid, LANGID_ORACLE),
    ("text_quality_score", text_quality_score, QUALITY_ORACLE),
    ("token_count_stats", token_count_stats, TOKEN_COUNT_ORACLE),
    ("doc_fingerprint", doc_fingerprint, FINGERPRINT_ORACLE),
    ("text_tfidf", text_tfidf, TFIDF_ORACLE),
    ("text_bigrams", text_bigrams, BIGRAMS_ORACLE),
    ("text_sentiment", text_sentiment, SENTIMENT_ORACLE),
    ("contamination_overlap", contamination_overlap, CONTAMINATION_ORACLE),
    ("pii_redaction", pii_redaction, PII_ORACLE),
    ("vocab_table", vocab_table, VOCAB_ORACLE),
    ("vocab_encode_documents", vocab_encode_documents, VOCAB_ENCODE_ORACLE),
    ("text_bigram_coverage", text_bigram_coverage, BIGRAM_COVERAGE_ORACLE),
    ("doc_token_windows", doc_token_windows, DOC_WINDOWS_ORACLE),
    ("token_budget_packing", token_budget_packing, PACKING_ORACLE),
    ("sequence_pack_tokens", sequence_pack_tokens, SEQUENCE_PACK_ORACLE),
    ("text_repetition_filter", text_repetition_filter, REPETITION_ORACLE),
    ("text_unigram_logprob", text_unigram_logprob, UNIGRAM_LOGPROB_ORACLE),
    ("corpus_zipf_stats", corpus_zipf_stats, ZIPF_STATS_ORACLE),
    ("text_bigram_logprob", text_bigram_logprob, BIGRAM_LOGPROB_ORACLE),
    ("dsir_importance_weights", dsir_importance_weights, DSIR_ORACLE),
    ("text_char_entropy", text_char_entropy, CHAR_ENTROPY_ORACLE),
    ("heavy_hitter_words", heavy_hitter_words, HEAVY_HITTER_ORACLE),
    (
        "heavy_hitter_shard_plan",
        heavy_hitter_shard_plan,
        HEAVY_HITTER_SHARD_PLAN_ORACLE,
    ),
    ("cms_width_error_curve", cms_width_error_curve, CMS_WIDTH_ERROR_ORACLE),
    (
        "quality_percentile_by_source",
        quality_percentile_by_source,
        QUALITY_PCT_ORACLE,
    ),
    (
        "repeated_passage_windows",
        repeated_passage_windows,
        REPEATED_PASSAGE_ORACLE,
    ),
    ("exact_substring_dedup", exact_substring_dedup, EXACT_SUBSTRING_ORACLE),
    # K-round corpus rewrite, UNROLLED into one SQL statement (round 13)
    ("bpe_learn_merges", bpe_learn_merges, _bpe_learn_oracle()),
    ("bpe_pair_counts", bpe_pair_counts, BPE_PAIR_ORACLE),
    # iterative hard-EM (segment -> recount -> re-score) -> rows-only;
    # checked against an independent pure-Python unigram LM in pytest
    ("unigram_lm_learn", unigram_lm_learn, None),
    # ... and its one-statement distributed kernel, oracle-checked
    (
        "unigram_piece_candidates",
        unigram_piece_candidates,
        UNIGRAM_CANDIDATES_ORACLE,
    ),
    ("training_shard_manifest", training_shard_manifest, SHARD_MANIFEST_ORACLE),
    ("quality_gate_stack", quality_gate_stack, QUALITY_STACK_ORACLE),
    (
        "perplexity_quality_buckets",
        perplexity_quality_buckets,
        PPL_BUCKETS_ORACLE,
    ),
    # applies the unrolled-learned merge table; also checked against an
    # independent pure-Python BPE in pytest
    ("bpe_encode_documents", bpe_encode_documents, _bpe_encode_oracle()),
    ("c4_style_filter", c4_style_filter, C4_FILTER_ORACLE),
    ("gate_agreement_kappa", gate_agreement_kappa, KAPPA_ORACLE),
    ("source_vocab_overlap", source_vocab_overlap, SOURCE_OVERLAP_ORACLE),
    (
        "tokenizer_fertility_by_lang",
        tokenizer_fertility_by_lang,
        FERTILITY_ORACLE,
    ),
    ("length_bucket_profile", length_bucket_profile, LENGTH_BUCKET_ORACLE),
    ("term_pmi_pairs", term_pmi_pairs, TERM_PMI_ORACLE),
    ("vocab_coverage_curve", vocab_coverage_curve, VOCAB_COVERAGE_ORACLE),
    ("langid_confusion", langid_confusion, LANGID_CONFUSION_ORACLE),
    ("ngram_novelty_curve", ngram_novelty_curve, NOVELTY_CURVE_ORACLE),
    ("quality_score_auc", quality_score_auc, QUALITY_AUC_ORACLE),
    (
        "quality_logit_sufficient_stats",
        quality_logit_sufficient_stats,
        LOGIT_STATS_ORACLE,
    ),
    (
        "quality_score_calibration",
        quality_score_calibration,
        QUALITY_CALIBRATION_ORACLE,
    ),
]
