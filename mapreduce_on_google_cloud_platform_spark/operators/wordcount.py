"""Reference-parity queries: word count and inverted document index.

The reference implements these as a full MapReduce pipeline (tokenize on
the master -> chunk -> map workers -> centralized hash partition + sort on
one node -> streaming sort-group reduce -> text sink; SURVEY.md §2 O1-O15,
``/root/reference/MapReduce.py:25-49`` for the map/reduce fns).  In Spark
each collapses to a handful of declarative ops, and crucially gains
**map-side partial aggregation** -- the reference has no combiner, so every
token crosses the network; here `groupBy.count` emits one partial row per
(partition, word) before the shuffle, which is the difference between
shuffling O(tokens) and O(distinct words) at 100 TB.

The doc-keyed queries (every ``inverted_index*``: the next key after the
tokenizer contains ``doc_id``) tokenize ``docs_by_id(docs)``: the raw
text is hash-partitioned on doc_id once, which already satisfies
groupBy(word, doc_id) and the positional index's doc window, so no token
or (word, doc) partial row is shuffled before the first aggregate and
the tokenizer runs as spark.sql.shuffle.partitions tasks rather than
one per parquet row group.  ``word_count`` and ``word_count_salted`` key
on word alone; a doc shuffle there would only add bytes ahead of the
word shuffle, so they tokenize the scan as it is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    DUCKDB_TOKS_CTE,
    docs_by_id,
    duckdb_tokens_sql,
    tokens_df,
    tokens_with_pos,
)
from ..sources import load_table


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT word, SUM(cnt) GROUP BY word -- cross-document totals.

    Parity: ``map_wc``/``reduce_wc`` (``MapReduce.py:25-30,42-49``).
    """
    docs = load_table(spark, sf_dir, "documents")
    return tokens_df(docs).groupBy("word").agg(F.count("*").alias("cnt"))


def word_count_oracle() -> str:
    return f"""
        SELECT word, count(*) AS cnt
        FROM ({duckdb_tokens_sql()}) t
        GROUP BY word
    """


def word_count_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through an explicit two-stage salted aggregation:
    partial counts on (word, salt) with salt = pmod(xxhash64(doc, word), 16),
    then the final sum on word alone.

    Identical result to ``word_count`` (same oracle) -- the point is the
    PLAN: when one key dominates (a stop-word at 100 TB), a single
    groupBy leaves one reducer holding the hot key's entire partial
    stream; the salt splits that key 16 ways in stage one so no single
    task sees more than ~1/16th of it.  This is the manual fallback when
    AQE's skew handling can't apply (skewed *aggregation*, not join).
    Salt choice must be a function of the ROW (not rand()) so the plan
    stays deterministic and re-runnable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    salted = toks.select(
        "word",
        F.pmod(F.xxhash64("doc_id", "word"), F.lit(16)).alias("_salt"),
    )
    return (
        salted.groupBy("word", "_salt")
        .agg(F.count("*").alias("_partial"))
        .groupBy("word")
        .agg(F.sum("_partial").cast("bigint").alias("cnt"))
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted document index, flat relational form: (word, doc_id, cnt).

    Parity: ``map_id``/``reduce_id`` (``MapReduce.py:32-41``) -- the
    reference's ``{doc: count}`` accumulator is exactly a nested GROUP BY
    (word, doc); the flat form is the canonical, order-insensitive result.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        tokens_df(docs_by_id(docs))
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("cnt"))
    )


def inverted_index_oracle() -> str:
    return f"""
        SELECT word, doc_id, cnt
        FROM (
            SELECT word, doc_id, count(*) AS cnt
            FROM ({duckdb_tokens_sql()}) t
            GROUP BY word, doc_id
        )
    """


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index, one row per word with a canonical postings string
    ``"doc:cnt,doc:cnt,..."`` sorted by doc_id.

    This is the reference's per-word ``{doc: count}`` map rendered in a
    deterministic order (its dict key order was hash-seed-dependent,
    SURVEY.md §4 defect 8).  A string, not MapType, so the DuckDB oracle
    hashes it identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        tokens_df(docs_by_id(docs))
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_doc.groupBy("word")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "cnt"))),
                    lambda s: F.concat_ws(":", s["doc_id"], s["cnt"]),
                ),
                ",",
            ).alias("postings"),
            F.sum("cnt").alias("total_cnt"),
        )
    )


def inverted_index_postings_oracle() -> str:
    return f"""
        SELECT word,
               string_agg(doc_id || ':' || cnt, ',' ORDER BY doc_id) AS postings,
               CAST(sum(cnt) AS BIGINT) AS total_cnt
        FROM (
            SELECT word, doc_id, count(*) AS cnt
            FROM ({duckdb_tokens_sql()}) t
            GROUP BY word, doc_id
        )
        GROUP BY word
    """


def inverted_index_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index: (word, doc) -> occurrence count, first
    position, and the full comma-joined position list (1-based, dense
    over the cleaned token stream) — what phrase/proximity search needs
    beyond the reference's count-only postings (``MapReduce.py:32-41``).

    One window pass densifies the sparse raw-split order key into token
    ordinals, then a single groupBy builds every posting; the position
    list is order-proofed by sorting the collected array, never by
    relying on shuffle arrival order.  Postings length is bounded by
    per-document occurrences (not corpus size), so collect_list is safe
    at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = tokens_with_pos(docs_by_id(docs))
    w = Window.partitionBy("doc_id").orderBy("pos")
    dense = toks.select(
        "doc_id", "word", F.row_number().over(w).alias("p")
    )
    return dense.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("p").cast("int").alias("first_pos"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("p")), lambda p: p.cast("string")
            ),
            ",",
        ).alias("positions"),
    )


def inverted_index_positional_oracle() -> str:
    return f"""
        WITH {DUCKDB_TOKS_CTE}
        SELECT ts[i] AS word, doc_id,
               count(*) AS n_occurrences,
               CAST(min(i) AS INTEGER) AS first_pos,
               string_agg(CAST(i AS VARCHAR), ',' ORDER BY i) AS positions
        FROM toks, unnest(range(1, len(ts) + 1)) t(i)
        GROUP BY 1, 2
    """


def inverted_index_maptype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library form of the inverted index in the reference's native shape:
    word -> map<doc,cnt> (``MapReduce.py:32-41``'s ``{doc: count}``
    accumulator as a real MapType column).

    Entries are inserted in doc_id order (map_from_entries over a sorted
    array) so downstream renderings are deterministic, unlike the
    reference's hash-seed-dependent dict order (SURVEY.md §4 defect 8).
    Unit-tested order-insensitively; not directly declared to the driver
    because MapType/array rows are unhashable in pandas-side canonicalizers
    -- ``inverted_index_map`` below is the declared, hashable rendering.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        tokens_df(docs_by_id(docs))
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("cnt"))
        .groupBy("word")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("doc_id", "cnt")))
            ).alias("postings_map")
        )
    )


def inverted_index_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared twin of ``inverted_index_maptype``: the same MapType plan,
    rendered to one canonical JSON string per word for transport.

    The plan genuinely builds the map (map_from_entries over a sorted
    entry array -- Catalyst does not elide it under to_json), then
    serializes it, because bare MapType rows crash hash-based comparators
    (pandas ``factorize`` raises ``unhashable type: 'dict'`` -- the one
    red row of CORRECTNESS_r01).  Sorted insertion makes the JSON byte-
    deterministic, so a DuckDB string_agg oracle can match it exactly.
    """
    return inverted_index_maptype(spark, sf_dir).select(
        "word", F.to_json(F.col("postings_map")).alias("postings_json")
    )


def inverted_index_map_oracle() -> str:
    return f"""
        SELECT word,
               '{{' || string_agg('"' || doc_id || '":' || cnt, ',' ORDER BY doc_id) || '}}'
                   AS postings_json
        FROM (
            SELECT word, doc_id, count(*) AS cnt
            FROM ({duckdb_tokens_sql()}) t
            GROUP BY word, doc_id
        )
        GROUP BY word
    """


def inverted_index_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoded size estimate of the inverted index, per
    power-of-two document-frequency bucket -- the planner statistic
    behind "can this index fit in memory / how much does gap compression
    buy" for the reference's own data structure (``MapReduce.py:32-41``
    builds exactly this word -> {doc: cnt} map, at dict-of-dict cost).

    Model, per word over its DISTINCT posting docs: the first posting is
    stored absolute (bitlen(min_doc + 1) bits), each of the remaining
    df - 1 postings costs bitlen(mean_gap) bits, where mean_gap is the
    exact integer (max_doc - min_doc) div (df - 1).  Everything stays on
    the integer lattice (bitlen = length(bin(x)), the same primitive as
    shingle_df_profile's buckets); the only double is the final single
    division vs the 64-bit-per-posting flat layout.

    Scale shape: one groupBy word (min/max/count only -- NO per-posting
    window, so a stopword's million-doc posting list never serializes
    through one task), then a bucket rollup over <= 64 df-bucket rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        tokens_df(docs_by_id(docs))
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_word = postings.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    mean_gap = F.when(
        F.col("df") > 1,
        F.greatest(
            F.expr("(max_doc - min_doc) div (df - 1)"), F.lit(1).cast("bigint")
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    bitlen_first = (F.length(F.bin(F.col("min_doc") + 1))).cast("bigint")
    est_bits = bitlen_first + F.when(
        F.col("df") > 1,
        (F.col("df") - 1) * F.length(F.bin(mean_gap)).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    sized = per_word.select(
        (F.length(F.bin(F.col("df"))) - 1).cast("int").alias("df_bucket"),
        "df",
        est_bits.alias("est_bits"),
    )
    ratio = F.col("est_index_bits").cast("double") / F.col("flat_index_bits")
    return (
        sized.groupBy("df_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("df").cast("bigint").alias("n_postings"),
            F.sum("est_bits").cast("bigint").alias("est_index_bits"),
            (F.sum("df") * 64).cast("bigint").alias("flat_index_bits"),
        )
        .select(
            "df_bucket",
            "n_words",
            "n_postings",
            "est_index_bits",
            "flat_index_bits",
            ratio.alias("compression_ratio"),
        )
        .orderBy("df_bucket")
    )


def inverted_index_size_estimate_oracle() -> str:
    return f"""
        WITH postings AS (
            SELECT word, doc_id
            FROM ({duckdb_tokens_sql()}) t
            GROUP BY word, doc_id
        ),
        per_word AS (
            SELECT word,
                   CAST(count(*) AS BIGINT) AS df,
                   min(doc_id) AS min_doc,
                   max(doc_id) AS max_doc
            FROM postings GROUP BY word
        ),
        sized AS (
            SELECT CAST(length(printf('%b', df)) - 1 AS INTEGER) AS df_bucket,
                   df,
                   CAST(length(printf('%b', min_doc + 1)) AS BIGINT)
                   + CASE WHEN df > 1
                          THEN (df - 1) * CAST(length(printf('%b',
                               greatest((max_doc - min_doc) // (df - 1), 1)))
                               AS BIGINT)
                          ELSE 0 END AS est_bits
            FROM per_word
        )
        SELECT df_bucket,
               count(*) AS n_words,
               CAST(sum(df) AS BIGINT) AS n_postings,
               CAST(sum(est_bits) AS BIGINT) AS est_index_bits,
               CAST(sum(df) * 64 AS BIGINT) AS flat_index_bits,
               CAST(sum(est_bits) AS DOUBLE) / (sum(df) * 64)
                   AS compression_ratio
        FROM sized
        GROUP BY df_bucket
        ORDER BY df_bucket
    """


def reference_text_sink(df: DataFrame) -> DataFrame:
    """Demo utility: render (word, cnt) rows as the reference's text-sink
    lines ``"<word> - [<value>]"`` (``KeyValueStore.py:27-32``).  The
    reference's bare-value last-line quirk (``MapReduce.py:158-159``,
    SURVEY.md §4 defect 7) is a bug, not reproduced.
    """
    cols = df.columns
    value = F.col(cols[1])
    return df.select(
        F.concat(F.col(cols[0]), F.lit(" - ["), value.cast("string"), F.lit("]")).alias("line")
    )
