from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mapreduce_on_google_cloud_platform_spark.operators import wordcount
from mapreduce_on_google_cloud_platform_spark.plans import ORACLES, QUERIES

from mapreduce_on_google_cloud_platform_spark.sources import load_table

from .conftest import REPO, SF_ORACLE, SF_SMOKE
from .oracle import assert_matches_oracle
from .test_tables import _blank_strings_and_comments


@pytest.mark.parametrize(
    "name",
    [
        "wordcount",
        "wordcount_salted",
        "inverted_index",
        "inverted_index_postings",
        "inverted_index_positional",
        "inverted_index_size_estimate",
    ],
)
def test_oracle_parity(spark, name):
    assert_matches_oracle(QUERIES[name](spark, SF_SMOKE), ORACLES[name], SF_SMOKE)


def test_wordcount_total_is_token_count(spark):
    """Multiset stability (FIXTURES.md §2): sum of counts == cleaned tokens."""
    wc = QUERIES["wordcount"](spark, SF_SMOKE)
    total = wc.agg(F.sum("cnt")).collect()[0][0]
    from mapreduce_on_google_cloud_platform_spark.functions.text import tokens_df
    from mapreduce_on_google_cloud_platform_spark.sources import load_table

    n_tokens = tokens_df(load_table(spark, SF_SMOKE, "documents")).count()
    assert total == n_tokens > 0


def test_parallelism_invariance(spark):
    """Reference's implicit property test (SURVEY.md §5): results must be
    invariant to parallelism degrees (its configs vary map/reduce 45 vs 50)."""
    from mapreduce_on_google_cloud_platform_spark.functions.text import tokens_df
    from mapreduce_on_google_cloud_platform_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    base = sorted(
        tokens_df(docs).groupBy("word").count().collect()
    )
    for n in (1, 4, 45):
        got = sorted(
            tokens_df(docs.repartition(n)).groupBy("word").count().collect()
        )
        assert got == base


DOC_KEYED = (
    "inverted_index",
    "inverted_index_postings",
    "inverted_index_positional",
    "inverted_index_map",
    "inverted_index_size_estimate",
)
# other queries that re-spread their input with functions.text.docs_by_id
DOC_RESPREAD = DOC_KEYED + (
    "quality_gate_stack",
    "nb_langid_confusion",
    "multimodal_simhash_neardup",
)
# queries that re-spread a non-document input by key to the same count
KEY_RESPREAD = (
    "fuzzy_part_name_pairs",
    "fellegi_sunter_weights",
    "poisson_bootstrap_ci",
)


def test_doc_partition_count_invariance(spark):
    """These queries repartition their input (documents before
    tokenizing, parts by blocking key, events by hash lane) to
    spark.sql.shuffle.partitions; their rows must not depend on that
    count (one partition, the core count, the reference's 45 map
    workers)."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        got = {}
        for n in (1, 4, 45):
            spark.conf.set(key, str(n))
            got[n] = {
                name: sorted(QUERIES[name](spark, SF_SMOKE).collect())
                for name in DOC_RESPREAD + KEY_RESPREAD
            }
    finally:
        spark.conf.set(key, saved)
    assert all(got[1][name] for name in DOC_RESPREAD + KEY_RESPREAD)
    assert got[1] == got[4] == got[45]


@pytest.mark.parametrize("name", ["tokens_df", "tokens_with_pos"])
def test_kept_columns_match_join_back(spark, name):
    """Columns carried by ``keep`` equal the tokenize-then-join-back form."""
    from mapreduce_on_google_cloud_platform_spark.functions import text

    fn = getattr(text, name)
    docs = load_table(spark, SF_SMOKE, "documents")
    attrs = ("doc_id", "source", "lang")
    carried = fn(docs, keep=attrs)
    joined = fn(docs).join(docs.select(*attrs), "doc_id").select(carried.columns)
    got = sorted(carried.collect())
    assert got and got == sorted(joined.collect())


# Spark spellings that only functions/text.py (tokens, normaliser,
# document re-spread) and functions/hashing.py (md5 prefix) may contain.
_FRONT_END_ONLY = {
    "functions/text.py": [
        r"F\.split\(\s*(?:F\.col\(\s*)?[\"']text[\"']",
        r"explode\(\s*tokenize\(",
        r"\.repartition\((?:[^()]|\([^()]*\))*?\(?\s*[\"']doc_id[\"']",
        r"regexp_replace\(\s*F\.trim\(\s*F\.lower\(",
    ],
    "functions/hashing.py": [r"F\.conv\(\s*F\.substring\(\s*F\.md5\("],
}


def test_text_and_hash_rules_have_one_home():
    """Tokenizing, normalising, re-spreading documents and the md5-prefix
    hash are each spelled once; operators call the shared helpers."""
    pkg = REPO / "mapreduce_on_google_cloud_platform_spark"
    found = []
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        src = py.read_text()
        blank = _blank_strings_and_comments(src)
        for home, patterns in _FRONT_END_ONLY.items():
            if rel == home:
                continue
            for pat in patterns:
                for m in re.finditer(pat, src):
                    if blank[m.start()] != " ":  # match starts in code
                        line = src.count("\n", 0, m.start()) + 1
                        found.append(f"{rel}:{line}: {m.group(0)}")
    assert found == []


def test_tokenizer_rules(spark):
    """Pin the tokenizer contract (FIXTURES.md §1): punctuation deleted not
    split, digits kept, symbol-only tokens dropped, whitespace runs split."""
    df = spark.createDataFrame(
        [(1, "Don't  stop quick-brown end. 42 --- _under_score_ MiXeD\tTAB\nline")],
        "doc_id long, text string",
    )
    from mapreduce_on_google_cloud_platform_spark.functions.text import tokens_df

    words = sorted(r.word for r in tokens_df(df).collect())
    assert words == sorted(
        ["dont", "stop", "quickbrown", "end", "42", "underscore", "mixed", "tab", "line"]
    )


def test_inverted_index_maptype_matches_flat(spark):
    flat = QUERIES["inverted_index"](spark, SF_SMOKE).collect()
    mapped = wordcount.inverted_index_maptype(spark, SF_SMOKE).collect()
    want = {}
    for r in flat:
        want.setdefault(r.word, {})[r.doc_id] = r.cnt
    got = {r.word: dict(r.postings_map) for r in mapped}
    assert got == want


def test_inverted_index_map_json_is_canonical(spark):
    """The declared query renders the map as byte-deterministic JSON:
    entries in doc_id order, so equal maps always serialize identically
    (hashable rows -- the CORRECTNESS_r01 red-row fix)."""
    import json

    rows = QUERIES["inverted_index_map"](spark, SF_SMOKE).collect()
    flat = QUERIES["inverted_index"](spark, SF_SMOKE).collect()
    want = {}
    for r in flat:
        want.setdefault(r.word, {})[r.doc_id] = r.cnt
    for r in rows:
        parsed = json.loads(r.postings_json)
        # JSON object keys are strings; compare against stringified doc_ids
        # and assert numeric (not lexicographic) doc_id ordering.
        assert parsed == {str(k): v for k, v in want[r.word].items()}
        assert list(parsed) == sorted(parsed, key=int)  # doc_id-ordered


def test_index_size_estimate_bounds(spark):
    """Delta-gap model invariants: the estimate never exceeds the flat
    64-bit layout (every gap bitlen <= 64), every bucket holds at least
    2^bucket-df words, and the ratio restates the integer columns."""
    rows = QUERIES["inverted_index_size_estimate"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r.est_index_bits <= r.flat_index_bits
        assert r.flat_index_bits == 64 * r.n_postings
        assert r.n_postings >= r.n_words * (1 << r.df_bucket)
        assert r.compression_ratio == r.est_index_bits / r.flat_index_bits


def test_reference_text_sink(spark):
    df = spark.createDataFrame([("fox", 17)], "word string, cnt long")
    lines = [r.line for r in wordcount.reference_text_sink(df).collect()]
    assert lines == ["fox - [17]"]


@pytest.mark.slow
def test_oracle_parity_sf001(spark):
    for name in ("wordcount", "inverted_index_postings", "inverted_index_positional"):
        assert_matches_oracle(QUERIES[name](spark, SF_ORACLE), ORACLES[name], SF_ORACLE)
