"""The one text front end: every Spark token stream, text normaliser and
document re-spread in the package comes from this module.

Entry points (no operator re-implements them):

* ``clean_token``: lower + strip non-``[0-9a-z]`` of one raw token.
* ``tokenize``: text -> array of cleaned tokens, for callers that need
  the array itself (sizes, joins back into a string).
* ``tokens_df`` / ``tokens_with_pos``: documents -> one row per cleaned
  token, carrying the ``keep`` columns (and the split position).
* ``docs_by_id``: documents hash-partitioned on ``doc_id`` before a
  doc-keyed tokenize.
* ``normalize_text``: the whitespace-normalised lowercase content key of
  exact dedup.

Reference semantics (``/root/reference/master.py:58-62``):
  1. split on any whitespace (``str.split()``)
  2. lowercase
  3. delete every char matching ``[\\W_]+`` from the token -- punctuation is
     removed, NOT a split point (``Don't`` -> ``dont``, ``quick-brown`` ->
     ``quickbrown``); digits survive.

Two deliberate deviations, pinned here as the single source of truth:

* The character class is the explicit ASCII ``[^0-9a-z]`` (applied after
  lowercasing) rather than Python's unicode-aware ``\\W``.  Java regex,
  RE2 (DuckDB) and Python all agree on this class, so the Spark plan and
  the DuckDB oracle tokenize identically (SURVEY.md §7 risk (b)).
* Tokens that clean to the empty string are dropped.  The reference counts
  them but its streaming group-by restarts the group on every empty key
  (``MapReduce.py:147``, SURVEY.md §4 defect 6) -- the behavior was a bug,
  not a contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_partitions

# Applied AFTER lower(); deletes everything that is not [0-9a-z].
TOKEN_CLEAN_RE = "[^0-9a-z]"
# str.split() splits on any whitespace run.
TOKEN_SPLIT_RE = r"\s+"


def clean_token(col: Column) -> Column:
    """lower + strip non-alphanumerics (reference O3+O4 as one expression)."""
    return F.regexp_replace(F.lower(col), TOKEN_CLEAN_RE, "")


def tokenize(text: Column) -> Column:
    """text -> array<string> of cleaned, non-empty tokens (O2-O4), for
    callers that need the array itself.

    Kept as the transform/filter lambda form DELIBERATELY (optimization
    round 12): an equivalent scalar chain (lower -> delete non-[0-9a-z\\s]
    -> trim -> collapse \\s+ -> split(' ')) was built, proven bit-equal
    on a 2,027-case adversarial differential AND the full-registry
    oracle sweep, and then MEASURED SLOWER -- 84.0 s vs 53.7 s summed
    over the 25 tokenize-consuming headline queries at sf0.1: three
    whole-document regexp passes per reference cost more than the
    per-token lambda interpretation they replace.  Rewrites that DID
    win (winnowing_fingerprints, shingles_df) drop the array form for
    the ``tokens_with_pos`` row stream + lead windows; do that, not a
    tokenize() swap, when a consumer shows up hot."""
    return F.filter(
        F.transform(F.split(text, TOKEN_SPLIT_RE), clean_token),
        lambda w: w != F.lit(""),
    )


def normalize_text(text: Column) -> Column:
    """lower + trim + collapse whitespace runs to one space: the content
    key exact dedup hashes (``dedup_exact``, ``doc_fingerprint``, the
    curation pipeline).  The oracles spell the same chain in DuckDB."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def docs_by_id(documents: DataFrame) -> DataFrame:
    """Hash-partition documents on ``doc_id`` BEFORE tokenizing.

    For consumers whose next key contains the document (``groupBy(word,
    doc_id)``, ``Window.partitionBy(doc_id)``): the token rows inherit
    ``hashpartitioning(doc_id, n)``, which already satisfies those
    operators, so the only shuffle before them is the raw text, and the
    explode, partial aggregate and window run as n tasks instead of one
    per parquet row group.  ``n`` is the session's
    ``spark.sql.shuffle.partitions`` and must be passed explicitly: a
    column-only ``repartition("doc_id")`` plans as REPARTITION_BY_COL,
    which AQE coalesces back to one partition on a small corpus, while
    REPARTITION_BY_NUM keeps its count."""
    return documents.repartition(shuffle_partitions(documents.sparkSession), "doc_id")


def _token_rows(documents: DataFrame, keep: tuple[str, ...], with_pos: bool) -> DataFrame:
    """The one tokenizer body behind ``tokens_df`` and ``tokens_with_pos``:
    explode (or posexplode) the raw split, clean, drop empties."""
    split = F.split(F.col("text"), TOKEN_SPLIT_RE)
    if with_pos:
        exploded, pos = F.posexplode(split).alias("pos", "_tok"), ["pos"]
    else:
        exploded, pos = F.explode(split).alias("_tok"), []
    return (
        documents.select(*keep, exploded)
        .select(*keep, *pos, clean_token(F.col("_tok")).alias("word"))
        .filter(F.col("word") != "")
    )


def tokens_df(documents: DataFrame, keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """documents(text, *keep) -> one ``(*keep, word)`` row per token (O1-O5).

    ``keep`` names the document columns carried next to each token, so a
    caller that groups by a document attribute (``source``, ``lang``)
    needs no join back to the documents.

    The reference materializes this list on the master and chunks it by
    hand (``master.py:54-84``, dropping ``len % map_num`` trailing tokens);
    here it is a distributed project+explode that never touches the driver.

    Partitioning is the caller's: the tokens keep whatever partitioning
    ``documents`` has.  The doc-keyed indexes (``inverted_index*``) pass
    ``docs_by_id(documents)`` so their (word, doc) aggregate needs no
    shuffle of its own; the word-keyed counts pass the raw scan, because
    a doc shuffle there only adds bytes ahead of the word shuffle.

    Formulation: explode the raw whitespace split FIRST, then clean/filter
    the exploded column with scalar expressions.  Identical semantics to
    ``explode(tokenize(...))`` but the scalar form stays inside
    whole-stage codegen, while transform/filter lambdas run interpreted
    (SCALING.md pitfall 1) and cost ~4x on the first compile."""
    return _token_rows(documents, keep, with_pos=False)


def tokens_with_pos(documents: DataFrame, keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Like ``tokens_df`` but keeps each token's ORDER key: ``(*keep, pos,
    word)`` where ``pos`` is the index in the raw whitespace split, so it
    is sparse where tokens cleaned to empty were dropped — callers must
    treat it as an ordering, not a dense 0..n-1 index (windows ordered by
    pos see exactly the cleaned token sequence)."""
    return _token_rows(documents, keep, with_pos=True)


def shingles_df(documents: DataFrame, n: int = 3) -> DataFrame:
    """documents -> distinct (doc_id, sh) shingle rows.

    Relational formulation: posexplode tokens once, then lead() windows
    build each n-gram.  An array-expression form (explode of a transform
    over element_at windows of tokenize(text)) inlines the tokenize chain
    into every element_at -- Catalyst re-evaluates it per element,
    measured 26s for 5k docs vs ~2s for this plan.  One shuffle on
    doc_id; all expressions codegen."""
    from pyspark.sql import Window

    toks = tokens_with_pos(documents)
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("word")] + [F.lead("word", k).over(w) for k in range(1, n)]
    return (
        toks.select(
            "doc_id",
            *[lead.alias(f"_w{k}") for k, lead in enumerate(leads)],
        )
        .filter(F.col(f"_w{n-1}").isNotNull())
        .select("doc_id", F.concat_ws(" ", *[f"_w{k}" for k in range(n)]).alias("sh"))
        .distinct()
    )


# DuckDB CTEs producing the identical token-array / distinct-shingle stream.
DUCKDB_TOKS_CTE = """
    toks AS (
        SELECT doc_id,
               list_filter(
                   list_transform(regexp_split_to_array(text, '\\s+'),
                                  t -> regexp_replace(lower(t), '[^0-9a-z]', '', 'g')),
                   x -> x <> '') AS ts
        FROM documents
    )
"""

DUCKDB_SHINGLES_CTE = (
    DUCKDB_TOKS_CTE
    + """,
    shing AS (
        SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
        FROM toks, unnest(range(1, len(ts) - 1)) t(i)
    )
"""
)


def duckdb_tokens_sql() -> str:
    """DuckDB SQL producing the identical (doc_id, word) token stream."""
    return """
        SELECT doc_id,
               regexp_replace(lower(tok), '[^0-9a-z]', '', 'g') AS word
        FROM (
            SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
            FROM documents
        )
        WHERE regexp_replace(lower(tok), '[^0-9a-z]', '', 'g') <> ''
    """
