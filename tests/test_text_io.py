"""End-to-end reference lifecycle on real text files: multi-file scan ->
tokenize -> wordcount / inverted index -> formatted text sink -> read back.

This is the Spark twin of the reference's golden-output test procedure
(SURVEY.md §5: fixed book files in, "word - value" lines out, compared
order-insensitively), with the golden computed by an independent pure-Python
re-implementation of the tokenizer spec (FIXTURES.md) instead of committed
files.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import functions as F

from mapreduce_on_google_cloud_platform_spark.functions.text import tokens_df
from mapreduce_on_google_cloud_platform_spark.operators.wordcount import (
    reference_text_sink,
)
from mapreduce_on_google_cloud_platform_spark.sources import (
    read_text_documents,
    write_reference_text,
)

from .conftest import SF_SMOKE

BOOKS = {
    "FlyingFish": "The quick-brown FOX jumps!  Don't stop; 42 times 42.\n--- END ---",
    "JekyllHyde": "It was the BEST of times,\nit was the worst of times.\nDon't.",
}


def _pure_python_tokens(text: str) -> list[str]:
    # FIXTURES.md tokenizer spec: whitespace split, lower, strip [^0-9a-z],
    # drop empties (punctuation removed, not a split point)
    out = []
    for tok in text.split():
        w = re.sub(r"[^0-9a-z]", "", tok.lower())
        if w:
            out.append(w)
    return out


def _write_books(tmp_path):
    src = tmp_path / "books"
    src.mkdir()
    for name, body in BOOKS.items():
        (src / f"{name}.txt").write_text(body, encoding="utf8")
    return str(src)


def test_text_scan_schema_and_lineage(spark, tmp_path):
    docs = read_text_documents(spark, _write_books(tmp_path))
    rows = {r.doc: r.text for r in docs.collect()}
    assert set(rows) == set(BOOKS)
    for name, body in BOOKS.items():
        assert rows[name] == body


def test_wordcount_on_files_matches_pure_python(spark, tmp_path):
    docs = read_text_documents(spark, _write_books(tmp_path))
    got = {
        (r.word, r.cnt)
        for r in tokens_df(docs, keep=("doc",))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    golden = Counter()
    for body in BOOKS.values():
        golden.update(_pure_python_tokens(body))
    assert got == set(golden.items())
    assert ("dont", 2) in got  # punctuation removed, not split
    assert ("quickbrown", 1) in got
    assert ("42", 2) in got  # digits survive


def test_inverted_index_on_files(spark, tmp_path):
    docs = read_text_documents(spark, _write_books(tmp_path))
    got = {
        (r.word, r.doc, r.cnt)
        for r in tokens_df(docs, keep=("doc",))
        .groupBy("word", "doc")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    golden = set()
    for name, body in BOOKS.items():
        for word, cnt in Counter(_pure_python_tokens(body)).items():
            golden.add((word, name, cnt))
    assert got == golden


def test_sink_roundtrip(spark, tmp_path):
    docs = read_text_documents(spark, _write_books(tmp_path))
    wc = tokens_df(docs, keep=("doc",)).groupBy("word").agg(F.count("*").alias("cnt"))
    out = str(tmp_path / "final_wc")
    write_reference_text(reference_text_sink(wc), out)
    lines = {r.value for r in spark.read.text(out).collect()}
    golden = Counter()
    for body in BOOKS.values():
        golden.update(_pure_python_tokens(body))
    assert lines == {f"{w} - [{c}]" for w, c in golden.items()}


def test_read_documents_csv_and_json_roundtrip(spark, tmp_path):
    from mapreduce_on_google_cloud_platform_spark.sources import load_table
    from mapreduce_on_google_cloud_platform_spark.sources.text_io import (
        read_documents_any,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    want = {(r.doc_id, r.text) for r in docs.collect()}

    csv_dir = str(tmp_path / "docs_csv")
    docs.write.option("header", "true").option("escape", '"').csv(csv_dir)
    got_csv = {(r.doc_id, r.text) for r in read_documents_any(spark, csv_dir, "csv").collect()}
    assert got_csv == want

    json_dir = str(tmp_path / "docs_json")
    docs.write.json(json_dir)
    got_json = {(r.doc_id, r.text) for r in read_documents_any(spark, json_dir, "json").collect()}
    assert got_json == want


def test_json_tolerant_read_quarantines_malformed_lines(spark, tmp_path):
    """One malformed line must neither fail the read nor disappear: it
    surfaces as an all-null row carrying the raw text in _corrupt_record
    while the good lines parse normally."""
    from mapreduce_on_google_cloud_platform_spark.sources.text_io import (
        read_documents_json_tolerant,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good one", "lang": "en", "source": "s", "n_chars": 8}\n'
        '{"doc_id": 2, "text": "also fine", "lang": "en", "source": "s", "n_chars": 9}\n'
        "{not json at all\n"
    )
    df = read_documents_json_tolerant(spark, str(p))
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    good = [r for r in rows if r._corrupt_record is None]
    assert len(bad) == 1 and bad[0].doc_id is None
    assert bad[0]._corrupt_record.startswith("{not json")
    assert sorted(r.doc_id for r in good) == [1, 2]


def test_parquet_codec_round_trip(spark, tmp_path):
    """Sink completeness: snappy/zstd/gzip parquet all round-trip
    losslessly and actually apply their codec (checked in the footer)."""
    import glob

    import pyarrow.parquet as pq

    from mapreduce_on_google_cloud_platform_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    n = orders.count()
    for codec in ["snappy", "zstd", "gzip"]:
        out = str(tmp_path / codec)
        orders.write.option("compression", codec).parquet(out)
        assert spark.read.parquet(out).count() == n
        f = glob.glob(f"{out}/*.parquet")[0]
        used = pq.ParquetFile(f).metadata.row_group(0).column(0).compression
        assert used.lower() == codec.lower()
