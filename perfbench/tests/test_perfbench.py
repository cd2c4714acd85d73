"""Tests of the benchmark itself: the command's output contract, and that
every checker rejects a corrupted result.

    python3 -m pytest perfbench/tests -q

The command tests start Spark and take about a minute each; the checker
tests take seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# the command
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "workload,trace",
    [("wordcount_zipf", 0), ("tpch_star", 0), ("wordcount_zipf", 1)],
)
def test_command_prints_one_result_line_with_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],  # fmt: skip
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # Spark's progress bars and logs go to stderr; stdout is the result only
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout[-3000:]
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] == 6
    want = _bench_json()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
        if not trace:
            assert v["value"] > 0


def test_benchmark_json_names_the_workloads_the_command_runs():
    from worker import PASSES

    assert [w["name"] for w in _bench_json()["workloads"]] == list(PASSES)


def test_command_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails and
    prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch_star",
         "--seed", "1", "--seconds", "1", "--trace", "0"],  # fmt: skip
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


# ---------------------------------------------------------------------------
# the checkers
# ---------------------------------------------------------------------------


def test_tokenizer_spec_cases():
    text = "Don't quick-brown end. 42 --- MiXeD snake_case 1,000 ?! \t\nx"
    assert checks.tokenize(text) == [
        "dont", "quickbrown", "end", "42", "mixed", "snakecase", "1000", "x",
    ]  # fmt: skip


@pytest.fixture
def tiny_corpus(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "WC_DOCS", 12)
    monkeypatch.setattr(gen, "WC_MEAN_TOKENS", 40)
    monkeypatch.setattr(gen, "WC_VOCAB", 300)
    gen.gen_wordcount_zipf(3, str(tmp_path))
    return str(tmp_path)


def _wordcount_outputs(data_dir: str) -> dict[str, pa.Table]:
    """Correct outputs of the word-count pass, in the program's schemas."""
    import pyarrow.parquet as pq

    exp = checks.WordcountExpected(pq.read_table(f"{data_dir}/documents.parquet"))
    words = sorted(exp.counts)
    wc = pa.table({"word": words, "cnt": [exp.counts[w] for w in words]})
    keys = sorted(exp.positions)
    docs_of: dict[str, list] = {}
    for w, d in keys:
        docs_of.setdefault(w, []).append(f"{d}:{exp.per_doc[(w, d)]}")
    return {
        "wordcount": wc,
        "wordcount_salted": wc,
        "inverted_index": pa.table(
            {
                "word": [w for w, _ in keys],
                "doc_id": [d for _, d in keys],
                "cnt": [exp.per_doc[k] for k in keys],
            }
        ),
        "inverted_index_postings": pa.table(
            {
                "word": words,
                "postings": [",".join(docs_of[w]) for w in words],
                "total_cnt": [exp.counts[w] for w in words],
            }
        ),
        "inverted_index_positional": pa.table(
            {
                "word": [w for w, _ in keys],
                "doc_id": [d for _, d in keys],
                "n_occurrences": [len(exp.positions[k]) for k in keys],
                "first_pos": [exp.positions[k][0] for k in keys],
                "positions": [",".join(map(str, exp.positions[k])) for k in keys],
            }
        ),
    }


def _with_row(t: pa.Table, i: int, **changes) -> pa.Table:
    rows = t.to_pylist()
    rows[i] = {**rows[i], **changes}
    return pa.Table.from_pylist(rows, schema=t.schema)


def _drop_row(t: pa.Table, i: int) -> pa.Table:
    return t.take([j for j in range(t.num_rows) if j != i])


def _dup_row(t: pa.Table, i: int) -> pa.Table:
    return pa.concat_tables([t, t.slice(i, 1)])


def test_wordcount_checks_pass_on_correct_outputs(tiny_corpus):
    res = checks.wordcount_checks(tiny_corpus, _wordcount_outputs(tiny_corpus))
    assert res == dict.fromkeys(res, None)
    assert len(res) == 6


WORDCOUNT_CORRUPTIONS = {
    "wordcount": lambda t: _with_row(t, 0, cnt=t["cnt"][0].as_py() + 1),
    "wordcount_salted": lambda t: _drop_row(t, 1),
    "inverted_index": lambda t: _dup_row(t, 2),
    "inverted_index_postings": lambda t: _with_row(
        t, 0, postings=",".join(reversed(t["postings"][0].as_py().split(","))) + ",0:1"
    ),
    "inverted_index_positional": lambda t: _with_row(t, 3, first_pos=t["first_pos"][3].as_py() + 1),
}


@pytest.mark.parametrize("query", sorted(WORDCOUNT_CORRUPTIONS))
def test_wordcount_checks_fail_on_corrupted_output(tiny_corpus, query):
    outputs = _wordcount_outputs(tiny_corpus)
    outputs[query] = WORDCOUNT_CORRUPTIONS[query](outputs[query])
    res = checks.wordcount_checks(tiny_corpus, outputs)
    assert res[query] is not None
    assert [k for k, v in res.items() if v is not None and k != query] in (
        [],
        ["wordcount_salted_equals_unsalted"],
    )


def test_wordcount_check_fails_when_query_left_no_output(tiny_corpus):
    outputs = _wordcount_outputs(tiny_corpus)
    outputs["inverted_index"] = None
    assert checks.wordcount_checks(tiny_corpus, outputs)["inverted_index"] is not None


@pytest.fixture(scope="module")
def tiny_star(tmp_path_factory):
    # full size: smaller schemas leave q18 (sum of quantity > 300) empty
    d = tmp_path_factory.mktemp("star")
    gen.gen_tpch_star(5, str(d))
    return str(d)


def _tpch_outputs(data_dir: str) -> dict[str, pa.Table]:
    import duckdb

    con = duckdb.connect()
    for t in checks.TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return {q: con.execute(sql).arrow() for q, sql in checks.TPCH_SQL.items()}


def test_tpch_checks_pass_on_correct_outputs(tiny_star):
    outputs = _tpch_outputs(tiny_star)
    assert all(t.num_rows > 0 for t in outputs.values()), {q: t.num_rows for q, t in outputs.items()}
    res = checks.tpch_checks(tiny_star, outputs)
    assert res == dict.fromkeys(checks.TPCH_SQL, None)


def _bump_first_number(t: pa.Table) -> pa.Table:
    for name, col in zip(t.column_names, t.columns):
        if pa.types.is_floating(col.type) or pa.types.is_integer(col.type):
            return _with_row(t, 0, **{name: col[0].as_py() + 1})
    raise AssertionError("no numeric column")


@pytest.mark.parametrize("query", sorted(checks.TPCH_SQL))
@pytest.mark.parametrize("corrupt", ["value", "missing_row", "renamed_column"])
def test_tpch_checks_fail_on_corrupted_output(tiny_star, query, corrupt):
    outputs = _tpch_outputs(tiny_star)
    t = outputs[query]
    if corrupt == "value":
        t = _bump_first_number(t)
    elif corrupt == "missing_row":
        t = _drop_row(t, t.num_rows - 1)
    else:
        t = t.rename_columns([t.column_names[0] + "_x", *t.column_names[1:]])
    outputs[query] = t
    res = checks.tpch_checks(tiny_star, outputs)
    assert res[query] is not None
    assert all(v is None for k, v in res.items() if k != query)


@pytest.mark.parametrize("query", sorted(checks.TPCH_ORDERED))
def test_tpch_ordered_checks_fail_on_reordered_rows(tiny_star, query):
    outputs = _tpch_outputs(tiny_star)
    t = outputs[query]
    assert t.num_rows > 1
    outputs[query] = t.take(list(reversed(range(t.num_rows))))
    assert checks.tpch_checks(tiny_star, outputs)[query] is not None


def test_generators_are_deterministic(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "TPCH_ORDERS", 500)
    monkeypatch.setattr(gen, "WC_DOCS", 5)
    for w, fn in gen.GENERATORS.items():
        a, b, c = (tmp_path / f"{w}-{k}" for k in "abc")
        for d, seed in ((a, 1), (b, 1), (c, 2)):
            d.mkdir()
            fn(seed, str(d))
        for name in os.listdir(a):
            assert (a / name).read_bytes() == (b / name).read_bytes()
        assert any((a / n).read_bytes() != (c / n).read_bytes() for n in os.listdir(a))
        # row counts and layout do not depend on the seed
        shape = lambda d: {k: (v["rows"], v["row_groups"]) for k, v in gen.describe(str(d)).items()}  # noqa: E731
        assert shape(a) == shape(c)
        assert {g for _, g in shape(a).values()} == {1}
