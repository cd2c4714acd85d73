"""Output checks of the benchmark's own.

None of these reuse the program's oracles: the word-count family is
checked against a plain-Python reimplementation of the tokenizer spec, the
relational queries against DuckDB SQL written here from the query
definitions.  Each check is one operation of a run; a check that finds a
mismatch (or whose query raised) is one failed operation.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pyarrow as pa

_CLEAN = re.compile(r"[^0-9a-z]")


def tokenize(text: str) -> list[str]:
    """Tokenizer spec: split on whitespace, lowercase, delete [^0-9a-z],
    drop tokens that clean to ''."""
    out = []
    for tok in text.lower().split():
        # lowercase ASCII letters and digits are already clean
        w = tok if tok.isascii() and tok.isalnum() else _CLEAN.sub("", tok)
        if w:
            out.append(w)
    return out


# ---------------------------------------------------------------------------
# wordcount_zipf
# ---------------------------------------------------------------------------


class WordcountExpected:
    """Everything the word-count pass should produce, from the raw corpus."""

    def __init__(self, docs: pa.Table):
        # (word, doc_id) -> 1-based positions in the doc's cleaned token stream
        self.positions: dict[tuple[str, int], list[int]] = defaultdict(list)
        for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
            for pos, w in enumerate(tokenize(text), start=1):
                self.positions[(w, doc_id)].append(pos)
        self.per_doc = {k: len(ps) for k, ps in self.positions.items()}
        self.counts: Counter = Counter()
        for (w, _), c in self.per_doc.items():
            self.counts[w] += c


def _word_counts(t: pa.Table) -> dict:
    return dict(zip(t["word"].to_pylist(), t["cnt"].to_pylist()))


def check_wordcount(exp: WordcountExpected, t: pa.Table) -> str | None:
    got = _word_counts(t)
    if t.num_rows != len(got):
        return "duplicate words in output"
    if got != dict(exp.counts):
        return _diff("word counts", dict(exp.counts), got)
    return None


def check_salted_equals_unsalted(salted: pa.Table, plain: pa.Table) -> str | None:
    if _word_counts(salted) != _word_counts(plain) or salted.num_rows != plain.num_rows:
        return "wordcount_salted differs from wordcount"
    return None


def check_inverted_index(exp: WordcountExpected, t: pa.Table) -> str | None:
    got = dict(
        zip(zip(t["word"].to_pylist(), t["doc_id"].to_pylist()), t["cnt"].to_pylist())
    )
    if t.num_rows != len(got):
        return "duplicate (word, doc_id) rows"
    if got != exp.per_doc:
        return _diff("postings", exp.per_doc, got)
    return None


def check_postings(exp: WordcountExpected, t: pa.Table) -> str | None:
    docs_of: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for (w, d), c in exp.per_doc.items():
        docs_of[w].append((d, c))
    want = {
        w: (",".join(f"{d}:{c}" for d, c in sorted(dc)), exp.counts[w])
        for w, dc in docs_of.items()
    }
    got = dict(
        zip(
            t["word"].to_pylist(),
            zip(t["postings"].to_pylist(), t["total_cnt"].to_pylist()),
        )
    )
    if t.num_rows != len(got):
        return "duplicate words in postings"
    if got != want:
        return _diff("postings strings", want, got)
    return None


def check_positional(exp: WordcountExpected, t: pa.Table) -> str | None:
    want = {
        k: (len(ps), ps[0], ",".join(map(str, ps))) for k, ps in exp.positions.items()
    }
    got = dict(
        zip(
            zip(t["word"].to_pylist(), t["doc_id"].to_pylist()),
            zip(
                t["n_occurrences"].to_pylist(),
                t["first_pos"].to_pylist(),
                t["positions"].to_pylist(),
            ),
        )
    )
    if t.num_rows != len(got):
        return "duplicate (word, doc_id) rows"
    if got != want:
        return _diff("positions", want, got)
    return None


def wordcount_checks(data_dir: str, outputs: dict[str, pa.Table | None]) -> dict[str, str | None]:
    """{check name: None if it passed, else what went wrong}."""
    import pyarrow.parquet as pq

    exp = WordcountExpected(pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"]))
    plan = {
        "wordcount": lambda: check_wordcount(exp, outputs["wordcount"]),
        "wordcount_salted": lambda: check_wordcount(exp, outputs["wordcount_salted"]),
        "wordcount_salted_equals_unsalted": lambda: check_salted_equals_unsalted(
            outputs["wordcount_salted"], outputs["wordcount"]
        ),
        "inverted_index": lambda: check_inverted_index(exp, outputs["inverted_index"]),
        "inverted_index_postings": lambda: check_postings(
            exp, outputs["inverted_index_postings"]
        ),
        "inverted_index_positional": lambda: check_positional(
            exp, outputs["inverted_index_positional"]
        ),
    }
    return _run_all(plan)


# ---------------------------------------------------------------------------
# tpch_star: DuckDB SQL written from the query definitions
# ---------------------------------------------------------------------------

# Money is summed exactly as DECIMAL(18,2) and surfaced as DOUBLE, as the
# queries document; averages are exact decimal sums divided by the count.
TPCH_SQL = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
               CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
               CAST(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))) AS DOUBLE)
                   AS sum_disc_price,
               CAST(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))
                        * (1 + l_tax::DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
               CAST(sum(l_quantity::DECIMAL(18,2)) AS DOUBLE) / count(*) AS avg_qty,
               CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) / count(*) AS avg_price,
               CAST(sum(l_discount::DECIMAL(18,2)) AS DOUBLE) / count(*) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY ALL
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderpriority,
               CAST(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY ALL
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q5_region_revenue": """
        SELECT n_name,
               CAST(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
        GROUP BY ALL
    """,
    "q18_large_orders": """
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               CAST(q.sum_qty AS DOUBLE) AS sum_qty
        FROM (SELECT l_orderkey, sum(l_quantity::DECIMAL(18,2)) AS sum_qty
              FROM lineitem GROUP BY l_orderkey) q
        JOIN orders ON o_orderkey = q.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        WHERE q.sum_qty > 300
    """,
    # an order waits on supplier s when s is its only supplier that shipped
    # more than 90 days after the order date and other suppliers exist
    "q21_waiting_suppliers": """
        WITH f AS (
            SELECT l_orderkey, l_suppkey,
                   (l_shipdate::DATE - o_orderdate::DATE) > 90 AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ), o AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_supp,
                   count(DISTINCT l_suppkey) FILTER (WHERE late) AS n_late
            FROM f GROUP BY l_orderkey
        )
        SELECT n_name, s_name, count(*) AS numwait
        FROM f JOIN o USING (l_orderkey)
        JOIN supplier ON s_suppkey = f.l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE f.late AND o.n_supp > 1 AND o.n_late = 1
        GROUP BY ALL
        ORDER BY numwait DESC, s_name
    """,
    "top_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn::INTEGER AS rn
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
        WHERE rn <= 3
    """,
}
# queries whose row order is part of the result
TPCH_ORDERED = {"q3_shipping_priority", "q21_waiting_suppliers"}
TPCH_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")


def _norm(v):
    if hasattr(v, "tzinfo") and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _rows(t: pa.Table, cols: list[str]) -> list[tuple]:
    data = [t[c].to_pylist() for c in cols]
    return [tuple(_norm(v) for v in row) for row in zip(*data)]


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)
    return a == b


def compare_tables(got: pa.Table, want: pa.Table, ordered: bool) -> str | None:
    """Same column names, same rows (as a multiset unless ordered); doubles
    equal to 1e-12 relative."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {sorted(got.column_names)} != {sorted(want.column_names)}"
    cols = sorted(want.column_names)
    g, w = _rows(got, cols), _rows(want, cols)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    if not ordered:
        key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
        g, w = sorted(g, key=key), sorted(w, key=key)
    for i, (a, b) in enumerate(zip(g, w)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


def tpch_checks(data_dir: str, outputs: dict[str, pa.Table | None]) -> dict[str, str | None]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        plan = {
            q: (lambda q=q, sql=sql: compare_tables(outputs[q], con.execute(sql).arrow(), q in TPCH_ORDERED))
            for q, sql in TPCH_SQL.items()
        }
        return _run_all(plan)
    finally:
        con.close()


# ---------------------------------------------------------------------------


def _diff(what: str, want: dict, got: dict) -> str:
    missing = [k for k in want if k not in got][:3]
    extra = [k for k in got if k not in want][:3]
    wrong = [(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]][:3]
    return f"{what}: missing {missing} extra {extra} wrong (key, got, want) {wrong}"


def _run_all(plan: dict) -> dict[str, str | None]:
    """Run every check; a check that cannot run (its query failed and left
    no output, or it raised) is reported as failed, never skipped."""
    out = {}
    for name, fn in plan.items():
        try:
            out[name] = fn()
        except Exception as e:  # noqa: BLE001 -- every check must report
            out[name] = f"{type(e).__name__}: {e}"
    return out


CHECKS = {"wordcount_zipf": wordcount_checks, "tpch_star": tpch_checks}
