"""Seeded input generators for the benchmark workloads.

Every table uses the schema of the project's testdata tables, so the
registered queries read it unchanged.  Each table is one parquet file with
one row group, the way the testdata is written.  The same (workload, seed,
GENERATOR_VERSION) always yields byte-identical parquet files.  Row
counts, document lengths and lines per order are fixed multisets that the
seed only shuffles, so sizes do not depend on the seed: only values do.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output changes, so cached inputs are not reused.
GENERATOR_VERSION = "4"

# --- wordcount_zipf ---------------------------------------------------------
WC_DOCS = 750
WC_MEAN_TOKENS = 400  # per document; lengths spread evenly over [mean/2, 3*mean/2)
WC_VOCAB = 100_000  # distinct letter-only word types in the Zipf vocabulary
WC_ZIPF_S = 1.0
WC_LANGS = ("en", "de", "fr", "es", "zh")
WC_SOURCES = 20
# symbol-only tokens: they clean to '' and are dropped by the tokenizer
WC_SYMBOLS = ("---", "...", "&", "*", "(!)", "#", "--", "?!")
WC_PUNCT = (",", ".", ";", ":", "!", "?", ")", '"')

# --- tpch_star ----------------------------------------------------------------
TPCH_CUSTOMERS = 15_000
TPCH_SUPPLIERS = 1_000
TPCH_PARTS = 60_000  # l_partkey domain; the part table itself is not read
TPCH_ORDERS = 150_000
TPCH_MAX_LINES = 7  # lines per order spread evenly over 1..7
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2_404  # o_orderdate in 1995-01-01 .. 2001-08-01
SHIP_LAG_MAX = 121  # l_shipdate = o_orderdate + 1..121 days
OPEN_AFTER = np.datetime64("1998-08-01", "D")  # lines shipped later are open

_WORKLOAD_SALT = {"wordcount_zipf": 1, "tpch_star": 2}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([_WORKLOAD_SALT[workload], seed])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


# ---------------------------------------------------------------------------
# wordcount_zipf
# ---------------------------------------------------------------------------


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """WC_VOCAB distinct lowercase letter words, in random rank order."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < WC_VOCAB:
        n = WC_VOCAB
        lengths = rng.integers(2, 11, size=n)
        chars = letters[rng.integers(0, 26, size=int(lengths.sum()))]
        ends = np.cumsum(lengths)
        joined = "".join(chars)
        for end, ln in zip(ends.tolist(), lengths.tolist()):
            words[joined[end - ln : end]] = None
            if len(words) == WC_VOCAB:
                break
    return np.array(list(words), dtype=object)


def _corpus_tokens(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """n raw tokens and the whitespace that follows each one."""
    vocab = _vocabulary(rng)
    weights = 1.0 / np.arange(1, WC_VOCAB + 1) ** WC_ZIPF_S
    cdf = np.cumsum(weights / weights.sum())
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), WC_VOCAB - 1)
    toks = vocab[ranks].copy()

    kind = rng.random(n)
    # mixed case: Capitalized, UPPER, alternating
    cap = kind < 0.10
    toks[cap] = [t.capitalize() for t in toks[cap]]
    upper = (kind >= 0.10) & (kind < 0.13)
    toks[upper] = [t.upper() for t in toks[upper]]
    alt = (kind >= 0.13) & (kind < 0.15)
    toks[alt] = ["".join(c.upper() if i % 2 else c for i, c in enumerate(t)) for t in toks[alt]]
    # punctuation inside a token is deleted, not a split point
    inner = (kind >= 0.15) & (kind < 0.19)
    marks = np.array(["'", "-", "_", "."], dtype=object)[rng.integers(0, 4, int(inner.sum()))]
    toks[inner] = [t[:1] + m + t[1:] for t, m in zip(toks[inner], marks)]
    trail = (kind >= 0.19) & (kind < 0.27)
    toks[trail] = toks[trail] + np.array(WC_PUNCT, dtype=object)[
        rng.integers(0, len(WC_PUNCT), int(trail.sum()))
    ]
    quoted = (kind >= 0.27) & (kind < 0.29)
    toks[quoted] = ['"' + t + '"' for t in toks[quoted]]
    # digits survive cleaning; some carry punctuation (1,000 -> 1000)
    digits = (kind >= 0.29) & (kind < 0.31)
    nums = rng.integers(0, 10_000, int(digits.sum()))
    toks[digits] = [f"{v:,}" if v >= 1000 else str(v) for v in nums.tolist()]
    symbols = (kind >= 0.31) & (kind < 0.32)
    toks[symbols] = np.array(WC_SYMBOLS, dtype=object)[
        rng.integers(0, len(WC_SYMBOLS), int(symbols.sum()))
    ]

    sep_kind = rng.random(n)
    seps = np.full(n, " ", dtype=object)
    seps[sep_kind < 0.04] = "\n"
    seps[(sep_kind >= 0.04) & (sep_kind < 0.05)] = "\t"
    seps[(sep_kind >= 0.05) & (sep_kind < 0.06)] = "  "
    return toks, seps


def gen_wordcount_zipf(seed: int, out_dir: str) -> None:
    rng = _rng("wordcount_zipf", seed)
    lengths = rng.permutation(
        np.resize(np.arange(WC_MEAN_TOKENS // 2, WC_MEAN_TOKENS * 3 // 2), WC_DOCS)
    )
    toks, seps = _corpus_tokens(rng, int(lengths.sum()))
    texts = []
    start = 0
    for ln in lengths.tolist():
        end = start + ln
        parts = [None] * (2 * ln - 1)
        parts[0::2] = toks[start:end].tolist()
        parts[1::2] = seps[start : end - 1].tolist()
        texts.append("".join(parts))
        start = end
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(WC_DOCS, dtype=np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    [WC_LANGS[i] for i in rng.integers(0, len(WC_LANGS), WC_DOCS).tolist()]
                ),
                "source": pa.array(
                    [f"src{i}" for i in rng.integers(0, WC_SOURCES, WC_DOCS).tolist()]
                ),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )


# ---------------------------------------------------------------------------
# tpch_star
# ---------------------------------------------------------------------------


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal doubles, uniform over [lo, hi] cents."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def gen_tpch_star(seed: int, out_dir: str) -> None:
    rng = _rng("tpch_star", seed)
    path = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        path("region"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
            }
        ),
        path("nation"),
    )

    nc, ns = TPCH_CUSTOMERS, TPCH_SUPPLIERS
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": pa.array(_cents(rng, -99_999, 999_999, nc)),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, nc)].tolist()
                ),
            }
        ),
        path("customer"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(_cents(rng, -99_999, 999_999, ns)),
            }
        ),
        path("supplier"),
    )

    no = TPCH_ORDERS
    order_days = rng.integers(0, ORDER_DAYS, no)
    n_lines = rng.permutation(np.resize(np.arange(1, TPCH_MAX_LINES + 1), no))
    nl = int(n_lines.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), n_lines)
    starts = np.cumsum(n_lines) - n_lines
    l_lineno = (np.arange(nl) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    l_partkey = rng.integers(0, TPCH_PARTS, nl)
    qty = rng.integers(1, 51, nl)
    # TPC-H p_retailprice rule, in cents
    retail_cents = 90_000 + (l_partkey // 10) % 20_001 + 100 * (l_partkey % 1_000)
    ext_cents = qty * retail_cents
    disc = rng.integers(0, 11, nl)
    tax = rng.integers(0, 9, nl)
    ship_days = np.repeat(order_days, n_lines) + rng.integers(1, SHIP_LAG_MAX + 1, nl)
    ship = EPOCH + ship_days.astype("timedelta64[D]")
    is_open = ship > OPEN_AFTER
    returned = rng.random(nl) < 0.5
    returnflag = np.where(is_open, "N", np.where(returned, "R", "A"))
    linestatus = np.where(is_open, "O", "F")
    # o_totalprice = sum(ext * (1 - disc) * (1 + tax)), rounded to cents
    line_total = ext_cents * (100 - disc) * (100 + tax)  # cents * 10^4
    total_cents = np.rint(np.add.reduceat(line_total, starts) / 10_000).astype(np.int64)
    n_open = np.add.reduceat(is_open.astype(np.int64), starts)
    status = np.where(n_open == 0, "F", np.where(n_open == n_lines, "O", "P"))

    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no)),
                "o_orderstatus": pa.array(status.tolist()),
                "o_totalprice": pa.array(total_cents / 100.0),
                "o_orderdate": _days_to_ts(order_days),
                "o_orderpriority": pa.array(
                    np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, no)].tolist()
                ),
            }
        ),
        path("orders"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order),
                "l_partkey": pa.array(l_partkey),
                "l_suppkey": pa.array(rng.integers(0, ns, nl)),
                "l_linenumber": pa.array(l_lineno),
                "l_quantity": pa.array(qty.astype(np.float64)),
                "l_extendedprice": pa.array(ext_cents / 100.0),
                "l_discount": pa.array(disc / 100.0),
                "l_tax": pa.array(tax / 100.0),
                "l_returnflag": pa.array(returnflag.tolist()),
                "l_linestatus": pa.array(linestatus.tolist()),
                "l_shipdate": _days_to_ts(ship_days),
            }
        ),
        path("lineitem"),
    )


GENERATORS = {"wordcount_zipf": gen_wordcount_zipf, "tpch_star": gen_tpch_star}


def describe(data_dir: str) -> dict:
    """{table: {rows, bytes, row_groups}} for every parquet file in data_dir."""
    out = {}
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            p = os.path.join(data_dir, fn)
            meta = pq.ParquetFile(p).metadata
            out[fn[: -len(".parquet")]] = {
                "rows": meta.num_rows,
                "bytes": os.path.getsize(p),
                "row_groups": meta.num_row_groups,
            }
    return out


def cached_inputs(workload: str, seed: int, cache_root: str, keep: int = 6) -> tuple[str, float]:
    """Directory holding the workload's inputs for seed, generating them on a
    miss; returns (dir, seconds spent generating, 0.0 on a hit).  Keeps the
    `keep` most recently used entries and evicts the rest."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-g{GENERATOR_VERSION}")
    t = 0.0
    if not os.path.exists(os.path.join(d, "_MANIFEST.json")):
        t0 = time.perf_counter()
        tmp = f"{d}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "_MANIFEST.json"), "w") as f:
            json.dump(describe(tmp), f, indent=1, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        t = time.perf_counter() - t0
    os.utime(d)
    entries = sorted(
        (e for e in os.scandir(cache_root) if e.is_dir() and ".tmp." not in e.name),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in entries[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return d, t
