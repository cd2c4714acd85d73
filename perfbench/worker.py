"""One benchmark process: set up the program, run its passes, check outputs.

Started by run.py in a fresh interpreter with the run's isolated
environment.  Writes its result as JSON to --out; everything it prints
goes to stderr.

    python3 perfbench/worker.py --workload W --data DIR --seconds S --trace 0|1 --out FILE \
        [--trace-out FILE --event-log DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

from tracing import Spans, empty_group, group_totals, link_spark_spans, read_event_log, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Each workload's fixed pass: the queries run, in this order, every pass.
PASSES = {
    "wordcount_zipf": (
        "wordcount",
        "wordcount_salted",
        "inverted_index",
        "inverted_index_postings",
        "inverted_index_positional",
    ),
    "tpch_star": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "q18_large_orders",
        "q21_waiting_suppliers",
        "top_orders_per_customer",
    ),
}

MB = 1e6
# Timed passes still get a little faster after the two warm-up passes
# (JIT), and passes of one run differed by up to a sixth; the median of
# three is taken.
MIN_TIMED_PASSES = 3

# Per-layer metrics a traced run reports, with units.  Every workload
# reports every name; a query or text function the workload does not run
# reads 0.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.input_mb": "MB",
    "sources.input_records": "count",
    "sources.scan_tasks": "count",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.optimize_s": "s",
    "functions.tokenize_s": "s",
    "functions.shingles_s": "s",
    **{
        f"operators.{q}{suffix}": unit
        for qs in PASSES.values()
        for q in qs
        for suffix, unit in (("_s", "s"), (".shuffle_mb", "MB"))
    },
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.cores_busy": "cores",
    "operators.shuffle_records": "count",
    "operators.spill_mb": "MB",
    "trace.pass_s": "s",
}


def _vm_hwm_kb(pid: int) -> int:
    """Peak resident set of a process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces; ppid follows ')'
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident sets of this process, the JVM and the JVM's
    child processes (PySpark workers)."""
    pids = [os.getpid(), jvm_pid, *_children(jvm_pid)]
    return sum(_vm_hwm_kb(p) for p in pids) * 1024 / MB


def shuffle_bytes_written(spark) -> int:
    """Shuffle bytes written so far, from Spark's executor summary, once the
    listener bus has delivered every finished task."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


def _cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat, for the log."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[worker +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(PASSES), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-out")
    ap.add_argument("--event-log")
    args = ap.parse_args()

    spans = Spans() if args.trace else None
    span = spans.span if spans else (lambda *a, **k: nullcontext())
    with span("run", "run"):
        t0 = time.perf_counter()
        with span("setup", "setup"):
            sys.path.insert(0, ROOT)
            from mapreduce_on_google_cloud_platform_spark import session
            from mapreduce_on_google_cloud_platform_spark.plans import QUERIES

            t1 = time.perf_counter()
            spark = session.get_spark("perfbench")
        t2 = time.perf_counter()
        result = {"setup_s": t2 - t0, "session_start_s": t2 - t1}
        _log(f"set up in {t2 - t0:.3f} s")
        try:
            result.update(run(spark, session, QUERIES, args, spans))
        finally:
            jvm_pid = spark.sparkContext._gateway.proc.pid
            result["peak_rss_mb"] = peak_rss_mb(jvm_pid)
            spark.stop()
    _log("spark stopped")
    from checks import CHECKS  # after set-up: it imports pyarrow, which set-up must pay

    result["checks"] = CHECKS[args.workload](args.data, result.pop("_outputs"))
    _log("checks done")
    if spans:
        result["per_layer"] = finish_trace(result, spans, args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def run(spark, session, QUERIES, args, spans) -> dict:
    queries = PASSES[args.workload]

    # Warm-up, untimed: one pass that collects the outputs the checks read.
    outputs = {}
    for q in queries:
        try:
            outputs[q] = QUERIES[q](spark, args.data).toArrow()
        except Exception as e:  # noqa: BLE001 -- the check reports it
            print(f"warm-up {q} failed: {type(e).__name__}: {e}", file=sys.stderr)
            outputs[q] = None
        session.release_caches(spark)
    # The collecting pass ends each plan in a collect, not the noop sink,
    # and the first noop pass after it ran 10-60% slower than the next: one
    # more warm-up pass, into noop and untimed.
    _run_pass(spark, session, QUERIES, args, None, 0)
    _log("warm-up passes done")

    cpu0 = _cpu_ticks()
    passes = []
    start = time.perf_counter()
    while len(passes) < MIN_TIMED_PASSES or time.perf_counter() - start < args.seconds:
        before = shuffle_bytes_written(spark)
        times = _run_pass(spark, session, QUERIES, args, spans, len(passes))
        passes.append(
            {"wall_s": sum(times.values()), "query_s": times, "shuffle_bytes": shuffle_bytes_written(spark) - before}
        )

    cpu = [b - a for a, b in zip(cpu0, _cpu_ticks())]
    _log(f"{len(passes)} timed passes done; machine cpu ticks user/sys/idle/iowait/steal "
         f"{cpu[0]}/{cpu[2]}/{cpu[3]}/{cpu[4]}/{cpu[7]}")
    out = {"passes": passes, "_outputs": outputs}
    if spans:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        out["functions"] = _text_functions(spark, args, spans)
    return out


def _run_pass(spark, session, QUERIES, args, spans, i: int) -> dict[str, float]:
    """One pass: every query of the workload built through the registry and
    run into the noop sink; caches are released between queries, untimed.
    Returns the wall seconds of each query (build + execution)."""
    times = {}
    with spans.span(f"pass-{i}", "pass") if spans else nullcontext():
        for q in PASSES[args.workload]:
            if spans:
                times[q] = _traced_query(spark, QUERIES[q], args.data, q, i, spans)
            else:
                t = time.perf_counter()
                QUERIES[q](spark, args.data).write.format("noop").mode("overwrite").save()
                times[q] = time.perf_counter() - t
            session.release_caches(spark)
    return times


def _traced_query(spark, build, data, q, i, spans) -> float:
    sc = spark.sparkContext
    t = time.perf_counter()
    with spans.span(q, "query"):
        g = f"p{i}:{q}:build"
        sc.setJobGroup(g, g)
        with spans.span("build", "plans.build", group=g) as b:
            df = build(spark, data)
        g = f"p{i}:{q}:optimize"
        sc.setJobGroup(g, g)
        with spans.span("optimize", "plans.optimize", group=g) as o:
            df._jdf.queryExecution().executedPlan()
        g = f"p{i}:{q}:execute"
        sc.setJobGroup(g, g)
        with spans.span("execute", "operators.execute", group=g) as e:
            df.write.format("noop").mode("overwrite").save()
    for rec in (b, o, e):
        rec["query"], rec["pass"] = q, i
    return time.perf_counter() - t


def _text_functions(spark, args, spans) -> dict:
    """Time the text functions alone over the workload's corpus, if any."""
    if not os.path.exists(os.path.join(args.data, "documents.parquet")):
        return {"tokenize_s": 0.0, "shingles_s": 0.0}
    from mapreduce_on_google_cloud_platform_spark.functions.text import shingles_df, tokens_df

    docs = spark.read.parquet(os.path.join(args.data, "documents.parquet"))
    out = {}
    for name, fn in (("tokenize_s", tokens_df), ("shingles_s", shingles_df)):
        g = f"functions:{name}"
        spark.sparkContext.setJobGroup(g, g)
        t = time.perf_counter()
        with spans.span(name, "functions", group=g):
            fn(docs).write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t
    return out


def finish_trace(result: dict, spans: Spans, args) -> dict:
    """Per-layer metrics from spans and the event log; writes the trace file."""
    log = read_event_log(args.event_log)
    link_spark_spans(spans, log)
    totals = group_totals(log)
    zero = empty_group()
    queries = PASSES[args.workload]
    per_pass = []
    for i, p in enumerate(result["passes"]):
        m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        agg = dict(zero)
        for s in spans.spans:
            if s.get("pass") != i:
                continue
            dur = s["end"] - s["start"]
            if s["kind"] == "plans.build":
                m["plans.build_s"] += dur
            elif s["kind"] == "plans.optimize":
                m["plans.optimize_s"] += dur
            else:
                m[f"operators.{s['query']}_s"] += dur
        for q in queries:
            q_shuffle = 0
            for phase in ("build", "optimize", "execute"):
                t = totals.get(f"p{i}:{q}:{phase}", zero)
                for k in zero:
                    agg[k] += t[k]
                q_shuffle += t["shuffle_bytes"]
                if phase == "build":
                    m["plans.eager_jobs"] += t["jobs"]
            m[f"operators.{q}.shuffle_mb"] = q_shuffle / MB
        m.update(
            {
                "trace.pass_s": p["wall_s"],
                "sources.input_mb": agg["input_bytes"] / MB,
                "sources.input_records": agg["input_records"],
                "sources.scan_tasks": agg["scan_tasks"],
                "operators.jobs": agg["jobs"],
                "operators.stages": agg["stages"],
                "operators.tasks": agg["tasks"],
                "operators.task_s": agg["run_ms"] / 1000,
                "operators.task_cpu_s": agg["cpu_ns"] / 1e9,
                "operators.gc_s": agg["gc_ms"] / 1000,
                "operators.cores_busy": agg["run_ms"] / 1000 / p["wall_s"],
                "operators.shuffle_records": agg["shuffle_records"],
                "operators.spill_mb": agg["spill_bytes"] / MB,
            }
        )
        per_pass.append(m)
    metrics = {k: statistics.median(pp[k] for pp in per_pass) for k in PER_LAYER_UNITS}
    metrics["session.start_s"] = result["session_start_s"]
    metrics["functions.tokenize_s"] = result["functions"]["tokenize_s"]
    metrics["functions.shingles_s"] = result["functions"]["shingles_s"]
    with open(args.trace_out, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "per_layer": metrics,
                "per_pass": per_pass,
                "self_s": self_times(spans.spans),
                "spans": spans.spans,
            },
            f,
        )
    return metrics


if __name__ == "__main__":
    sys.exit(main())
