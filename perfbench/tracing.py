"""Traced mode: benchmark-side spans, and Spark event-log events as spans.

Benchmark spans (run, setup, pass, query, build, optimize, execute) are
recorded around the calls the benchmark makes into the program.  Each
query phase runs under its own Spark job group, so after the run the
event log's SQL-execution, job and stage events attach to the benchmark
span that caused them.  Spans stay in memory and are written once, when
the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str, group: str | None = None):
        """Record a span; `group` is the Spark job group active inside it."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
        }
        if group is not None:
            rec["job_group"] = group
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and SQL executions from the single event log in log_dir."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sqls: dict[int, dict] = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000,
                    "stages": ev["Stage IDs"],
                    "group": props.get("spark.jobGroup.id"),
                    "sql": props.get("spark.sql.execution.id"),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["start"] = info["Submission Time"] / 1000
                st["end"] = info["Completion Time"] / 1000
                st["name"] = info.get("Stage Name")
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                st["input_bytes"] += inp.get("Bytes Read", 0)
                st["input_records"] += inp.get("Records Read", 0)
                if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
                    st["scan_tasks"] += 1
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sqls[ev["executionId"]] = {"start": ev["time"] / 1000}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                sqls.setdefault(ev["executionId"], {})["end"] = ev["time"] / 1000
    return {"jobs": jobs, "stages": stages, "sqls": sqls}


# task counters summed per stage and per job group
COUNTERS = (
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "scan_tasks",
    "shuffle_bytes",
    "shuffle_records",
)


def _new_stage() -> dict:
    return dict.fromkeys(COUNTERS, 0)


def empty_group() -> dict:
    return dict(_new_stage(), jobs=0, stages=0)


def group_totals(log: dict) -> dict[str, dict]:
    """Per job group: job count, stage count and summed task counters of the
    stages that ran (skipped stages have no task events)."""
    out: dict[str, dict] = defaultdict(empty_group)
    for job in log["jobs"].values():
        g = out[job["group"]]
        g["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or not st["tasks"]:
                continue
            g["stages"] += 1
            for k in COUNTERS:
                g[k] += st[k]
    return dict(out)


def link_spark_spans(spans: Spans, log: dict) -> None:
    """Append SQL-execution, job and stage spans under the benchmark span
    whose job group launched them."""
    by_group = {s["job_group"]: s["id"] for s in spans.spans if "job_group" in s}
    sql_span: dict[int, int] = {}
    for jid, job in sorted(log["jobs"].items()):
        parent = by_group.get(job["group"])
        if parent is None:
            continue
        sql = job.get("sql")
        if sql is not None and int(sql) in log["sqls"]:
            sql = int(sql)
            if sql not in sql_span:
                ex = log["sqls"][sql]
                sql_span[sql] = _append(
                    spans, parent, f"sql-{sql}", "spark.sql_execution", ex.get("start"), ex.get("end")
                )
            parent = sql_span[sql]
        job_id = _append(spans, parent, f"job-{jid}", "spark.job", job["start"], job.get("end"))
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is not None and "start" in st:
                rec = spans.spans[
                    _append(spans, job_id, f"stage-{sid}", "spark.stage", st["start"], st["end"])
                ]
                rec.update(stage_name=st["name"], task_s=st["run_ms"] / 1000, tasks=st["tasks"])


def _append(spans: Spans, parent: int, name: str, kind: str, start, end) -> int:
    sid = len(spans.spans)
    spans.spans.append(
        {"id": sid, "parent": parent, "name": name, "kind": kind, "start": start, "end": end}
    )
    return sid


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span kind not covered by that span's children."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["start"] is None or s["end"] is None:
            continue
        covered, cur_end = 0.0, s["start"]
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
            if c["start"] is not None and c["end"] is not None
        )
        for a, b in ivs:
            a = max(a, cur_end)
            if b > a:
                covered += b - a
                cur_end = b
        out[s["kind"]] += (s["end"] - s["start"]) - covered
    return dict(out)
