#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload wordcount_zipf --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached under
perfbench/.work/inputs), then runs the workload in fresh worker processes
with an isolated environment: their own index store, warehouse, Spark
local dirs and temp dir, all removed when the run ends.  Prints one JSON
object as the last line of stdout: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1.  All other output goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_on_google_cloud_platform_spark"
WORK = os.path.join(HERE, ".work")

# Local cores given to Spark: the same on every machine with at least 4.
MAX_CPUS = 4
# Driver JVM heap, fixed at start-up (-Xms = -Xmx).
DRIVER_MEM = "2g"
RUN_DEADLINE_S = 170

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB", "shuffle_mb": "MB"}


def isolated_env(run_dir: str, traced: bool) -> dict:
    """Environment for a worker: every directory the program or Spark writes
    lives under run_dir."""
    dirs = {k: os.path.join(run_dir, k) for k in ("index", "warehouse", "local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # a fixed-size heap: how far an adaptively sized heap grows depends on
    # GC timing, which made peak RSS vary by a quarter between runs.
    # JIT compile thresholds at a tenth of the default: with the defaults,
    # passes kept getting faster for about ten passes (9.9 s to 5.0 s on
    # tpch_star), so a one-minute run measured how far the JIT had got,
    # which depends on how busy the host is; with a tenth they level off
    # after three to four passes.
    java_opts = (
        f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        " -XX:CompileThresholdScaling=0.1"
    )
    submit = ["--driver-java-options", java_opts]
    if traced:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
        ]  # fmt: skip
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(min(MAX_CPUS, len(os.sched_getaffinity(0)))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_INDEX_DIR=dirs["index"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYSPARK_SUBMIT_ARGS=shlex.join([*submit, "pyspark-shell"]),
    )
    return env


def _group_alive(pgid: int) -> bool:
    """True while a non-zombie process of process group pgid exists."""
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z" and int(fields[2]) == pgid:
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Terminate what is left of a worker's process group (the JVM) and wait
    until it has ended."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + 10.0
        while _group_alive(pgid):
            if time.monotonic() > end:
                break
            time.sleep(0.05)
        else:
            return


def spawn_worker(argv: list[str], env: dict, deadline: float, out: str) -> dict:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *argv, "--out", out],
        env=env,
        stdout=sys.stderr,
        stdin=subprocess.DEVNULL,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if rc != 0:
        raise RuntimeError(f"worker {argv[:2]} failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    sys.path.insert(0, HERE)
    import gen
    from worker import PASSES, PER_LAYER_UNITS

    if args.workload not in PASSES:
        print(f"unknown workload {args.workload!r}; expected one of {sorted(PASSES)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"program package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    data_dir, gen_s = gen.cached_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
    print(f"inputs {data_dir} (generated in {gen_s:.2f} s)", file=sys.stderr)

    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=os.path.join(WORK, "tmp"))
    try:
        env = isolated_env(run_dir, bool(args.trace))
        argv = ["--workload", args.workload, "--data", data_dir,
                "--seconds", str(args.seconds), "--trace", str(args.trace)]  # fmt: skip
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_out = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
            argv += ["--trace-out", trace_out, "--event-log", os.path.join(run_dir, "eventlog")]
        res = spawn_worker(argv, env, deadline, os.path.join(run_dir, "main.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = res["checks"]
    for name, err in checks.items():
        print(f"check {name}: {'ok' if err is None else 'FAILED ' + err}", file=sys.stderr)
    for i, p in enumerate(res["passes"]):
        qs = " ".join(f"{q}={t:.3f}" for q, t in p["query_s"].items())
        print(f"pass {i}: {p['wall_s']:.3f} s [{qs}]", file=sys.stderr)
    print(f"setup: {res['setup_s']:.3f} s", file=sys.stderr)

    if args.trace:
        values = res["per_layer"]
        units = PER_LAYER_UNITS
        print(f"trace written to {trace_out}", file=sys.stderr)
    else:
        passes = res["passes"]
        values = {
            "setup_s": res["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "peak_rss_mb": res["peak_rss_mb"],
            "shuffle_mb": statistics.median(p["shuffle_bytes"] for p in passes) / 1e6,
        }
        units = END_TO_END_UNITS
    failed = sum(err is not None for err in checks.values())
    line = {
        # every measured value is usable: finite, and above 0 for end-to-end
        "correct": all(math.isfinite(v) and (args.trace or v > 0) for v in values.values()),
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
