"""Benchmark of both kgp pipelines, run from the root of a checkout.

One run (a fresh process):

    python3 perfbench/run.py --workload kg_light --seed 1 --seconds 25 \
        --trace 0

prints diagnostics, then as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.

The whole suite (every workload round-robin, each run a fresh process):

    python3 perfbench/run.py --suite --runs 10 --seconds 25 --trace 1

prints every metric by name and unit with its sample count, median and
quartiles, and writes the per-run records to .perfbench/suite.jsonl.

Work files (the run's tables, Spark scratch, event logs) live in
.perfbench/ under the current directory.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))
# past this a run is abandoned and counted as failed; the caller allows
# 180 s per run
RUN_TIMEOUT_S = 170

E2E_UNITS = {"wall_s": "s", "pages_per_s": "1/s", "cpu_s": "s",
             "setup_s": "s", "peak_rss_mb": "MB", "resume_s": "s"}
CHECK_UNITS = {"triple_precision": "ratio", "triple_recall": "ratio",
               "text_exact": "ratio", "dup_removed": "ratio",
               "orig_kept": "ratio"}


def pin_env() -> dict:
    """The environment that changes program paths, pinned before the
    JVM starts and recorded with every run."""
    for k in ("KGP_LINEAGE_FULL", "KGP_NO_OVERLAP"):
        os.environ.pop(k, None)
    tmp = os.path.join(WORK, "tmp")
    pinned = {
        "SPARK_GRAFT_CPUS": str(min(4, len(os.sched_getaffinity(0)))),
        "KGP_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # the short-lived JVM of spark-submit's launcher, too, keeps its
        # scratch files in the work dir
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                      .split(os.pathsep) if p]),
    }
    os.environ.update(pinned)
    tempfile.tempdir = None  # re-read TMPDIR
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    return pinned


def end_to_end(res: dict) -> dict:
    vals = {k: res[k] for k in E2E_UNITS if k in res}
    vals["pages_per_s"] = res["pages"] / res["wall_s"]
    return {k: {"value": vals[k], "unit": u} for k, u in E2E_UNITS.items()}


def per_layer(res: dict, tracer) -> dict:
    from perfbench.trace import per_layer_units
    vals = tracer.metrics(int(os.environ["SPARK_GRAFT_CPUS"]),
                          {**res["stage_rows"], **res["stage_rows_other"]})
    vals.update(res["kernels"])
    return {k: {"value": vals[k], "unit": u}
            for k, u in per_layer_units().items()}


def one_run(args) -> int:
    import kgp  # noqa: F401  fails outside a checkout: no result printed

    from perfbench import measure
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    if args.pages:
        wl = dataclasses.replace(wl, pages=args.pages)
    env = pin_env()
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer
        tracer = Tracer(WORK)
    signal_alarm(RUN_TIMEOUT_S)
    res = measure.run_once(wl, args.seed, args.seconds, WORK, tracer)
    signal_alarm(0)
    res.update(env=env, workload=wl.name, seed=args.seed,
               trace=args.trace)
    metrics = {}
    if not res["failed"]:
        try:
            metrics = per_layer(res, tracer) if tracer else end_to_end(res)
        except Exception:  # e.g. no complete event log: the run fails
            res["failed"] = 1
            res["errors"].append(traceback.format_exc())
    print(json.dumps(res, default=str))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def signal_alarm(seconds: int) -> None:
    import signal

    def on_alarm(_sig, _frame):
        raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S} s")
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(seconds)


# ------------------------------------------------------------- suite


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def suite(args) -> int:
    from perfbench.workloads import WORKLOADS
    names = list(WORKLOADS)
    os.makedirs(WORK, exist_ok=True)
    records: list[dict] = []
    with open(os.path.join(WORK, "suite.jsonl"), "w") as log:
        # round-robin: a slow phase of the shared host hits every
        # workload alike instead of one workload's whole series
        for i in range(args.runs):
            for name in names:
                rec = _child(name, 1 + i, args.seconds, 0)
                records.append(rec)
                log.write(json.dumps(rec) + "\n")
                log.flush()
        for name in names if args.trace else []:
            rec = _child(name, 1, args.seconds, 1)
            records.append(rec)
            log.write(json.dumps(rec) + "\n")
    _report(records, names)
    return 0 if all(r["result"] and r["result"]["correct"]
                    for r in records) else 1


def _child(name: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           name, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    rec = {"workload": name, "seed": seed, "trace": trace,
           "process_s": time.perf_counter() - t0, "exit": p.returncode,
           "result": None, "detail": None}
    if len(lines) >= 2:
        rec["detail"] = json.loads(lines[-2])
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    print(f"{name} seed={seed} trace={trace} "
          f"{rec['process_s']:.1f}s exit={p.returncode}", flush=True)
    return rec


def _row(name: str, metric: str, unit: str, vals: list[float]) -> str:
    q1, med, q3 = quartiles(vals)
    spread = (q3 - q1) / med if med else 0.0
    return (f"{name:<11} {metric:<31} {unit:<6} {len(vals):>3} "
            f"{med:>11.4f} {q1:>11.4f} {q3:>11.4f} {spread:>8.3f}")


def _report(records: list[dict], names: list[str]) -> None:
    print(f"{'workload':<11} {'metric':<31} {'unit':<6} {'n':>3} "
          f"{'median':>11} {'q1':>11} {'q3':>11} {'iqr/med':>8}")
    for name in names:
        runs = [r for r in records if r["workload"] == name
                and not r["trace"]]
        ok = [r for r in runs if r["result"] and r["result"]["correct"]]
        rows: dict[str, tuple[str, list[float]]] = {}
        for r in ok:
            for k, m in r["result"]["metrics"].items():
                rows.setdefault(k, (m["unit"], []))[1].append(m["value"])
            for k, v in r["detail"].get("checks", {}).items():
                if k in CHECK_UNITS:
                    rows.setdefault(k, (CHECK_UNITS[k], []))[1].append(v)
        att = sum(r["result"]["attempted"] if r["result"] else 1
                  for r in runs)
        fail = sum(r["result"]["failed"] if r["result"] else 1
                   for r in runs)
        rows["failed_frac"] = ("ratio", [fail / att if att else 1.0])
        for k, (unit, vals) in rows.items():
            print(_row(name, k, unit, vals))
        walls = [r["result"]["metrics"]["wall_s"]["value"] for r in ok]
        for r in records:
            if (r["workload"] == name and r["trace"] and r["result"]
                    and r["result"]["correct"] and walls):
                tw = r["detail"]["wall_s"] - statistics.median(walls)
                print(_row(name, "trace_overhead_s", "s", [tw]))
    traced = [r for r in records if r["trace"] and r["result"]
              and r["result"]["correct"]]
    for r in traced:
        for k, m in r["result"]["metrics"].items():
            print(f"{r['workload']:<11} {k:<40} {m['unit']:<6} "
                  f"{m['value']:>14.4f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pages", type=int,
                    help="original pages instead of the workload's "
                         "(the smoke test runs tiny inputs)")
    ap.add_argument("--suite", action="store_true",
                    help="run every workload round-robin in fresh "
                         "processes and print the summary; --trace 1 "
                         "adds one traced run per workload")
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    # the checkout root, for kgp and this package
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    if args.suite:
        return suite(args)
    if not args.workload:
        ap.error("--workload is required without --suite")
    return one_run(args)


if __name__ == "__main__":
    sys.exit(main())
