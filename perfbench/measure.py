"""One benchmark run of one workload, in this process.

    set-up      kgp.session.get_spark: JVM start, session, collation
                warm-up (setup_s)
    input       the seeded pages, written as a finished `pages` stage
                (untimed)
    full run    the pipeline from the materialized pages into a fresh
                out dir: wall_s, cpu_s, peak_rss_mb; output checked
    resumes     delete the stages after workloads.RESUME_AFTER and
                re-run into the same out dir, repeated until the run
                has measured for `seconds`; each must reproduce the
                full run's stage contents (resume_s is their median)

The traced run adds, in the same session, a full run of the other
pipeline over the workload's original pages (and a resume, for the KG
pipeline), so that every per-layer metric of both pipelines is
measured, and then the kernels.

A run is one attempt, its resumes and traced extras included. A run
that raises or fails a check is counted as failed and its timings are
dropped. The JVM and every process it started are stopped
and waited for before returning.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import time
import traceback

from perfbench import checks, inputs, procs
from perfbench.workloads import Workload, resumed_stages

# two resumes (their median) ride out a short burst of host load; a
# third does not fit the time a full comparison may take
MIN_RESUMES = 2


class CheckFailed(Exception):
    pass


def spark_conf(work: str, event_dir: str | None) -> dict[str, str]:
    """Keep the JVM's scratch files inside the work dir; the event log
    is on only for traced runs."""
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def run_pipeline(spark, pipeline: str, sf_dir: str, out_dir: str) -> dict:
    if pipeline == "kg":
        from kgp.pipeline import run_pipeline as run
    else:
        from kgp.datapipeline import run_data_pipeline as run
    return run(spark, sf_dir, out_dir)


def check_output(pipeline: str, sf_dir: str, out_dir: str,
                 plan: list[dict]) -> dict:
    if pipeline == "kg":
        tr = checks.triples(out_dir, sf_dir)
        tx = checks.text(out_dir, sf_dir)
        return {**tr, **tx, "ok": tr["ok"] and tx["ok"]}
    return checks.duplicates(out_dir, plan)


def snapshot(pipeline: str, out_dir: str) -> dict:
    """What a resume must reproduce: the content of every stage it
    re-makes. The lineage footer checksums are kept to report which
    stages came back with another file layout."""
    stages = resumed_stages(pipeline)
    return {"content": checks.stage_contents(out_dir, stages),
            "lineage": checks.lineage_checksums(out_dir, stages)}


def resume(spark, pipeline: str, sf_dir: str, out_dir: str,
           full: dict) -> tuple[float, list[str]]:
    """Delete the stages after the resume point, re-run, and check the
    re-made stages against the full run's snapshot. Returns the time
    and the stages whose lineage checksums changed."""
    stages = resumed_stages(pipeline)
    for s in stages:
        shutil.rmtree(os.path.join(out_dir, s))
    t0 = time.perf_counter()
    run_pipeline(spark, pipeline, sf_dir, out_dir)
    took = time.perf_counter() - t0
    now = snapshot(pipeline, out_dir)
    differ = [s for s in stages
              if not checks.same_rows(now["content"][s], full["content"][s])]
    if differ:
        raise CheckFailed(f"{pipeline} resume: {differ} differ from the "
                          "full run")
    return took, [s for s in stages
                  if now["lineage"][s] != full["lineage"][s]]


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait
    for the JVM and every process it forked."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    before = procs.tree(os.getpid())[1:]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in before):
            return
        time.sleep(0.1)
    for p in before:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_once(wl: Workload, seed: int, seconds: float, work: str,
             tracer=None) -> dict:
    """Measure one run; returns samples, check ratios and diagnostics."""
    from kgp.session import get_spark

    me = os.getpid()
    res: dict = {"attempted": 1, "failed": 0, "errors": [],
                 "host_before": procs.host_sample()}
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    sf_dir = os.path.join(run_dir, "sf")
    outs = {p: os.path.join(run_dir, p) for p in ("kg", "curate")}

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(
        work, tracer.event_dir if tracer else None))
    res["setup_s"] = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        inputs.write_documents(sf_dir, wl.pages, seed)
        plan = (inputs.dup_plan(inputs.doc_ids(sf_dir), seed)
                if wl.dups else [])
        res["pages"] = inputs.write_pages(
            spark, sf_dir, outs[wl.pipeline], wl.pipeline, plan)
        if tracer:
            inputs.write_pages(spark, sf_dir, outs[wl.other], wl.other, [])
            tracer.install(spark)
        res["input_s"] = time.perf_counter() - t0

        out_dir = outs[wl.pipeline]
        cpu0 = procs.tree_cpu_s(me)
        m0 = t0 = time.perf_counter()
        with _traced(tracer, "full", wl.pipeline):
            full = run_pipeline(spark, wl.pipeline, sf_dir, out_dir)
        wall = time.perf_counter() - t0
        cpu = procs.tree_cpu_s(me) - cpu0
        hwm = procs.tree_hwm_mb(me)
        rss = sum(hwm.values())
        res["checks"] = check_output(wl.pipeline, sf_dir, out_dir, plan)
        if not res["checks"]["ok"]:
            raise CheckFailed(f"output check: {res['checks']}")
        res.update(wall_s=wall, cpu_s=cpu, peak_rss_mb=rss, hwm_mb=hwm,
                   stage_wall_s={k: v.get("wall_s") for k, v in full.items()
                                 if isinstance(v, dict)})
        before = snapshot(wl.pipeline, out_dir)

        resumes: list[float] = []
        res["layout_changed"] = []
        while (len(resumes) < MIN_RESUMES
               or time.perf_counter() - m0 < seconds):
            with _traced(tracer, "resume", wl.pipeline):
                took, changed = resume(spark, wl.pipeline, sf_dir, out_dir,
                                       before)
            resumes.append(took)
            res["layout_changed"].append(changed)
        res["resume_s"] = statistics.median(resumes)
        res["resume_samples"] = resumes

        if tracer:
            res["stage_rows"] = stage_rows(wl.pipeline, full)
            res.update(trace_other(spark, wl, sf_dir, outs, tracer))
            from perfbench.trace import kernels
            res["kernels"] = kernels(outs["kg"], outs["curate"])
        return res
    except Exception as e:  # a crashed run or a failed check
        res["failed"] = 1
        res["errors"].append(str(e) if isinstance(e, CheckFailed)
                             else traceback.format_exc())
        return res
    finally:
        res["host_after"] = procs.host_sample()
        stop_spark(spark)
        if tracer:
            tracer.uninstall()


def trace_other(spark, wl: Workload, sf_dir: str, outs: dict,
                tracer) -> dict:
    """Full run (and, for the KG pipeline, a resume) of the other
    pipeline over the workload's original pages, checked like the
    workload's own."""
    other, out_dir = wl.other, outs[wl.other]
    with tracer.run("full", other):
        full = run_pipeline(spark, other, sf_dir, out_dir)
    got = check_output(other, sf_dir, out_dir, [])
    if not got["ok"]:
        raise CheckFailed(f"{other} output check: {got}")
    if other == "kg":
        before = snapshot(other, out_dir)
        with tracer.run("resume", other):
            resume(spark, other, sf_dir, out_dir, before)
    return {"other_checks": got,
            "stage_rows_other": stage_rows(other, full)}


def stage_rows(pipeline: str, metrics: dict) -> dict:
    return {f"{pipeline}.{k}": v["rows"] for k, v in metrics.items()
            if isinstance(v, dict) and "rows" in v}


def _traced(tracer, phase: str, pipeline: str):
    return (tracer.run(phase, pipeline) if tracer
            else contextlib.nullcontext())
