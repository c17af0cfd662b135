"""The traced run: per-stage spans from wrappers around kgp's public
calls, Spark metrics per stage from the event log, and single-core
kernel rates.

`Tracer.install` wraps, for the life of the run:

    kgp.pipeline._stage, kgp.datapipeline._stage
        the stage runner both pipelines call; the stage's builder is
        wrapped so the span starts at the first call into it, and the
        stage is set as the Spark job group ("<phase>:<pipeline>.<stage>")
    kgp.materialize.write_stage        span end; driver_s excludes it
    kgp.materialize.footer_manifest, kgp.materialize._append_lineage_rows
                                       lineage_s
    kgp.materialize.stage_done, kgp.materialize.read_stage
                                       resume.check_s
    kgp.pipeline.load_ner_model        resume.model_load_s

Jobs outside a stage span run in the group "<phase>:<pipeline>".
After the session stops, `eventlog.profile` turns the log into
per-group jobs, CPU, GC, shuffle bytes, skew and Python rows.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time

from perfbench import eventlog
from perfbench.workloads import STAGES

# stages whose work runs in Python workers (py_rows is reported there)
PY_STAGES = {"kg": ["docs", "ner_model", "mentions", "triples_raw"],
             "curate": ["dedup", "signals", "links"]}
STAGE_METRICS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                 ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
                 ("skew", "ratio")]
PIPE_METRICS = [("unattributed_s", "s"), ("lineage_s", "s"),
                ("slot_util", "ratio")]
EXTRA_METRICS = [("kg.resume.check_s", "s"),
                 ("kg.resume.model_load_s", "s"),
                 ("kg.ner_model.scan_yield", "ratio"),
                 ("curate.dedup.verify_yield", "ratio"),
                 ("kernel.extract_pages_per_s", "1/s"),
                 ("kernel.train_scan_docs_per_s", "1/s"),
                 ("kernel.tag_sentences_per_s", "1/s"),
                 ("kernel.jaccard_pairs_per_s", "1/s")]
# each kernel is timed on this many inputs, repeated for at least
# KERNEL_S seconds
KERNEL_ITEMS = 100
KERNEL_S = 0.5


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out: dict[str, str] = {}
    for pipe, stages in STAGES.items():
        for s in stages:
            for m, u in STAGE_METRICS:
                out[f"{pipe}.{s}.{m}"] = u
            if s in PY_STAGES[pipe]:
                out[f"{pipe}.{s}.py_rows"] = "count"
        for m, u in PIPE_METRICS:
            out[f"{pipe}.{m}"] = u
    out.update(EXTRA_METRICS)
    return out


class Tracer:
    def __init__(self, work: str):
        self.event_dir = os.path.join(work, "events")
        shutil.rmtree(self.event_dir, ignore_errors=True)
        os.makedirs(self.event_dir)
        self.spark = None
        self.phase = ""        # "full" or "resume"
        self.pipe = ""         # "kg" or "curate"
        self.spans: dict[str, dict] = {}   # "kg.docs" -> span of the full run
        self.walls: dict[str, float] = {}  # "full:kg" -> run wall
        self.calls: dict[str, float] = {}  # "full:kg.lineage" -> seconds
        self._runs: dict[str, int] = {}
        self._active: dict | None = None
        self._in_model_load = False
        self._undo: list = []

    # ------------------------------------------------------ wrappers

    def _patch(self, mod, name: str, wrapper) -> None:
        orig = getattr(mod, name)
        self._undo.append((mod, name, orig))
        setattr(mod, name, wrapper(orig))

    def _add(self, key: str, seconds: float) -> None:
        k = f"{self.phase}:{self.pipe}.{key}"
        self.calls[k] = self.calls.get(k, 0.0) + seconds

    def _timed(self, key: str):
        def wrap(orig):
            def call(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    if not self._in_model_load:
                        self._add(key, time.perf_counter() - t0)
            return call
        return wrap

    def _group(self, stage: str | None) -> None:
        name = f"{self.pipe}.{stage}" if stage else self.pipe
        self.spark.sparkContext.setJobGroup(f"{self.phase}:{name}", name)

    def _stage_wrap(self, orig):
        def stage(spark, out_dir, name, fn, *a, **kw):
            span = {"start": None, "end": None, "write_s": 0.0}

            def builder():
                span["start"] = time.perf_counter()
                return fn()
            self._active = span
            self._group(name)
            try:
                return orig(spark, out_dir, name, builder, *a, **kw)
            finally:
                self._active = None
                self._group(None)
                if span["start"] is not None and self.phase == "full":
                    self.spans[f"{self.pipe}.{name}"] = span
        return stage

    def _write_wrap(self, orig):
        def write_stage(*a, **kw):
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            t1 = time.perf_counter()
            if self._active is not None:
                self._active["write_s"] += t1 - t0
                self._active["end"] = t1
            return out
        return write_stage

    def _model_wrap(self, orig):
        def load_ner_model(*a, **kw):
            t0 = time.perf_counter()
            self._in_model_load = True
            try:
                return orig(*a, **kw)
            finally:
                self._in_model_load = False
                self._add("model_load", time.perf_counter() - t0)
        return load_ner_model

    def install(self, spark) -> None:
        from kgp import datapipeline, materialize, pipeline
        self.spark = spark
        self._patch(pipeline, "_stage", self._stage_wrap)
        self._patch(datapipeline, "_stage", self._stage_wrap)
        self._patch(materialize, "write_stage", self._write_wrap)
        self._patch(materialize, "footer_manifest", self._timed("lineage"))
        self._patch(materialize, "_append_lineage_rows",
                    self._timed("lineage"))
        self._patch(materialize, "stage_done", self._timed("check"))
        self._patch(materialize, "read_stage", self._timed("check"))
        self._patch(pipeline, "load_ner_model", self._model_wrap)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._undo):
            setattr(mod, name, orig)
        self._undo.clear()

    @contextlib.contextmanager
    def run(self, phase: str, pipe: str):
        """One pipeline run: its jobs go to this phase's groups. Only
        the first run of each (phase, pipeline) is reported; later ones
        get the phase name "<phase><n>"."""
        key = f"{phase}:{pipe}"
        n = self._runs[key] = self._runs.get(key, 0) + 1
        self.phase = phase if n == 1 else f"{phase}{n}"
        self.pipe = pipe
        self._group(None)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[f"{self.phase}:{pipe}"] = time.perf_counter() - t0
            self.spark.sparkContext.setJobGroup("bench", "bench")

    # ------------------------------------------------------- metrics

    def metrics(self, slots: int, stage_rows: dict) -> dict[str, float]:
        """Per-layer values; call after the session has stopped (the
        event log is complete only then). stage_rows maps
        "<pipeline>.<stage>" to the full run's output rows."""
        logs = [p for p in glob.glob(os.path.join(self.event_dir, "*"))
                if os.path.isfile(p)]
        if len(logs) != 1 or not eventlog.complete(logs[0]):
            raise RuntimeError(
                f"want one complete event log in {self.event_dir}, "
                f"found {[os.path.basename(p) for p in logs]}")
        groups = eventlog.profile(logs[0])
        empty = eventlog.Group()
        out: dict[str, float] = {}
        for pipe, stages in STAGES.items():
            wall = self.walls[f"full:{pipe}"]
            spanned = 0.0
            for s in stages:
                span = self.spans[f"{pipe}.{s}"]
                g = groups.get(f"full:{pipe}.{s}", empty)
                took = span["end"] - span["start"]
                spanned += took
                vals = {"wall_s": took, "driver_s": took - span["write_s"],
                        "jobs": g.jobs, "cpu_s": g.cpu_s, "gc_s": g.gc_s,
                        "shuffle_mb": g.shuffle_mb, "skew": g.skew}
                if s in PY_STAGES[pipe]:
                    vals["py_rows"] = g.py_rows
                out.update({f"{pipe}.{s}.{k}": v for k, v in vals.items()})
            task_s = sum(g.task_s for name, g in groups.items()
                         if name.startswith(f"full:{pipe}"))
            out[f"{pipe}.unattributed_s"] = wall - spanned
            out[f"{pipe}.lineage_s"] = self.calls.get(
                f"full:{pipe}.lineage", 0.0)
            out[f"{pipe}.slot_util"] = task_s / (slots * wall)
        out["kg.resume.check_s"] = self.calls.get("resume:kg.check", 0.0)
        out["kg.resume.model_load_s"] = self.calls.get(
            "resume:kg.model_load", 0.0)
        scan = out["kg.ner_model.py_rows"]
        out["kg.ner_model.scan_yield"] = (
            stage_rows["kg.ner_model"] / scan if scan else 0.0)
        dedup = groups.get("full:curate.dedup", empty)
        sent, kept = eventlog.udf_filter_rows(dedup, "jac")
        out["curate.dedup.verify_yield"] = kept / sent if sent else 0.0
        return out


# ------------------------------------------------------------ kernels


def _rate(fn, items: list) -> float:
    """items per second of fn over items, single core, repeated until
    KERNEL_S has passed; the median pass rate."""
    rates: list[float] = []
    t_end = time.perf_counter() + KERNEL_S
    while not rates or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        rates.append(len(items) / (time.perf_counter() - t0))
    return statistics.median(rates)


def kernels(out_dir: str, curate_out: str) -> dict[str, float]:
    """L3 rates of the pure-Python hot loops on a fixed slice of this
    run's tables, in this process, without Spark."""
    import pyarrow.parquet as pq

    from kgp import dedup, html_text, mentions

    def head(stage_dir: str, cols: list[str]) -> list[dict]:
        files = sorted(glob.glob(os.path.join(stage_dir, "*.parquet")))
        rows: list[dict] = []
        for f in files:
            rows += pq.read_table(f, columns=cols).to_pylist()
            if len(rows) >= KERNEL_ITEMS:
                break
        return rows[:KERNEL_ITEMS]

    pages = head(os.path.join(out_dir, "pages"), ["url", "html"])
    docs = head(os.path.join(out_dir, "docs"), ["text", "sentences"])
    texts = [r["text"] for r in head(os.path.join(curate_out, "pages"),
                                     ["text"])]
    model_rows = pq.read_table(os.path.join(out_dir, "ner_model")) \
        .select(["kind", "key", "tag", "count"]).to_pylist()
    model = mentions.model_from_rows(
        [(r["kind"], r["key"], r["tag"], r["count"]) for r in model_rows])
    sents = [s for d in docs for s in (d["sentences"] or [])]

    def scan(text: str) -> None:
        mentions.case_dictionary_pairs(text)
        mentions.candidate_annotations(text)
    pairs = list(zip(texts, texts[1:] + texts[:1]))
    return {
        "kernel.extract_pages_per_s": _rate(
            lambda p: html_text.extract_main_content(p["html"], p["url"]),
            pages),
        "kernel.train_scan_docs_per_s": _rate(
            lambda d: scan(d["text"]), docs),
        "kernel.tag_sentences_per_s": _rate(
            lambda s: mentions.tag_sentence(s["text"], int(s["start"]),
                                            model), sents[:KERNEL_ITEMS]),
        "kernel.jaccard_pairs_per_s": _rate(
            lambda ab: dedup.ngram_jaccard(*ab), pairs),
    }
