"""The benchmark's workloads: input shape and pipeline per name."""

from __future__ import annotations

from dataclasses import dataclass

KG_STAGES = ["docs", "ner_model", "mentions", "links", "canon",
             "triples_raw", "triples"]
CURATE_STAGES = ["dedup", "signals", "curated", "links", "host_graph",
                 "ranks"]
STAGES = {"kg": KG_STAGES, "curate": CURATE_STAGES}
# a resume deletes every stage after this one and re-runs the pipeline
RESUME_AFTER = {"kg": "ner_model", "curate": "curated"}


def resumed_stages(pipeline: str) -> list[str]:
    s = STAGES[pipeline]
    return s[s.index(RESUME_AFTER[pipeline]) + 1:]


@dataclass(frozen=True)
class Workload:
    name: str
    pipeline: str   # "kg" (kgp.pipeline) or "curate" (kgp.datapipeline)
    pages: int      # generated original pages
    dups: bool      # inject duplicate clusters

    @property
    def other(self) -> str:
        """The pipeline the traced run profiles beside this one."""
        return "curate" if self.pipeline == "kg" else "kg"


WORKLOADS = {w.name: w for w in [
    Workload("kg_light", "kg", 1000, False),
    Workload("curate_dup", "curate", 1000, True),
]}
