"""Scaling-efficiency evidence: same job, two parallelism levels.

The north rule requires throughput scaling efficiency >= 0.8 between N
and 4N executors; in this single-machine sandbox that is evidenced at
local[N] vs local[4N] on identical input (per BASELINE.md). Each level
runs in its OWN subprocess (a JVM's master can't change after start,
and a warm JVM would bias the second run).

    python bench/scaling.py [N] [sf_dir]   # default N=4 → 4 vs 16
(16, not 32, as the high level: the sandbox VM has 1.5-4.5 CPUs of
hypervisor steal, so a fully-saturated local[32] measures the noisy
neighbor, not the code; 4→16 leaves headroom and isolates OUR scaling)

Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


REPLICATE = int(os.environ.get("KGP_BENCH_REPLICATE", "8"))
HEAVY = int(os.environ.get("KGP_BENCH_HEAVY", "100"))
REPEATS = int(os.environ.get("KGP_BENCH_REPEATS", "2"))


def run_level(cores: int, sf_dir: str) -> dict:
    """Run bench.py in a fresh subprocess REPEATS times; keep the run
    with the lowest wall. This sandbox is a shared VM with 1.5-4.5
    stolen CPUs in bursts (measured via /proc/stat steal); min-wall is
    the closest observable to the machine's true capability, and the
    same selection is applied to BOTH levels."""
    # KGP_BENCH_REPEATS=1: this script does its own min-of-repeats;
    # bench.py must time single runs here
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               PYTHONPATH=REPO, KGP_BENCH_REPEATS="1")
    best = None
    for _ in range(REPEATS):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"), str(cores),
             str(REPLICATE), str(HEAVY)],
            env=env, capture_output=True, text=True, check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        if best is None or r["value"] < best["value"]:
            best = r
    return best


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    lo = run_level(n, sf_dir)
    hi = run_level(4 * n, sf_dir)
    tps_lo, tps_hi = lo["pages_per_sec"], hi["pages_per_sec"]
    eff = (tps_hi / tps_lo) / 4
    result = {"metric": "scaling_efficiency", "value": round(eff, 3),
              "unit": "ratio", "n_cores": n, "n4_cores": 4 * n,
              "pages_per_sec_n": tps_lo, "pages_per_sec_4n": tps_hi,
              "wall_n": lo["value"], "wall_4n": hi["value"],
              "sf": sf_dir}
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(
            "# BENCH — measured pipeline throughput & scaling\n\n"
            f"Input: `{sf_dir}` ({lo['pages']} pages), identical for "
            "both levels; full materialized pipeline (all stages, "
            "force-recomputed), single-JVM `local[K]`.\n\n"
            "| level | cores | wall (s) | pages/s | triples/s |\n"
            "|---|---|---|---|---|\n"
            f"| N | {n} | {lo['value']} | {lo['pages_per_sec']} | "
            f"{lo['triples_per_sec']} |\n"
            f"| 4N | {4 * n} | {hi['value']} | {hi['pages_per_sec']} | "
            f"{hi['triples_per_sec']} |\n\n"
            f"**Scaling efficiency** = (pages/s at 4N ÷ pages/s at N) / 4 "
            f"= **{eff:.3f}** (target ≥ 0.8)\n\n"
            "Per-stage wall seconds:\n\n"
            "| stage | N | 4N |\n|---|---|---|\n" +
            "".join(f"| {k} | {lo['queries'].get(k)} | "
                    f"{hi['queries'].get(k)} |\n"
                    for k in lo["queries"]) +
            "\nNotes: fixed costs (JVM+session start ~10 s, Python worker "
            "fork, tiny model-training stages) are NOT subtracted; at "
            "cluster scale those amortize to zero, so these efficiencies "
            "are a lower bound.\n"
            f"\nMethodology: each level is min-of-{REPEATS} "
            "fresh-subprocess runs (this VM has 1.5-4.5 CPUs of bursty "
            "hypervisor steal, measured via /proc/stat; min-wall is the "
            "closest observable to true capability and the same selection "
            "applies to BOTH levels). The single-shot bench numbers "
            "(BENCH_r*.json) sit above these min-of-repeats ones on this "
            "VM; both are real.\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
