"""Output checks against the independent oracles, read straight from the
stage parquet files with DuckDB and pyarrow (no Spark).

Each check returns named ratios plus `ok`. A run whose check fails is
counted as failed and its timings are dropped.
"""

from __future__ import annotations

import math
import os

import duckdb

# BASELINE.json's bar for the triple set; text must be byte-identical
MIN_PR = 0.95
MIN_ORIG_KEPT = 0.99


def _glob(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage, "**", "*.parquet")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def triples(out_dir: str, sf_dir: str) -> dict:
    """Triple precision/recall against kgp.golden for the run's doc ids."""
    from kgp.golden import golden_triples, precision_recall
    con = duckdb.connect()
    try:
        got = set(con.execute(
            "SELECT subj, pred, obj FROM read_parquet(?, "
            "hive_partitioning = true)",
            [_glob(out_dir, "triples")]).fetchall())
        ids = [r[0] for r in con.execute(
            "SELECT doc_id FROM read_parquet(?)",
            [os.path.join(sf_dir, "documents.parquet")]).fetchall()]
    finally:
        con.close()
    p, r = precision_recall(got, golden_triples(ids))
    return {"triple_precision": p, "triple_recall": r,
            "ok": p >= MIN_PR and r >= MIN_PR}


def text(out_dir: str, sf_dir: str) -> dict:
    """Share of urls whose extracted docs.text equals the golden text
    byte for byte; the golden is kgp.oracle.extract_text_sql over the
    generated documents."""
    from kgp.oracle import extract_text_sql
    con = duckdb.connect()
    try:
        docs = _sql_str(os.path.join(sf_dir, "documents.parquet"))
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet({docs})")
        con.execute(f"CREATE VIEW golden AS {extract_text_sql()}")
        n, same = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE d.text = g.text) "
            "FROM golden g LEFT JOIN read_parquet(?) d USING (url)",
            [_glob(out_dir, "docs")]).fetchone()
    finally:
        con.close()
    share = same / n if n else 0.0
    return {"text_exact": share, "ok": n > 0 and same == n}


def duplicates(out_dir: str, plan: list[dict]) -> dict:
    """The injected duplicates against the dedup and curated tables:
    every duplicate must be gone from `curated` and grouped with its
    source (exact copies by exact_group, near copies by near_group),
    and the originals must survive. Without duplicates only the
    survival of the originals is checked."""
    con = duckdb.connect()
    try:
        kept = {r[0] for r in con.execute(
            "SELECT doc_id FROM read_parquet(?)",
            [_glob(out_dir, "curated")]).fetchall()}
        groups = {r[0]: (r[1], r[2]) for r in con.execute(
            "SELECT doc_id, exact_group, near_group FROM read_parquet(?)",
            [_glob(out_dir, "dedup")]).fetchall()}
    finally:
        con.close()
    dup_ids = {p["dup_id"] for p in plan}
    originals = [d for d in groups if d not in dup_ids]
    removed = sum(1 for d in dup_ids if d not in kept)
    grouped = all(
        groups[p["dup_id"]][0 if p["kind"] == "exact" else 1]
        == groups[p["src_id"]][0 if p["kind"] == "exact" else 1]
        for p in plan)
    dup_removed = removed / len(dup_ids) if dup_ids else 1.0
    orig_kept = sum(1 for d in originals if d in kept) / len(originals)
    return {"dup_removed": dup_removed, "orig_kept": orig_kept,
            "ok": (grouped and dup_removed == 1.0
                   and orig_kept >= MIN_ORIG_KEPT)}


_FLOATS = ("DOUBLE", "FLOAT")


def stage_contents(out_dir: str, stages: list[str]) -> dict:
    """stage -> every row, sorted by the non-float columns first, so
    equal row multisets give equal lists whatever the file layout."""
    con = duckdb.connect()
    try:
        out = {}
        for s in stages:
            src = (f"read_parquet({_sql_str(_glob(out_dir, s))}, "
                   "hive_partitioning = true)")
            cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
            order = sorted(range(len(cols)),
                           key=lambda i: cols[i][1] in _FLOATS)
            by = ", ".join(f'"{cols[i][0]}"' for i in order)
            out[s] = con.execute(
                f"SELECT * FROM {src} ORDER BY {by}").fetchall()
        return out
    finally:
        con.close()


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Row lists equal, floats within rounding: a Spark sum of doubles
    (pagerank's contributions) adds in shuffle arrival order, so its
    last bits differ from run to run."""
    return len(a) == len(b) and all(
        len(r) == len(q) and all(map(_close, r, q)) for r, q in zip(a, b))


def _close(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
    return x == y


def lineage_checksums(out_dir: str, stages: list[str]) -> dict:
    """stage -> sorted footer checksums of its latest lineage append."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT stage, run_ts, checksum FROM read_parquet(?)",
            [os.path.join(out_dir, "lineage", "*.parquet")]).fetchall()
    finally:
        con.close()
    latest: dict[str, float] = {}
    for stage, ts, _ in rows:
        latest[stage] = max(ts, latest.get(stage, ts))
    return {s: sorted(c for st, ts, c in rows
                      if st == s and ts == latest.get(s))
            for s in stages}
