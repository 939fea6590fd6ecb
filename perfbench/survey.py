#!/usr/bin/env python3
"""Survey the registered queries and freeze the workload lists.

    python3 perfbench/survey.py survey sf0.1      # every query with an oracle
    python3 perfbench/survey.py survey sf0.1x10   # the 10x candidates (see freeze)
    python3 perfbench/survey.py freeze            # write perfbench/workloads.json

`survey <data> a,b,c` surveys the named queries only.

`survey` runs the harness for one warm-up pass, one untraced and one
traced pass (the same purged passes the benchmark runs) and writes, per query, its build
and materialize seconds, its build-phase jobs and the modules they came
from, and any failure, to .bench_build/survey/<data>.json. Queries whose
DuckDB oracle takes over 30 s are left out: their results cannot be
checked within a run's set-up.

`freeze` applies the selection rules below to the sf0.1 and sf0.1x10
surveys and writes the lists, with the numbers that chose them, to
perfbench/workloads.json. run.py reads only that file.
"""
import argparse
import collections
import json
import re
import statistics
import time

import run

FAMILIES = {"ingest": ("Relational", "IngestQ"),
            "llm": ("TextQ", "CorpusQ", "ScaleQ", "StreamQ")}
INGEST_BUDGET_S = 4.0     # cold sf0.1 seconds of the ingest_qa sample
SCALED_BUDGET_S = 3.5     # cold 10x seconds of each scaled_10x pool's sample
SCALED_CANDIDATE_S = 1.0  # sf0.1 cold seconds at most, to be surveyed at 10x
MIN_QUERIES = 2
# Modules with per-layer eager-job metrics (graftbench.Tracer.EagerModules).
EAGER_MODULES = ("operators", "ingest", "sources")


def family_of():
    """Query name -> the registry file (Relational, IngestQ, ...) it is in."""
    out = {}
    for f in (run.ROOT / "src" / "main" / "scala" / "graft" / "queries").glob("*.scala"):
        for m in re.finditer(r'Q\(\s*"([A-Za-z0-9_]+)"', f.read_text()):
            out[m.group(1)] = f.stem
    return out


def per_query(spans_file):
    recs = [json.loads(line) for line in spans_file.read_text().splitlines()]
    by_id = {r["id"]: r for r in recs}
    out = {r["name"]: {"build_s": 0.0, "materialize_s": 0.0, "build_jobs": 0,
                       "modules": collections.Counter()}
           for r in recs if r["kind"] == "query"}
    for r in recs:
        if r["kind"] in ("build", "materialize"):
            out[r["name"]][f"{r['kind']}_s"] = round((r["end_ms"] - r["start_ms"]) / 1e3, 3)
        elif r["kind"] == "job" and by_id[r["parent"]]["kind"] == "build":
            q = out[by_id[r["parent"]]["name"]]
            q["build_jobs"] += 1
            q["modules"][r["module"]] += 1
    return out


def survey(data, queries):
    deadline = time.time() + 3600
    run.WORK.mkdir(exist_ok=True)
    run.build(deadline)
    data_dir = run.ensure_data(data, deadline)
    if queries:
        names = queries.split(",")
    elif "x" in data:
        names = sorted(q for pool in llm_pools(load("sf0.1")).values() for q in pool
                       if total(load("sf0.1")[q]) <= SCALED_CANDIDATE_S)
    else:
        names = sorted(json.loads(run.ORACLE_SQL.read_text()))
    expect = run.oracle_counts(data_dir, names, limit_s=30)
    names = [n for n in names if n in expect]
    args = argparse.Namespace(seed=0, seconds=0, trace=1)
    # measured passes go untraced, traced: the second is the one surveyed
    raw, spans = run.harness(f"survey-{data}", names, data_dir, expect, args, deadline,
                             min_passes=2, warmup=1)
    rows = per_query(spans)
    for f in raw["failures"]:
        rows[f["query"]]["failure"] = f"{f['class']}: {f['message']}"
    out = run.WORK / "survey" / f"{data}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(rows, indent=1, sort_keys=True))
    run.log(f"{len(rows)} queries, {len(raw['failures'])} failed; wrote {out}")


def spaced_sample(pool, rows, budget):
    """The largest sample at evenly spaced ranks of cold time whose cold
    times sum to at most `budget` seconds."""
    ranked = sorted(pool, key=lambda q: (total(rows[q]), q))
    for k in range(len(ranked), 0, -1):
        pick = [ranked[int((i + 0.5) * len(ranked) / k)] for i in range(k)]
        if sum(total(rows[q]) for q in pick) <= budget:
            return pick
    return []


def cover_modules(pick, pool, rows):
    """`pick` plus, for each of EAGER_MODULES that runs build jobs for some
    query of `pool` but for none of `pick`, the pool's cheapest such query
    by cold time, so every module the pool exercises is measured."""
    pick = list(pick)
    for mod in EAGER_MODULES:
        users = [q for q in pool if rows[q]["modules"].get(mod)]
        if users and not any(rows[q]["modules"].get(mod) for q in pick):
            pick.append(min(users, key=lambda q: (total(rows[q]), q)))
    return pick


def total(r):
    return r["build_s"] + r["materialize_s"]


def stats(names, rows):
    t = [total(rows[q]) for q in names]
    return {"queries": len(names), "pass_s": round(sum(t), 2),
            "median_query_s": round(statistics.median(t), 3),
            "build_jobs_per_query": round(sum(rows[q]["build_jobs"] for q in names) / len(names), 2),
            "build_share": round(sum(rows[q]["build_s"] for q in names) / sum(t), 2)}


def load(data):
    return json.loads((run.WORK / "survey" / f"{data}.json").read_text())


def llm_pools(rows):
    """The eager-build and materialize-heavy pools of LLM-data queries."""
    fam = family_of()
    llm = [q for q in sorted(rows) if "failure" not in rows[q] and fam[q] in FAMILIES["llm"]]
    return {"eager_build": [q for q in llm if rows[q]["build_jobs"] >= 3],
            "materialize_heavy": [q for q in llm if rows[q]["build_jobs"] <= 2
                                  and rows[q]["materialize_s"] >= 0.5]}


def freeze():
    rows, rows10 = load("sf0.1"), load("sf0.1x10")
    fam = family_of()
    ingest = [q for q in sorted(rows) if "failure" not in rows[q] and fam[q] in FAMILIES["ingest"]]
    pick = cover_modules(spaced_sample(ingest, rows, INGEST_BUDGET_S), ingest, rows)
    cover = ("plus, for each of the operators, ingest and sources modules that runs build "
             "jobs for some query of the pool but for none of the sample, the pool's cheapest "
             "such query")
    out = {"ingest_qa": {
        "data": "sf0.1", "queries": pick,
        "rule": "Relational and IngestQ queries with an oracle that runs within 30 s, surveyed "
                "on sf0.1; the largest sample at evenly spaced ranks of cold time whose cold "
                f"times sum to <= {INGEST_BUDGET_S} s, {cover}",
        "pool": stats(ingest, rows), "chosen": stats(pick, rows),
        "cold": {q: rows[q] for q in pick}}}
    pools = {k: [q for q in v if q in rows10 and "failure" not in rows10[q]]
             for k, v in llm_pools(rows).items()}
    picks = {k: spaced_sample(v, rows10, SCALED_BUDGET_S) for k, v in pools.items()}
    for k, v in picks.items():
        if not v:
            raise SystemExit(f"scaled_10x: no {k} query fits the pass budget")
    pick = cover_modules(picks["eager_build"] + picks["materialize_heavy"],
                         pools["eager_build"] + pools["materialize_heavy"], rows10)
    out["scaled_10x"] = {
        "data": "sf0.1x10", "queries": pick,
        "rule": "TextQ/CorpusQ/ScaleQ/StreamQ queries in two pools, eager_build (>= 3 build "
                "jobs on sf0.1) and materialize_heavy (<= 2 build jobs and >= 0.5 s to "
                f"materialize on sf0.1), that take <= {SCALED_CANDIDATE_S} s on sf0.1, surveyed "
                "on sf0.1x10; from each pool the largest sample at evenly spaced ranks of cold "
                f"time whose cold times sum to <= {SCALED_BUDGET_S} s; {cover}",
        "pool": {k: stats(v, rows10) for k, v in pools.items()},
        "chosen": stats(pick, rows10),
        "cold": {q: rows10[q] for q in pick},
        "cold_sf0.1": {q: rows[q] for q in pick}}
    for name, w in out.items():
        if len(w["queries"]) < MIN_QUERIES:
            raise SystemExit(f"{name}: only {len(w['queries'])} queries fit the pass budget")
    path = run.BENCH / "workloads.json"
    path.write_text(json.dumps({"workloads": out}, indent=1) + "\n")
    run.log(f"wrote {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("survey")
    s.add_argument("data")
    s.add_argument("queries", nargs="?")
    sub.add_parser("freeze")
    a = ap.parse_args()
    if a.cmd == "survey":
        survey(a.data, a.queries)
    else:
        freeze()


if __name__ == "__main__":
    main()
