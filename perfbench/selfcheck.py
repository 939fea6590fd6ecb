#!/usr/bin/env python3
"""Self-check of the benchmark harness on the small sf0.001 tables.

    python3 perfbench/selfcheck.py

Checks that
  - every query named in perfbench/workloads.json is registered in
    SparkEntry.queries (through its oracle SQL, which every listed query
    must have);
  - every module with a `<module>.eager_jobs` metric runs build jobs for
    some listed query (by the frozen cold-pass numbers);
  - an injected failing query and a wrong oracle row count are both
    counted as failed, with the query, exception class and message;
  - the result lines of an untraced and a traced run carry exactly the
    end-to-end and per-layer metrics of BENCHMARK.json, with their units.
Exits 0 when all hold, 1 otherwise.
"""
import argparse
import json
import sys
import time

import run

QUERY = "q1_agg"


def main():
    deadline = time.time() + 900
    run.WORK.mkdir(exist_ok=True)
    run.build(deadline)
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    workloads = json.loads((run.BENCH / "workloads.json").read_text())["workloads"]
    problems = []

    registered = set(json.loads(run.ORACLE_SQL.read_text()))
    for name, w in workloads.items():
        missing = [q for q in w["queries"] if q not in registered]
        if missing:
            problems.append(f"workload {name} lists unregistered queries {missing}")
    covered = {m for w in workloads.values() for r in w["cold"].values() for m in r["modules"]}
    for m in spec["per_layer"]:
        module, _, what = m["name"].partition(".")
        if what == "eager_jobs" and module not in covered:
            problems.append(f"no listed query runs build jobs in {module}: {m['name']} would be 0")
    if sorted(workloads) != sorted(w["name"] for w in spec["workloads"]):
        problems.append("perfbench/workloads.json and BENCHMARK.json name different workloads")

    data_dir = run.ensure_data("sf0.001", deadline)
    expect = run.oracle_counts(data_dir, [QUERY])
    queries = [QUERY, run.INJECTED_FAILURE]
    for trace, listed in ((0, "end_to_end"), (1, "per_layer")):
        args = argparse.Namespace(seed=1, seconds=0, trace=trace)
        raw, _ = run.harness("selfcheck", queries, data_dir, expect, args, deadline)
        line = json.loads(json.dumps(run.result(raw, spec, trace == 1)))
        want = {m["name"]: m["unit"] for m in spec[listed]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        if got != want:
            problems.append(f"trace={trace}: metrics {got} differ from BENCHMARK.json {want}")
        if set(line) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"trace={trace}: result keys {sorted(line)}")
        injected = [f for f in raw["failures"] if f["query"] == run.INJECTED_FAILURE]
        if (line["correct"] or line["failed"] != len(injected) or len(injected) != line["attempted"] // 2
                or any(f["class"] != "java.lang.IllegalStateException" for f in injected)):
            problems.append(f"trace={trace}: injected failure not counted: {line} {raw['failures']}")

    args = argparse.Namespace(seed=1, seconds=0, trace=0)
    raw, _ = run.harness("selfcheck", [QUERY], data_dir, {QUERY: expect[QUERY] + 1}, args, deadline)
    if raw["failed"] != raw["attempted"] or any(f["class"] != "RowCountMismatch" for f in raw["failures"]):
        problems.append(f"wrong oracle row count not counted: {raw['failures']}")

    for p in problems:
        print(f"FAIL {p}")
    print("selfcheck: " + ("FAILED" if problems else "ok"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
