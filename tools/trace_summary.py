#!/usr/bin/env python3
"""Per-query breakdown of a perfbench trace (`perfbench/run.py --trace 1`
writes it to `.bench_build/traces/<workload>-seed<n>.jsonl`).

Prints, per query, the mean over the traced passes of: build ms, build
self ms (build time no Spark job covers), materialize ms, and the jobs
each phase ran, counted by the graft module that submitted them.

Usage: python3 tools/trace_summary.py <trace.jsonl>
"""
import json
import sys
from collections import defaultdict


def self_ms(span, jobs):
    """Span time not covered by any of its jobs (perfbench's selfSeconds)."""
    covered, reach = 0.0, span["start_ms"]
    clipped = ((max(j["start_ms"], span["start_ms"]), min(j["end_ms"], span["end_ms"]))
               for j in jobs)
    for a, b in sorted(iv for iv in clipped if iv[1] > iv[0]):
        if b > reach:
            covered += b - max(a, reach)
            reach = b
    return max(0.0, span["end_ms"] - span["start_ms"] - covered)


def main(path):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    spans = {r["id"]: r for r in rows if r["kind"] != "job"}
    jobs = defaultdict(list)
    for r in rows:
        if r["kind"] == "job":
            jobs[r["parent"]].append(r)
    passes = {s["id"] for s in spans.values() if s["kind"] == "pass"}
    # query -> per-pass sums
    acc = defaultdict(lambda: defaultdict(float))
    seen = defaultdict(set)
    for s in spans.values():
        if s["kind"] not in ("build", "materialize"):
            continue
        q = spans[s["parent"]]
        if q["parent"] not in passes:
            continue
        name, js = q["name"], jobs[s["id"]]
        seen[name].add(q["parent"])
        a = acc[name]
        dur = s["end_ms"] - s["start_ms"]
        if s["kind"] == "build":
            a["build_ms"] += dur
            a["build_self_ms"] += self_ms(s, js)
        else:
            a["mat_ms"] += dur
        for j in js:
            a[(s["kind"], j["module"])] += 1
    if not acc:
        sys.exit(f"{path}: no traced passes")
    n_pass = len(passes)
    print(f"{path}: {n_pass} traced passes; per query, mean per pass")
    print(f"{'query':<24}{'build_ms':>10}{'self_ms':>10}{'mat_ms':>10}  jobs (build | materialize)")
    tot = defaultdict(float)
    for name in sorted(acc, key=lambda k: -(acc[k]["build_ms"] + acc[k]["mat_ms"])):
        a, n = acc[name], len(seen[name])
        def jobs_of(kind):
            return " ".join(f"{m}={a[(k, m)] / n:g}" for (k, m) in sorted(
                x for x in a if isinstance(x, tuple)) if k == kind) or "-"
        for k in ("build_ms", "build_self_ms", "mat_ms"):
            tot[k] += a[k] / n
        print(f"{name:<24}{a['build_ms'] / n:>10.1f}{a['build_self_ms'] / n:>10.1f}"
              f"{a['mat_ms'] / n:>10.1f}  {jobs_of('build')} | {jobs_of('materialize')}")
    print(f"{'total':<24}{tot['build_ms']:>10.1f}{tot['build_self_ms']:>10.1f}{tot['mat_ms']:>10.1f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
