#!/usr/bin/env python3
"""Benchmark entry point: builds the program, makes the inputs, runs one
workload and prints one JSON result line.

    python3 perfbench/run.py --workload ingest_qa --seed 1 --seconds 15 --trace 0

Run from the repository root (any directory works; paths resolve from
this file). The program is compiled with the repository's own
`sbt compile`, the harness in perfbench/harness against those classes.
The input tables (gen_tables.py), the 10x copy (graft.ReplicateCorpus),
the oracle row counts (DuckDB on `SparkEntry.oracleSql`), results and
traces go under `.bench_build/` at the root. Each is cached and rebuilt
only when its sources change.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build"
HARNESS = BENCH / "harness"
PROGRAM_CLASSES = ROOT / "target" / "scala-2.13" / "classes"
HARNESS_CLASSES = HARNESS / "target" / "scala-2.13" / "classes"
ORACLE_SQL = WORK / "oracle_sql.json"
# The Spark jars the program compiles against (build.sbt's unmanagedBase).
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "")) / "jars"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DIMENSIONS = {"region", "nation"}  # copied once by ReplicateCorpus
SETUPS = 3
WARMUP_PASSES = 2  # untimed passes before the measured ones
MIN_PASSES = {0: 3, 1: 4}  # measured passes, by --trace
INJECTED_FAILURE = "__injected_failure__"  # a query the harness makes throw
HEAP = "4g"
FIRST_RUN_BUDGET_S = 880
RUN_BUDGET_S = 170

sys.path.insert(0, str(BENCH))
import gen_tables  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def files_under(*dirs, suffixes=(".scala", ".java", ".sbt", ".properties")):
    return [p for d in dirs if d.exists() for p in d.rglob("*")
            if p.is_file() and p.suffix in suffixes and "target" not in p.parts]


def run_checked(cmd, cwd, timeout, env=None):
    """Runs cmd to completion in its own process group; on timeout the
    whole group (sbt forks its JVM) is killed and waited for."""
    log(f"$ {' '.join(map(str, cmd))}")
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        p.wait(timeout=max(timeout, 0))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if p.returncode != 0:
        raise subprocess.CalledProcessError(p.returncode, cmd)


def build(deadline):
    """sbt-compiles the program and the harness when their sources change."""
    stamp_file = WORK / "build.stamp"
    stamp = digest(files_under(ROOT / "src" / "main", ROOT / "project", HARNESS)
                   + [ROOT / "build.sbt"])
    if (stamp_file.exists() and stamp_file.read_text() == stamp
            and PROGRAM_CLASSES.is_dir() and HARNESS_CLASSES.is_dir() and ORACLE_SQL.exists()):
        return False
    env = dict(os.environ, COURSIER_MODE="offline")
    for cwd in (ROOT, HARNESS):
        run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                    cwd, deadline - time.time(), env)
    java("graftbench.OracleSql", [ORACLE_SQL], deadline)
    stamp_file.write_text(stamp)
    return True


def java(main, args, deadline):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}", "-cp",
              f"{HARNESS_CLASSES}:{PROGRAM_CLASSES}:{SPARK_JARS}/*", main]
           + [str(a) for a in args])
    run_dir = WORK / "run"
    run_dir.mkdir(parents=True, exist_ok=True)
    run_checked(cmd, run_dir, deadline - time.time())


def table_rows(data_dir):
    import duckdb
    con = duckdb.connect()
    return {t: con.execute(f"SELECT count(*) FROM read_parquet('{data_dir}/{t}.parquet')")
            .fetchone()[0] for t in TABLES}


def ensure_data(name, deadline):
    """Returns the directory of input set `name`: `sf<f>` is generated by
    gen_tables.py (seed 42), `sf<f>x<m>` is graft.ReplicateCorpus's m-fold
    copy of `sf<f>`. Cached by source and multiplier; row counts are
    checked every time.
    """
    base, _, mult = name.partition("x")
    sf = float(base.removeprefix("sf"))
    src = WORK / "data" / base
    src_stamp = digest([BENCH / "gen_tables.py"]) + f" sf={sf} seed=42"
    if not has_stamp(src, src_stamp):
        shutil.rmtree(src, ignore_errors=True)
        log(f"generating {base}")
        gen_tables.write(str(src), sf, 42)
        (src / "stamp").write_text(src_stamp)
    want = gen_tables.sizes(sf)
    want = {t: (5 if t == "region" else 25 if t == "nation" else want[t]) for t in TABLES}
    if not mult:
        check_rows(src, want)
        return src
    m = int(mult)
    dst = WORK / "data" / name
    dst_stamp = f"{src_stamp} mult={m}"
    if not has_stamp(dst, dst_stamp):
        shutil.rmtree(dst, ignore_errors=True)
        log(f"replicating {base} x{m}")
        java("graft.ReplicateCorpus", [src, dst, m], deadline)
        (dst / "stamp").write_text(dst_stamp)
    check_rows(dst, {t: n if t in DIMENSIONS else n * m for t, n in want.items()})
    return dst


def has_stamp(data_dir, stamp):
    f = data_dir / "stamp"
    return f.exists() and f.read_text() == stamp


def check_rows(data_dir, want):
    got = table_rows(data_dir)
    if got != want:
        raise SystemExit(f"table row counts in {data_dir} are {got}, expected {want}")


def oracle_counts(data_dir, queries, limit_s=None):
    """Row count of each query's SparkEntry.oracleSql on data_dir, by
    DuckDB, cached per data directory and oracle text. With limit_s, an
    oracle still running after that many seconds is interrupted and its
    query left out of the result."""
    import duckdb
    sql = json.loads(ORACLE_SQL.read_text())
    cache_file = data_dir / "oracle_counts.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    con = None
    out = {}
    for q in queries:
        if q not in sql:
            raise SystemExit(f"query {q} has no oracle SQL in SparkEntry.oracleSql")
        key = hashlib.sha256(sql[q].encode()).hexdigest()
        if cache.get(q, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet')")
            body = sql[q].strip().rstrip(";")
            t0 = time.time()
            timer = threading.Timer(limit_s, con.interrupt) if limit_s else None
            if timer:
                timer.start()
            try:
                rows = con.execute(f"SELECT count(*) FROM ({body}) AS q").fetchone()[0]
            except duckdb.InterruptException:
                log(f"oracle {q}: interrupted after {limit_s} s")
                continue
            finally:
                if timer:
                    timer.cancel()
            log(f"oracle {q}: {rows} rows in {time.time() - t0:.1f} s")
            cache[q] = {"sql": key, "rows": rows}
            cache_file.write_text(json.dumps(cache, indent=1, sort_keys=True))
        out[q] = cache[q]["rows"]
    return out


def hd_median(samples):
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of the order statistics. A list is a few queries of
    very different cost, so the sample median jumps between neighbouring
    queries from run to run; this estimate moves smoothly."""
    import numpy as np
    x = np.sort(np.asarray(samples, dtype=float))
    n, steps = len(x), 200
    mid = (np.arange(n * steps) + 0.5) / (n * steps)  # midpoint rule on [0, 1]
    pdf = (4 * mid * (1 - mid)) ** ((n - 1) / 2)  # Beta density, scaled to <= 1
    weights = pdf.reshape(n, steps).sum(axis=1)
    return float(weights @ x / weights.sum())


def tail(samples, per_pass):
    """The per-query tail: the median over passes of each pass's slowest
    query. A pass lists too few queries for a high percentile with ten
    samples beyond it."""
    return statistics.median(max(samples[i:i + per_pass])
                             for i in range(0, len(samples), per_pass))


def harness(workload, queries, data_dir, expect, args, deadline, min_passes=None,
            warmup=WARMUP_PASSES):
    """Runs the harness JVM; returns its raw JSON and the spans file path.
    min_passes defaults to MIN_PASSES for the trace mode."""
    out = WORK / "results" / f"{workload}-seed{args.seed}-trace{args.trace}.json"
    spans = WORK / "traces" / f"{workload}-seed{args.seed}.jsonl"
    expect_file = WORK / "results" / f"{workload}-expect.tsv"
    for d in (out.parent, spans.parent):
        d.mkdir(parents=True, exist_ok=True)
    expect_file.write_text("".join(f"{q}\t{n}\n" for q, n in expect.items()))
    out.unlink(missing_ok=True)
    hargs = ["--data", data_dir, "--queries", ",".join(queries), "--expect", expect_file,
             "--seed", args.seed, "--seconds", args.seconds, "--trace", args.trace,
             "--cores", cores(), "--setups", SETUPS, "--warmup-passes", warmup,
             "--out", out, "--spans", spans,
             "--min-passes", MIN_PASSES[args.trace] if min_passes is None else min_passes]
    java("graftbench.Harness", hargs, deadline)
    return json.loads(out.read_text()), spans


def cores():
    return len(os.sched_getaffinity(0))


def summarize(raw, spec, trace):
    """Metrics named in BENCHMARK.json, from the harness's raw samples."""
    med = statistics.median
    if trace:
        names = sorted({k for layer in raw["layers"] for k in layer})
        values = {k: med(layer[k] for layer in raw["layers"]) for k in names}
        values["trace.overhead_s"] = med(raw["traced_pass_s"]) - med(raw["pass_s"])
        listed = spec["per_layer"]
    else:
        per_pass = len(raw["query_s"]) // len(raw["pass_s"])
        log(f"{len(raw['pass_s'])} passes of {per_pass} queries; peak live heap measured "
            f"in {len(raw['peak_live_heap_mb'])} of them (those with a GC)")
        values = {"setup_s": med(raw["setup_s"]), "pass_s": med(raw["pass_s"]),
                  "query_p50_s": hd_median(raw["query_s"]),
                  "query_tail_s": tail(raw["query_s"], per_pass),
                  "peak_live_heap_mb": med(raw["peak_live_heap_mb"] or [0.0])}
        listed = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    if set(values) != set(units):
        raise SystemExit(f"metrics {sorted(values)} do not match BENCHMARK.json {sorted(units)}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def result(raw, spec, trace):
    """The result line: outcome counts and the run's metrics."""
    return {"correct": raw["failed"] == 0, "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": summarize(raw, spec, trace)}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
                           SPARK_JARS) if not p.exists()]
    if missing:
        raise SystemExit(f"not found (program sources, or $SPARK_HOME/jars): "
                         f"{', '.join(map(str, missing))}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = json.loads((BENCH / "workloads.json").read_text())["workloads"]
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}; have {sorted(workloads)}")
    w = workloads[args.workload]
    WORK.mkdir(exist_ok=True)
    # The first run in a checkout builds and generates; later runs reuse.
    deadline = started + FIRST_RUN_BUDGET_S
    built = build(deadline)
    data_dir = ensure_data(w["data"], deadline)
    expect = oracle_counts(data_dir, w["queries"])
    if not built:
        deadline = min(deadline, started + RUN_BUDGET_S)
    raw, spans = harness(args.workload, w["queries"], data_dir, expect, args, deadline)
    for f in raw["failures"]:
        log(f"FAILED {f['query']} (pass {f['pass']}): {f['class']}: {f['message']}")
    if args.trace:
        log(f"spans written to {spans}")
    print(json.dumps(result(raw, spec, args.trace == 1)))


if __name__ == "__main__":
    main()
