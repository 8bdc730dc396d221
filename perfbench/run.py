#!/usr/bin/env python3
"""Benchmark of the graft betfair engine and its query suite.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  market_ops   set-up indexes a generated Betfair-historical archive with
               `BetfairDatabase.index(force = true)`; then one client runs a
               closed loop of select/size/insert/clean/export over it
  query_suite  a fixed slice of `SparkEntry.queries` over generated tables

The first run in a checkout builds the engine (`sbt compile` at the root) and
the harness (`sbt compile` in perfbench/). Inputs are generated from --seed
into perfbench/.work/ and removed afterwards; traced runs keep their spans in
perfbench/results/. Every run checks the engine's outputs and exits non-zero
on a mismatch. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import archive  # noqa: E402
import marketops  # noqa: E402
import tables  # noqa: E402

HEAP = "2g"
CLASSPATH = os.path.join(HERE, ".build", "engine.classpath")
JVM_TIMEOUT_S = 165

# ---- workload sizes -------------------------------------------------------
# A replica is one copy of the fixture mix: 26 markets in 39 files.
DB_REPLICAS = 4           # the market_ops database: 104 markets
SETUP_REPEATS = {"market_ops": 2, "query_suite": 3}  # setup_s: their median
BATCH_FRESH = 45          # fresh markets per insert batch (+5 planted cases)
SELECT_REPEATS = 8        # of each of the 5 select kinds per timed cycle
WARMUP_SELECT_REPEATS = 2  # ... and in the untimed first cycle
CYCLE_S = 10              # nominal seconds of one market_ops cycle
SUITE_SF = 0.001
# The suite's tables and query order are the same for every seed, so the
# expected row counts (DuckDB oracle counts, suite_expected.json) are
# committed and two runs time identical work.
SUITE_TABLE_SEED = 42
PASS_S = 12               # nominal seconds of one pass over the suite slice
EXPECTED = os.path.join(HERE, "suite_expected.json")

# ---- end-to-end metrics: name -> unit (README.md: what each workload times)
E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "live_heap_mb": "MB",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- build ----------------------------------------------------------------

def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness unless the sources are unchanged
    since the last build in this checkout."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("src", "test", "resources", "datasets")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    stamp = os.path.join(HERE, ".build", "stamp")
    digest = sources_digest()
    if (os.path.exists(stamp) and os.path.exists(CLASSPATH)
            and open(stamp).read() == digest):
        return
    tmp = os.path.join(HERE, ".build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g")) + (
        # no server socket, and temporary files inside the checkout
        f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # the engine, with its own build; its runtime classpath is what the
    # harness compiles and runs against
    out = sbt(ROOT, env, "compile", "export Runtime/fullClasspath")
    with open(CLASSPATH, "w") as f:
        f.write(out.strip().splitlines()[-1])
    sbt(HERE, env, "compile")
    with open(stamp, "w") as f:
        f.write(digest)


def sbt(cwd, env, *commands):
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
                       cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed in {cwd}")
    return r.stdout


# ---- inputs ---------------------------------------------------------------

def runs_for(seconds, nominal):
    """A fixed amount of work per run: as many cycles (or passes) as fit in
    --seconds at their nominal cost, at least one. Parent and child of a
    comparison then do identical work."""
    return max(1, int(seconds // nominal))


def plan_market_ops(work, seed, seconds):
    rng = random.Random(seed)
    cycles = runs_for(seconds, CYCLE_S) + 1  # the first one warms up
    pool = archive.IdPool(rng, DB_REPLICAS * 30 + cycles * BATCH_FRESH)
    p = marketops.plan(work, archive.load_templates(), DB_REPLICAS, cycles,
                       BATCH_FRESH, pool, rng)
    p.update(setup_repeats=SETUP_REPEATS["market_ops"],
             select_repeats=SELECT_REPEATS,
             warmup_select_repeats=WARMUP_SELECT_REPEATS)
    return p, {"markets": p["expected"]["totalMarkets"],
               "rows": p["expected"]["rowsInserted"],
               "batch_markets": BATCH_FRESH + marketops.PLANTED,
               "cycles": cycles}


def plan_query_suite(work, seconds, names, traced):
    out = tables.generate(os.path.join(work, "tables"), SUITE_TABLE_SEED,
                          SUITE_SF)
    timed = runs_for(seconds, PASS_S)
    # the first pass warms up untimed; a traced run adds a traced last pass
    passes = [names] * (1 + timed + (1 if traced else 0))
    return {"tables": out, "table_names": tables.TABLES,
            "setup_repeats": SETUP_REPEATS["query_suite"], "passes": passes}, {
                "sf": SUITE_SF, "queries": len(names), "passes": timed}


# ---- metrics --------------------------------------------------------------

def pct(xs, q):
    """Percentile q (0-100) with linear interpolation."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(workload, res):
    """(gated metrics, the same numbers under the names users know)."""
    s = res["samples"]
    med = statistics.median
    setup = med(s["setup_s"])
    heap = res["values"]["live_heap_mb"]
    if workload == "market_ops":
        rates = [r / t for r, t in zip(s["insert_rows"], s["insert_s"])]
        built = [r / t for r, t in zip(s["index_rows"], s["index_s"])]
        sel = s["select_ms"]
        gated = (med(rates), med(sel), pct(sel, 90))
        named = {"index_markets_per_s": (med(built), "1/s"),
                 "select_p50_ms": (gated[1], "ms"),
                 "select_p90_ms": (gated[2], "ms"),
                 "select_p95_ms": (pct(sel, 95), "ms"),
                 "insert_markets_per_s": (gated[0], "1/s"),
                 "clean_s": (med(s["clean_s"]), "s"),
                 "export_s": (med(s["export_s"]), "s"),
                 "size_ms": (med(s["size_ms"]), "ms")}
    else:
        per_query = [med(q["seconds"]) * 1e3 for q in res["queries"].values()]
        suite = sum(per_query) / 1e3
        gated = (len(per_query) / suite, med(per_query), pct(per_query, 90))
        named = {"suite_s": (suite, "s"),
                 "suite_query_p50_ms": (gated[1], "ms"),
                 "suite_query_p90_ms": (gated[2], "ms")}
    named.update(setup_s=(setup, "s"), live_heap_mb=(heap, "MB"))
    values = dict(zip(["throughput_per_s", "latency_p50_ms", "latency_p90_ms"],
                      gated), setup_s=setup, live_heap_mb=heap)
    return ({k: {"value": values[k], "unit": E2E[k]} for k in E2E},
            {k: {"value": v, "unit": u} for k, (v, u) in named.items()})


def layer_units():
    units = {}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        for m in json.load(f)["per_layer"]:
            units[m["name"]] = m["unit"]
    return units


# ---- checks beyond the harness -------------------------------------------

def oracle_counts(res, tables_dir):
    """Row count of each query's DuckDB oracle over the generated tables."""
    import duckdb
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    return {name: con.execute(f"SELECT count(*) FROM ({sql}) oracle_q").fetchone()[0]
            for name, sql in sorted(res["oracle"].items())}


def check_suite(res, expected):
    """Each query's row count must equal its oracle's on the same tables.
    (A query that never returned has already failed in the harness.)"""
    bad = []
    for name, q in res["queries"].items():
        if "rows" not in q:
            continue
        if name not in expected:
            bad.append(f"{name}: no expected count")
        elif q["rows"] != expected[name]:
            bad.append(f"{name}: {q['rows']} rows, oracle {expected[name]}")
    return bad


# ---- main -----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True,
                    choices=["market_ops", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--oracle", action="store_true",
                    help="query_suite: recompute the expected row counts with "
                         "DuckDB and rewrite suite_expected.json")
    args = ap.parse_args()
    build()

    stamp = f"{args.workload}-seed{args.seed}-{int(time.time() * 1000)}"
    work = os.path.join(HERE, ".work", stamp)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, stamp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def suite_names():
    with open(os.path.join(HERE, "suite_queries.txt")) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


def run(args, work, stamp):
    n = cpus()
    t_gen = time.time()
    if args.workload == "market_ops":
        section, size = plan_market_ops(work, args.seed, args.seconds)
    else:
        section, size = plan_query_suite(work, args.seconds, suite_names(),
                                         args.trace)
    trace_out = os.path.join(HERE, "results", f"trace-{stamp}.json")
    plan = {"workload": args.workload, "trace": bool(args.trace), "cpus": n,
            "work": work,
            "trace_out": trace_out, args.workload: section}
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    result_path = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                              f.read().strip()])
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", plan_path, result_path]
    t_jvm = time.time()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(log_path).read()[-6000:])
        fail(f"harness exited with {code}", 1)
    with open(result_path) as f:
        res = json.load(f)
    wall = {"generate_s": t_jvm - t_gen, "jvm_s": time.time() - t_jvm}

    errors = list(res["errors"])
    failed = res["failed"]
    if args.workload == "query_suite":
        if args.oracle:
            with open(EXPECTED, "w") as f:
                json.dump(oracle_counts(res, section["tables"]), f, indent=1)
                f.write("\n")
        with open(EXPECTED) as f:
            bad = check_suite(res, json.load(f))
        errors += bad
        failed += len(bad)
    attempted = res["attempted"]
    correct = not errors and attempted > 0
    for e in errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    if args.trace:
        units = layer_units()
        metrics = {k: {"value": res["layers"][k], "unit": units[k]}
                   for k in units}
        detail = {"trace_file": os.path.relpath(trace_out, ROOT)}
    else:
        metrics, named = end_to_end(args.workload, res) if correct else ({}, {})
        detail = {"metrics": named}
    detail.update(workload=args.workload, seed=args.seed, size=size,
                  failed_ops_ratio=failed / max(attempted, 1),
                  host={"nproc": n, "heap": HEAP, "master": f"local[{n}]"},
                  samples={k: len(v) for k, v in res["samples"].items()},
                  wall=wall)
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
