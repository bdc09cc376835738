#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Inputs are generated from
the seed and cached under perfbench/.cache, keyed on the generator sources,
the seed and the size. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. perfbench/README.md describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import tables

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
CACHE_DIR = os.path.join(HERE, ".cache")
TRACE_DIR = os.path.join(HERE, ".traces")

WORKLOADS = ["crawl_small_rounds", "docs_analytics"]
ANALYTICS_SIZE = {"n_docs": 3000, "n_events": 60000, "users": 900}
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
DRIVER_HEAP = "3g"
# a fixed-size heap and young generation, so heap sizing never adapts
# differently from one run to the next
GC_FLAGS = ["-XX:+UseParallelGC", f"-Xms{DRIVER_HEAP}", "-Xmn1g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in a process group of its own and waits for it to end. If
    it overruns `timeout` or this process is stopped, the whole group is
    killed first. Returns (exit code, captured stdout or None)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    return p.returncode, out


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """sbt-compiles engine + driver once per source state; returns the classpath."""
    stamp = tree_hash([ENGINE_SRC, os.path.join(HERE, "src"),
                       os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    cp_file = os.path.join(BUILD_DIR, f"classpath-{stamp}")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        try:
            rc, out = run_child(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    cp = lines[-1].strip()
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD_DIR, old))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def analytics_inputs(seed):
    key = tree_hash([os.path.join(HERE, "tables.py")])
    size = "-".join(f"{v}" for v in ANALYTICS_SIZE.values())
    d = os.path.join(CACHE_DIR, f"analytics-{key}-{size}-s{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        tables.generate(d, seed, **ANALYTICS_SIZE)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def run_jvm(cp, args, work, deadline, extra):
    result = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.pop("GRAFT_PROF", None)
    env.update(GRAFT_QUIET="1", SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{DRIVER_HEAP}"] + GC_FLAGS + [f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cache", CACHE_DIR,
            "--gen-key", tree_hash([
                os.path.join(ENGINE_SRC, "graft", "corpus", "SyntheticCorpus.scala"),
                os.path.join(HERE, "src", "main", "scala", "graft", "perfbench",
                             "CrawlBench.scala")]),
            "--result", result] + extra)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc, _ = run_child(cmd, max(1.0, deadline - time.time()), stdout=fh,
                              stderr=subprocess.STDOUT, env=env, cwd=work)
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} timed out")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        fail(f"{args.workload} failed (exit {rc}):\n{tail}")
    with open(result) as fh:
        return json.load(fh)


def canon(df):
    """sorted rows of normalised values, compared the way tools/check_oracles.py
    does (that script itself opens views on all ten sf tables, which these
    inputs do not have)."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if hasattr(v, "item"):
            v = v.item()
        return str(v)
    return sorted(tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None))


def oracle_failures(inputs, results):
    """each battery query's cold-pass output against its DuckDB oracle SQL."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    fails = []
    for name, sql in sorted(oracle.items()):
        pq = os.path.join(results, f"{name}.parquet")
        if not os.path.isdir(pq):
            fails.append(f"{name}: no result")
            continue
        try:
            spark_df = con.execute(f"SELECT * FROM read_parquet('{pq}/*.parquet')").df()
            duck_df = con.execute(sql).df()
        except duckdb.Error as e:
            fails.append(f"{name}: {e}")
            continue
        if sorted(spark_df.columns.str.lower()) != sorted(duck_df.columns.str.lower()):
            fails.append(f"{name}: schema {sorted(spark_df.columns)} != {sorted(duck_df.columns)}")
        elif canon(spark_df) != canon(duck_df):
            fails.append(f"{name}: rows differ ({len(spark_df)} vs {len(duck_df)})")
    return fails


def pinned_digest_failures(workload, seed, report):
    """the crawl's docs and seen digests against those pinned for this seed."""
    with open(os.path.join(HERE, "digests.json")) as fh:
        pin = json.load(fh).get(workload, {}).get(str(seed))
    if not pin:
        return []
    got = {"docs": report["docs_digest"], "seen": report["seen_digest"]}
    return [f"{k} digest {got[k]} != pinned {pin[k]}" for k in ("docs", "seen")
            if got[k] != pin[k]]


# each workload's own names for the generic end-to-end metrics
ALIASES = {
    "crawl": [("pages_per_s", "throughput_per_s", "pages/s"),
              ("round_p50_s", "op_p50_s", "s"), ("crawl_cold_s", "cold_s", "s")],
    "docs_analytics": [("query_per_s", "throughput_per_s", "queries/s"),
                       ("query_p50_s", "op_p50_s", "s"), ("query_cold_s", "cold_s", "s")],
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S
    # stopped from outside: unwind, so children are killed and work is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(spec_path):
        fail(f"no engine sources under {ENGINE_SRC}: run from a checkout of the repository")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    cp = build()
    deadline = max(deadline, time.time() + 120)  # a fresh build does not eat the run's time
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if args.workload == "docs_analytics":
            inputs = analytics_inputs(args.seed)
            extra = ["--inputs", inputs]
        t_jvm = time.time()
        res = run_jvm(cp, args, work, deadline, extra)
        res["report"]["jvm_wall_s"] = time.time() - t_jvm
        failures = list(res["failures"])
        if args.workload == "docs_analytics":
            check_fails = oracle_failures(inputs, os.path.join(work, "results"))
        else:
            check_fails = pinned_digest_failures(args.workload, args.seed, res["report"])
        failures += check_fails
        res["failed"] += len(check_fails)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                os.makedirs(TRACE_DIR, exist_ok=True)
                shutil.copy(os.path.join(work, f),
                            os.path.join(TRACE_DIR, f"{args.workload}-s{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    missing = [n for n in wanted if n not in metrics or metrics[n]["value"] is None]
    if missing:
        fail(f"metrics not measured: {missing}")

    kind = "docs_analytics" if args.workload == "docs_analytics" else "crawl"
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for alias, name, unit in ALIASES[kind]:
        print(f"  {alias:<22} {metrics[name]['value']:.6g} {unit}")
    for name in wanted:
        print(f"  {name:<40} {metrics[name]['value']:.6g} {metrics[name]['unit']}")
    print(f"  {'failed_frac':<22} {res['failed'] / max(1, res['attempted']):.6g} "
          f"({res['failed']} of {res['attempted']} operations)")
    for k, v in res["report"].items():
        print(f"  {k}: {json.dumps(v)}")
    for f in failures:
        print(f"  FAILED {f}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]}
                    for n in wanted},
    }))


if __name__ == "__main__":
    main()
