#!/usr/bin/env python3
"""Repository benchmark: RAW->GOLD backfill, daily refresh and declared-query
workloads, timed end to end (--trace 0) or per layer (--trace 1).

    python3 benchmark/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness (the
repository's program sources plus benchmark/harness) with sbt; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
for one workload, writes its full record under .bench_runs/, runs the
output checks, and prints one JSON object as the last line of stdout.
It exits non-zero when a check fails or the run does not complete.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DATA_DIRS = {"etl_backfill": "sf0.01", "etl_refresh": "sf0.01", "query_mix": "sf0.001"}
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
STAMP = os.path.join(HARNESS, "target", "bench-build.stamp")
WORKLOADS = ("etl_backfill", "etl_refresh", "query_mix")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DATE_FIELD = {"orders": "o_orderdate", "lineitem": "l_shipdate", "events": "ts"}
# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
RUN_LIMIT_S = 170  # a run (after the build) must end within 180 s


def fail(msg, code=2):
    print(f"[benchmark] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, else the first `spark-submit` on PATH that sits in a
    distribution with a `jars` directory."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark distribution found: set SPARK_HOME")


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HARNESS, "build.sbt"),
                      os.path.join(HARNESS, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env(env):
    """sbt settings for a host whose sbt resolves from a local repository
    mirror (a `~/.sbt/repositories` file) and has no network access; an
    explicit SBT_OPTS or COURSIER_MODE wins."""
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos) and "SBT_OPTS" not in env:
        env = dict(env, SBT_OPTS=f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                                 " -Dsbt.offline=true -Xmx4g")
        env.setdefault("COURSIER_MODE", "offline")
    return env


def build(env):
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HARNESS, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HARNESS, env=sbt_env(env), stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        fail(f"build failed (see {os.path.relpath(log, ROOT)})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


# ---------------------------------------------------------------- checks

def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def check_sources(con, record):
    """RAW rows equal the source rows of the loaded window (of the whole
    table for full-truncate tables). Returns {(unit, table): reason}."""
    bad, cache = {}, {}
    for c in record.get("source_checks", []):
        t, lo, hi = c["table"], c["from"], c["to"]
        key = (t, lo, hi)
        if key not in cache:
            if lo is None:
                sql = f"SELECT count(*) FROM {t}"
            else:
                sql = (f"SELECT count(*) FROM {t} WHERE CAST({DATE_FIELD[t]} AS DATE) "
                       f"BETWEEN DATE '{lo}' AND DATE '{hi}'")
            cache[key] = con.execute(sql).fetchone()[0]
        if cache[key] != c["raw_rows"]:
            bad[(c["unit"], t)] = f"raw rows {c['raw_rows']} != source rows {cache[key]}"
    return bad


def canon(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def compare(got, want):
    """The comparison rule of tools/check_oracle.py: same sorted column
    names, same row count, every column equal in order (dtype-only
    differences between integer widths tolerated, then exact dtypes)."""
    import pandas as pd
    if list(got.columns) != list(want.columns):
        return f"cols differ: spark={list(got.columns)} duck={list(want.columns)}"
    if len(got) != len(want):
        return f"rowcount differ: spark={len(got)} duck={len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            same = a.equals(b) or (
                a.astype(object).where(pd.notna(a), None).tolist()
                == b.astype(object).where(pd.notna(b), None).tolist())
        except Exception:
            same = a.tolist() == b.tolist()
        if not same:
            return f"column {c} differs"
    mism = [f"{c}:{got[c].dtype}!={want[c].dtype}" for c in got.columns
            if str(got[c].dtype) != str(want[c].dtype)]
    return "DTYPE ONLY: " + ",".join(mism) if mism else None


def check_results(con, record):
    """Each sampled query with oracle SQL matches DuckDB; each rows-only
    query is non-empty. Returns {query: reason}."""
    import pandas as pd
    res = record.get("results")
    if not res:
        return {}
    bad = {}
    for q in res["queries"]:
        try:
            got = canon(pd.read_parquet(os.path.join(res["dir"], q)))
            if q not in res["oracle"]:
                msg = None if len(got) > 0 else "rows-only query returned no rows"
            else:
                msg = compare(got, canon(con.execute(res["oracle"][q]).fetchdf()))
        except Exception as e:  # an unreadable result or oracle error is a finding too
            msg = f"compare error: {e}"
        if msg:
            bad[q] = msg
    return bad


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    if not os.path.isdir(PROGRAM_SRC):
        fail("program sources (src/main/scala) not found: run from a repository checkout")
    data = os.path.join(HERE, "data", DATA_DIRS[args.workload])
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(data, f"{t}.parquet"))]
    if missing:
        fail(f"source data missing: {missing}")
    spec = json.load(open(spec_path))

    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)
    t0 = time.time()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    runs = os.path.join(ROOT, ".bench_runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(work, "record.json")
    jvm_env = dict(env, GRAFT_MODEL_DIR=os.path.join(work, "models"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=os.path.join(work, "tmp"))
    cp = CLASSES + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--data", data, "--work", work, "--out", out,
              "--budget", str(max(20.0, RUN_LIMIT_S - 60 - args.seconds))])
    log_path = os.path.join(runs, f"{tag}.log")
    error = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=jvm_env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - 15 - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            error = "run timed out"
    record = None
    if os.path.isfile(out):
        record = json.load(open(out))
        shutil.copy(out, os.path.join(runs, f"{tag}.json"))
        spans = out[:-len(".json")] + ".spans.jsonl"
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(runs, f"{tag}.spans.jsonl"))
    if error is None and proc.returncode != 0:
        error = f"harness exited with code {proc.returncode}"
    if record and record.get("error"):
        error = record["error"]

    ops = record["ops"] if record else []
    if record:
        con = duck(data)
        bad_tables = check_sources(con, record)
        bad_queries = check_results(con, record)
        for op in ops:
            reason = (bad_tables.get((op["unit"], op["name"])) if op["kind"] == "table"
                      else bad_queries.get(op["name"]) if op["kind"] == "query" else None)
            if reason:
                op["ok"] = False
                op["reason"] = "; ".join(r for r in (op["reason"], reason) if r)
    attempted = max(1, len(ops))
    failed = sum(1 for op in ops if not op["ok"])
    if error:
        failed = max(failed, 1)

    names = spec["end_to_end"] if args.trace == "0" else spec["per_layer"]
    source = (record or {}).get("metrics" if args.trace == "0" else "layer_metrics", {})
    metrics, missing = {}, []
    for m in names:
        v = source.get(m["name"])
        if v is None and args.trace == "1":
            v = 0.0  # a layer the workload does not call
        if v is None or not math.isfinite(v):
            missing.append(m["name"])
            v = float("nan")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing and not error:
        error = f"metrics not measured: {missing}"
    correct = error is None and failed == 0

    if record:
        record["ops"] = ops
        record["result"] = {"correct": correct, "attempted": attempted, "failed": failed,
                            "failed_frac": failed / attempted, "error": error}
        with open(os.path.join(runs, f"{tag}.json"), "w") as fh:
            json.dump(record, fh)
    for op in ops:
        if not op["ok"]:
            print(f"[benchmark] FAILED {op['kind']} {op['name']} (unit {op['unit']}): "
                  f"{op['reason']}", file=sys.stderr)
    if error:
        print(f"[benchmark] {error} (log: {os.path.relpath(log_path, ROOT)})", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if record is None:
        sys.exit(1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": (None if math.isnan(v["value"]) else v["value"]),
                                      "unit": v["unit"]} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
