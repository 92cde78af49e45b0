#!/usr/bin/env python3
"""Census engine benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload census_live --seed 1 --seconds 15 --trace 0

Builds the engine plus the harness under perfbench/ with sbt (once per
source state, into .bench_build/), runs the workload in one JVM at
local[4], checks the outputs, prints every metric by name and unit and,
as the last line, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import corpus  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JAVA_OPTS = [
    # a fixed heap and the parallel collector keep resident memory steady
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    trees = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in sorted(os.walk(t)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines()
             if "sbt-target" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def same_column(exp, got):
    """Exact equality, except that floating-point values may differ by a
    relative 1e-7. A sum of doubles rounded to cents can land on a
    half-cent, where Spark's and DuckDB's summation orders round it
    apart by one cent (q3_top_order_revenue, seed 55: 556647.33 against
    556647.32); a wrong answer differs by far more.
    """
    if exp.dtype.kind == "f" and got.dtype.kind == "f":
        import numpy as np
        return bool(np.allclose(got.to_numpy(), exp.to_numpy(), rtol=1e-7,
                                atol=1e-9, equal_nan=True))
    return exp.equals(got)


def host_ms():
    """Wall time of a fixed pure-Python loop: a slow host shows here,
    outside the JVM, so a slow run can be told from a slow engine."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    return round((time.perf_counter() - t0) * 1000, 1)


def oracle_failures(run_dir):
    """Compares each registry answer with DuckDB running the registry's
    oracle SQL over the same corpus, as dev/check.py does (columns sorted
    by name, rows sorted) but with `same_column`'s float tolerance.
    Returns the names that differ.
    """
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    tables = os.path.join(run_dir, "corpus")
    for t in sorted(os.listdir(tables)):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables}/{t}'")
    out = os.path.join(run_dir, "oracle")
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    failed = []
    for name, sql in sorted(sqls.items()):
        try:
            exp = norm(con.execute(sql).fetchdf())
            got = norm(con.execute(
                f"SELECT * FROM '{out}/{name}/*.parquet'").fetchdf())
            ok = list(exp.columns) == list(got.columns) and len(exp) == len(got) \
                and all(same_column(exp[c], got[c]) for c in exp.columns)
        except Exception as e:  # a missing answer or a bad plan fails it
            print(f"[perfbench] oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed.append(name)
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = [w["name"] for w in SPEC["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")

    cp = build()
    host_before = host_ms()
    run_dir = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    if a.workload == "registry_headline":
        corpus.write(os.path.join(run_dir, "corpus"), a.seed)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "perfbench.Main", a.workload, str(a.seed),
                                  str(a.seconds), str(a.trace), run_dir]
    log = open(os.path.join(BUILD, f"jvm-{a.workload}.log"), "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                            stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload timed out after {JVM_TIMEOUT_S} s (log: {log.name})")
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"workload exited {rc} without a result (log: {log.name})")
    res = json.load(open(result_file))

    checks = res["checks"]
    if a.workload == "registry_headline":
        bad = oracle_failures(run_dir)
        checks = checks + [{"name": "oracle_match", "ok": not bad,
                            "detail": f"mismatched: {bad}" if bad else
                            "all answers match the DuckDB oracle"}]
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + len(failed_checks))

    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    print(f"samples {res['samples']} (tail = p{round(res['tail_level'] * 100)})")
    print(f"failed_share {failed / max(attempted, 1):.6f} ratio "
          f"({failed} of {attempted})")
    print(f"notes {json.dumps(res['notes'])}")
    print(f"host_loop_ms before {host_before} after {host_ms()}")
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    wanted = SPEC["per_layer"] if a.trace else SPEC["end_to_end"]
    shown = [("end_to_end", res["e2e"])]
    if a.trace:  # the traced run reports its own end-to-end numbers too
        shown.append(("per_layer", res["layer"]))
    for kind, values in shown:
        for k in sorted(values):
            print(f"{kind} {k} {values[k]} {units.get(k, '')}")
    source = res["layer"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not failed_checks, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
