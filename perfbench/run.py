#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload scan_large --seed 1 --seconds 10 --trace 0

The first call builds the benchmark package (perfbench/build.sbt, which
compiles the repository's sources together with the benchmark) and caches
the classpath under .bench_build/, keyed by a hash of every source file.
Each call then starts one JVM that generates the workload's inputs from
the seed, times the workload, checks every output and writes a JSON record
to .bench_build/results/. When a traced run executed registry pipeline
queries, this script then compares each query's result with DuckDB running
the registry's oracle SQL on the same tables. The last line of standard
output is the result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scan_large", "ingest_small")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """SHA-256 over every file the build reads, in a fixed order."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, n) for n in ("build.sbt", "add-opens.txt", "project/build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the cached classpath matches `stamp`."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building the benchmark package (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if "perfbench/target" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def oracle_failures(rec):
    """Executions of pipeline queries whose result differs from DuckDB
    running the oracle SQL; compared the way the repository's
    correctness gate compares (columns sorted by name, rows sorted,
    floats exact, everything else as strings)."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    p = rec["pipeline"]
    con = duckdb.connect()
    for t in glob.glob(os.path.join(p["tables"], "*.parquet")):
        name = os.path.basename(t).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    failed, notes = 0, []
    for q, sql in sorted(p["oracle_sql"].items()):
        why = None
        try:
            files = glob.glob(os.path.join(p["results"], q, "*.parquet"))
            s = norm(pq.read_table(files[0]).to_pandas())
            d = norm(con.execute(sql).df())
            if list(s.columns) != list(d.columns):
                why = f"columns {list(s.columns)} vs {list(d.columns)}"
            elif len(s) != len(d):
                why = f"rows {len(s)} vs {len(d)}"
            else:
                for c in s.columns:
                    a, b = s[c], d[c]
                    if a.dtype.kind == "f" or b.dtype.kind == "f":
                        same = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
                    else:
                        same = (a.astype(str).values == b.astype(str).values).all()
                    if not same:
                        why = f"column {c} differs"
                        break
        except Exception as e:  # a failed compare is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            failed += p["executions"][q]
            notes.append(f"{q}: {why}")
    return failed, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a checkout that holds the program sources")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stamp = source_stamp()
    classpath = build(stamp)

    work = os.path.join(BUILD, "work", a.workload)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + tmp]
    with open(os.path.join(BENCH, "add-opens.txt")) as fh:
        for p in fh.read().split():
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the benchmark JVM timed out")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: the benchmark JVM exited with code {rc}")
    with open(out) as fh:
        rec = json.load(fh)

    failed = rec["failed"]
    if "pipeline" in rec:
        of, notes = oracle_failures(rec)
        failed += of
        rec["oracle_failed"] = of
        rec["errors"] += notes
    shutil.rmtree(work, ignore_errors=True)

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    rec["env"].update({"commit": commit, "source_sha256": stamp})
    rec["failed"] = failed
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1)
    for e in rec["errors"]:
        log("error: " + e)
    metrics = rec["layers"] if a.trace else rec["e2e"]
    print(json.dumps({"correct": failed == 0 and rec["setup_failed"] == 0,
                      "attempted": rec["attempted"], "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
