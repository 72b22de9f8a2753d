#!/usr/bin/env python3
"""End-to-end benchmark of graft's streaming CDC consumer, streaming
snapshot merge and corpus pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the repository and the benchmark program with sbt (cached under
perfbench/work until a source changes), runs one workload in a fresh
JVM, checks the program's outputs, and prints one JSON object as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (a layer the workload leaves idle reads
0). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
WORKLOADS = ("stream_catchup", "corpus_build")
RUN_LIMIT_S = 175      # one run, build excluded
BUILD_LIMIT_S = 840    # the first run in a checkout also builds

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the list in the repository's build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    files += sorted(p for d in (ROOT / "src" / "main", HERE / "src") for p in d.rglob("*"))
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the repository and the benchmark program; return the runtime classpath."""
    stamp = source_stamp()
    stamp_file = WORK / "build.stamp"
    cp_file = HERE / "target" / "runtime-classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    sbt = shutil.which("sbt") or die("sbt not found on PATH")
    # resolve only from the local caches, as the repository's own test
    # command does, unless the caller configured sbt already
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if repos.is_file() else ""))
    try:
        subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, check=True)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip(), stamp


def output(path, drop_one=False):
    """A parquet output as a DuckDB query; `drop_one` drops one row (the
    self-test's corrupted output)."""
    query = f"SELECT * FROM read_parquet('{path}/*.parquet')"
    if drop_one:
        query = (f"SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER () AS __rn "
                 f"FROM ({query})) WHERE __rn > 1")
    return query


def fingerprint(con, query):
    """tools/check.py's fingerprint rule: column names sorted, row count,
    SHA-256 over the sorted rows of normalised values (evaluated in DuckDB)."""
    cols = sorted(con.sql(f"SELECT * FROM ({query}) LIMIT 0").columns)
    row = " || chr(31) || ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), 'NULL')" for c in cols)
    n, digest = con.sql(f"SELECT count(*), sha256(coalesce(string_agg(r, chr(30) ORDER BY r), '')) "
                        f"FROM (SELECT {row} AS r FROM ({query}))").fetchone()
    return cols, n, digest


def check_outputs(checks, corrupt, stamp, size):
    """DuckDB-side output checks; returns one message per failed operation."""
    if checks.get("kind") != "corpus":
        return []
    outs = checks["outputs"]
    if not outs:
        return ["corpus: no run finished"]
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    failures, results = [], []
    for i, out in enumerate(outs):
        report = output(out["dir"], corrupt and i == 0)
        # one verdict per input document, as CorpusPipelineSpec requires
        rows, ids = con.sql(f"SELECT count(*), count(DISTINCT doc_id) FROM ({report})").fetchone()
        if rows != checks["docs"] or ids != checks["docs"]:
            failures.append(f"corpus op {i}: retention_report has {rows} rows for {ids} of "
                            f"{checks['docs']} documents")
        results.append([out["kept"], list(fingerprint(con, report))])
    want = results[0]
    failures += [f"corpus op {i}: kept/retention_report differs from the first run"
                 for i, got in enumerate(results) if got != want]
    # the same seed must give the same result in every run of this build
    record = WORK / "corpus-results.json"
    seen = json.loads(record.read_text()) if record.exists() else {}
    key = f"{stamp}:{size}:{checks['seed']}"
    if key in seen and seen[key] != want:
        failures.append(f"corpus: seed {checks['seed']} gave {want[0]} kept docs, an earlier run {seen[key][0]}")
    if not failures:
        seen.setdefault(key, want)
        record.write_text(json.dumps(seen))
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one change from the checked outputs (self-test)")
    a = ap.parse_args()
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file() or not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"{ROOT} is not a graft checkout (needs BENCHMARK.json, build.sbt and src/main/scala)")
    spec = json.loads(spec_file.read_text())
    cp, stamp = build()
    t0 = time.time()  # set-up is timed from here: the build is not part of it

    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = shutil.which("java") or die("java not found on PATH")
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", *ADD_OPENS,
           "-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
           "--t0-ms", str(int(t0 * 1000)), "--size", a.size] + (["--corrupt"] if a.corrupt else [])
    try:
        subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=RUN_LIMIT_S, check=True)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        die(f"benchmark JVM failed: {e}")
    res = json.loads((work / "result.json").read_text())

    failures = check_outputs(res["checks"], a.corrupt, stamp, a.size)
    for f in failures + res["report"].get("check_failures", []):
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + len(failures))
    group = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[group]:
        v = res[group].get(m["name"])
        if not isinstance(v, (int, float)) or v != v:
            v = None  # no samples: the JVM writes NaN as "NaN"
        if v is None and group == "end_to_end":
            die(f"no value for {m['name']}: no operation succeeded")
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    print("perfbench report: " + json.dumps({"workload": a.workload, "seed": a.seed,
                                             "trace": a.trace, "cores": res["cores"], **res["report"]}))
    if a.trace:
        print(f"perfbench trace: {work / 'trace.json'}")
    print(json.dumps({"correct": attempted >= 1 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
