#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

Usage (from the repository root): python3 perfbench/selftest.py [workload ...]

For each workload it asserts that
  - an untraced run prints every end_to_end metric of BENCHMARK.json with
    its unit, its output checks pass and no operation failed;
  - a traced run prints every per_layer metric with its unit, and the
    workload itself emitted every metric of the layers it exercises;
  - a run whose checked output is corrupted (one change dropped) reports a
    failed operation and correct = false.
It also asserts that run.py exits non-zero without printing a result in a
directory that holds only BENCHMARK.json and perfbench/.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# the per-layer metric groups each workload must emit itself (others read 0)
ACTIVE = {
    "stream_catchup": ("spark.", "catalyst.", "consumer.", "statestore.", "merge."),
    "corpus_build": ("spark.", "catalyst.", "pipeline.", "functions."),
}
COMMON = ("latency_growth", "traced.latency_p50_ms")


def run(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--size", "tiny", *extra]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return r, result


def expect(cond, msg, failures):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def check_workload(w, failures):
    for trace, group in ((0, "end_to_end"), (1, "per_layer")):
        r, res = run(w, trace)
        expect(r.returncode == 0 and res is not None, f"{w} trace={trace}: exits 0 with a result", failures)
        if res is None:
            print(r.stderr[-3000:])
            continue
        expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} trace={trace}: result keys", failures)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w} trace={trace}: outputs correct, 0 failed of {res['attempted']}", failures)
        want = {m["name"]: m["unit"] for m in SPEC[group]}
        got = {k: v.get("unit") for k, v in res["metrics"].items()}
        expect(got == want, f"{w} trace={trace}: every {group} metric with its unit", failures)
        expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
               f"{w} trace={trace}: every value is a number", failures)
        if trace:
            emitted = json.loads((HERE / "work" / "run" / "result.json").read_text())["per_layer"]
            need = [n for n in want if n.startswith(ACTIVE[w]) or n in COMMON]
            missing = [n for n in need if n not in emitted]
            expect(not missing, f"{w} trace=1: emits its layers' metrics {missing or ''}", failures)
    r, res = run(w, 0, "--corrupt")
    expect(res is not None and res["failed"] >= 1 and not res["correct"],
           f"{w}: a dropped change is reported as a failed operation", failures)


def check_bare_directory(failures):
    bare = HERE / "work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("work", "target"))
    r, res = run("stream_catchup", 0, cwd=bare)
    expect(r.returncode != 0 and res is None,
           "bare directory: exits non-zero without printing a result", failures)
    shutil.rmtree(bare, ignore_errors=True)


def main():
    failures = []
    check_bare_directory(failures)
    for w in sys.argv[1:] or ACTIVE:
        check_workload(w, failures)
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
