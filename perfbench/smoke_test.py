#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny scale (a few
thousand turns), untraced and traced.

    python3 perfbench/smoke_test.py

Checks that each run exits 0 with a passing oracle, that its last line is
the result object with every metric BENCHMARK.json names (with that unit),
that the workload's own metrics are printed by name with a unit, and that the
benchmark refuses to run (non-zero exit, no result) when the program sources
are missing.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# the metrics each workload prints by name for readers (beside the result)
NAMED = {
    "bulk_suite": ["suite_turns_per_s", "scaling_eff", "setup_s", "heap_peak_mb", "ops_failed_frac"],
    "nightly_append": ["incremental_s_p50", "setup_s", "heap_peak_mb", "ops_failed_frac"],
    "stream_ingest": ["stream_turns_per_s", "batch_commit_s_p50", "batch_commit_s_tail",
                      "batch_commit_tail_percentile", "sink_bytes_per_input_byte",
                      "setup_s", "heap_peak_mb", "ops_failed_frac"],
}

failures = []


def check(cond, msg):
    if not cond:
        failures.append(msg)
        print(f"FAIL: {msg}", flush=True)


def run(cwd, workload, trace):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(ROOT, name, trace)
            tag = f"{name} trace={trace}"
            check(p.returncode == 0, f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
            lines = p.stdout.strip().splitlines()
            if not lines:
                check(False, f"{tag}: no output")
                continue
            result = json.loads(lines[-1])
            check(sorted(result) == ["attempted", "correct", "failed", "metrics"],
                  f"{tag}: result keys {sorted(result)}")
            check(result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{tag}: oracle did not pass: {lines[-1][:300]}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = result["metrics"]
            check(sorted(got) == sorted(want), f"{tag}: metric names differ: {sorted(set(want) ^ set(got))}")
            for n, u in want.items():
                v = got.get(n, {})
                check(v.get("unit") == u and isinstance(v.get("value"), (int, float)),
                      f"{tag}: metric {n} printed as {v}, expected a number in {u}")
            for n in NAMED[name]:
                check(re.search(rf"^{name} {re.escape(n)} = \S+ \S+", p.stdout, re.M) is not None,
                      f"{tag}: {n} not printed with a unit")
            if trace:
                for m in spec["per_layer"]:
                    check(re.search(rf"^{name} {re.escape(m['name'])} = .*\(moves .+\)$", p.stdout, re.M)
                          is not None, f"{tag}: {m['name']} printed without the metric it moves")

    # without the program sources the benchmark must refuse, not report
    os.makedirs(os.path.join(BENCH, ".build"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".build")) as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", "target"))
        p = run(tmp, spec["workloads"][0]["name"], 0)
        check(p.returncode != 0 and '"correct"' not in p.stdout,
              f"bare checkout: exit {p.returncode}, stdout {p.stdout[-300:]!r}")

    print("smoke test:", "FAILED" if failures else "passed", flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
