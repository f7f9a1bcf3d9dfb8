#!/usr/bin/env python3
"""Alternating parent/change pairs of one or more perfbench workloads.

    python3 scripts/perf_pairs.py --workload bulk_suite [--workload ...]
        --parent REV [--seeds 11-20] [--out FILE] [--layers a,b,...]

For each workload and seed, runs `perfbench/run.py --trace 0` once in a
checkout of the parent revision and once in the working tree, alternating
which side runs first from seed to seed. `--workload` may be given more than
once: the workloads run one after another against the same parent checkout,
and one table is printed per workload. The parent checkout is a
`git worktree add` of REV, removed again at the end. REV has no default: once the change is committed,
HEAD is the change itself, so name the parent explicitly (for a committed
change, `HEAD~1`). Every run uses BENCHMARK.json's `run_seconds`.

For every end-to-end metric BENCHMARK.json names (read, never written) it
prints each side's median and quartiles, the change/parent ratio of the
medians, and how many pairs the change won (ties count for neither side).
A metric is marked `unresolved` when the parent's IQR/median exceeds the
metric's bound, and `claimable` when the change won at least 9 of 10 pairs
and its median beats the parent's by more than the parent's IQR.

`--layers` names per-layer metrics (e.g. validator.jobs,spark.read_mb.hi):
after the pairs of a workload, one `--trace 1` run per side on the first
seed prints those metrics side by side, so the layer a change should move
is read from the same command. The same traced runs also give the Spark
jobs per traced operation and per validator call (a stream batch is one
`Validator.validateTableIncremental` call), counted by job label from the
spans perfbench writes to `perfbench/.build/spans/<workload>-seed<N>.jsonl`.
Exits non-zero if any run failed.
"""
import argparse
import collections
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(checkout, workload, seed, seconds, trace=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if p.returncode != 0 or result is None or not result.get("correct"):
        sys.stderr.write(p.stderr[-3000:])
        return None
    return {name: m["value"] for name, m in result["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, action="append",
                    help="perfbench workload; repeat for several")
    ap.add_argument("--seeds", default="11-20", help="inclusive range, e.g. 11-20 (≥10 seeds)")
    ap.add_argument("--parent", required=True, help="parent revision, e.g. HEAD~1")
    ap.add_argument("--out", help="append every run's result as a JSON line here")
    ap.add_argument("--layers", help="comma-separated per-layer metrics to print from one "
                    "traced run per side on the first seed")
    args = ap.parse_args()
    layers = [x for x in (args.layers or "").split(",") if x]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    seconds = spec["run_seconds"]
    seeds = seeds_of(args.seeds)
    if len(seeds) < 10:
        print(f"note: {len(seeds)} seeds; a claim needs at least 10 pairs", file=sys.stderr)

    parent = tempfile.mkdtemp(prefix="perf-parent-")
    os.rmdir(parent)
    subprocess.run(["git", "worktree", "add", "--detach", parent, args.parent],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)

    results = []
    try:
        for workload in args.workload:
            runs, failed = pairs(workload, seeds, parent, seconds, metrics, args.out)
            traced, jobs = {}, {}
            for side, checkout in (("parent", parent), ("change", ROOT)) if layers else ():
                started = time.time()
                traced[side] = run(checkout, workload, seeds[0], seconds, trace=1)
                jobs[side] = job_counts(checkout, workload, seeds[0], started)
            failed += sum(1 for r in traced.values() if r is None)
            results.append((workload, runs, failed, traced, jobs))
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent], cwd=ROOT,
                       stdout=subprocess.DEVNULL)
    for workload, runs, failed, traced, jobs in results:
        report(workload, runs, failed, seconds, metrics)
        if layers:
            report_layers(workload, seeds[0], traced, layers)
            report_jobs(workload, seeds[0], jobs)
    sys.exit(1 if any(r[2] for r in results) else 0)


def pairs(workload, seeds, parent, seconds, metrics, out):
    """Runs one pair per seed; returns each side's complete-pair results and
    the number of pairs with a failed run."""
    runs = {"parent": [], "change": []}
    failed = 0
    for k, seed in enumerate(seeds):
        order = [("parent", parent), ("change", ROOT)]
        if k % 2:
            order.reverse()
        pair = {}
        for side, checkout in order:
            r = run(checkout, workload, seed, seconds)
            print(f"{workload} seed {seed} {side}: " + (
                " ".join(f"{m['name']}={r[m['name']]:.4g}" for m in metrics)
                if r else "FAILED"), flush=True)
            if out:
                with open(out, "a") as fh:
                    fh.write(json.dumps({"workload": workload, "seed": seed,
                                         "side": side, "metrics": r}) + "\n")
            pair[side] = r
        if pair["parent"] and pair["change"]:
            for side in runs:
                runs[side].append(pair[side])
        else:
            failed += 1
    return runs, failed


def report(workload, runs, failed, seconds, metrics):
    n = len(runs["parent"])
    print(f"\n{workload}: {n} complete pairs, {failed} with a failed run, "
          f"{seconds:g} s per run")
    print(f"{'metric':<14}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'ratio':>8}{'wins':>8}  verdict")
    for m in metrics if n else []:
        name, higher = m["name"], m["better"] == "higher"
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum(1 for a, b in zip(p, c) if (b > a if higher else b < a))
        iqr = pq[2] - pq[0]
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        gain = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        spread = iqr / pq[1] if pq[1] else float("inf")
        verdict = []
        if spread > m["bound"]:
            verdict.append(f"unresolved (parent IQR/median {spread:.2f} > bound {m['bound']})")
        if wins >= 0.9 * n and gain > iqr:
            verdict.append("claimable")
        worse = -gain / pq[1] if pq[1] else 0.0
        if worse > m["bound"]:
            verdict.append(f"WORSE by {worse:.0%} (bound {m['bound']:.0%})")
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:<14}{fmt(pq):>30}{fmt(cq):>30}{ratio:>8.3f}{f'{wins}/{n}':>8}  "
              + ("; ".join(verdict) or "within bound"))


def report_layers(workload, seed, traced, layers):
    print(f"\n{workload}: per-layer metrics, one --trace 1 run per side, seed {seed}")
    print(f"{'metric':<32}{'parent':>14}{'change':>14}{'ratio':>8}")
    p, c = traced["parent"], traced["change"]
    for name in layers:
        pv = p.get(name) if p else None
        cv = c.get(name) if c else None
        fmt = lambda r, v: "FAILED" if r is None else ("absent" if v is None else f"{v:.4g}")
        ratio = f"{cv / pv:.3f}" if pv and cv is not None else "-"
        print(f"{name:<32}{fmt(p, pv):>14}{fmt(c, cv):>14}{ratio:>8}")


def job_counts(checkout, workload, seed, since):
    """Spark job counts of one traced run, from its spans file: the number
    of traced operations that carry job spans (perfbench attaches jobs only
    to the operations it ran with a listener) and the jobs by label over
    all of them, and per validator call name the number of calls in those
    operations and the jobs by label under them. None when the run wrote
    no spans file after `since`."""
    path = os.path.join(checkout, "perfbench", ".build", "spans", f"{workload}-seed{seed}.jsonl")
    if not os.path.exists(path) or os.path.getmtime(path) < since:
        return None
    with open(path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    by_id = {s["id"]: s for s in spans}
    ops = {s["op"] for s in spans if s["parent"] == 0 and s["name"].startswith("op:")} & \
        {s["op"] for s in spans if s["layer"] == "spark"}
    calls = collections.Counter(s["name"] for s in spans
                                if s["layer"] == "validator" and s["op"] in ops)
    per_op, per_call = collections.Counter(), collections.defaultdict(collections.Counter)
    for s in spans:
        if s["layer"] != "spark" or not s["name"].startswith("job:") or s["op"] not in ops:
            continue
        label = s["name"][len("job:"):] or "(no label)"
        if label.lstrip().startswith("id = "):  # Spark's own per-query streaming description
            label = "(streaming micro-batch)"
        per_op[label] += 1
        owner = by_id.get(s["parent"])
        while owner is not None and owner["layer"] != "validator":
            owner = by_id.get(owner["parent"])
        if owner is not None:
            per_call[owner["name"]][label] += 1
    return {"ops": len(ops), "per_op": per_op, "calls": calls, "per_call": per_call}


def report_jobs(workload, seed, jobs):
    """Prints jobs per operation, then jobs per call of each validator
    entry point, by label, parent beside change."""
    p, c = jobs.get("parent"), jobs.get("change")
    if p is None or c is None:
        print(f"\n{workload}: no spans file from a traced run; job counts skipped")
        return

    def table(title, n_p, n_c, counts_p, counts_c):
        print(f"\n{workload}: {title}, seed {seed} ({n_p} parent / {n_c} change)")
        print(f"{'job label':<46}{'parent':>10}{'change':>10}")
        for label in sorted(set(counts_p) | set(counts_c)):
            print(f"{label:<46}{counts_p[label] / max(n_p, 1):>10.2f}"
                  f"{counts_c[label] / max(n_c, 1):>10.2f}")
        print(f"{'total':<46}{sum(counts_p.values()) / max(n_p, 1):>10.2f}"
              f"{sum(counts_c.values()) / max(n_c, 1):>10.2f}")

    table("Spark jobs per traced operation", p["ops"], c["ops"], p["per_op"], c["per_op"])
    for name in sorted(set(p["calls"]) | set(c["calls"])):
        table(f"Spark jobs per {name} call", p["calls"][name], c["calls"][name],
              p["per_call"].get(name, collections.Counter()),
              c["per_call"].get(name, collections.Counter()))


if __name__ == "__main__":
    main()
