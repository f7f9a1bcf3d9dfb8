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
is read from the same command. Exits non-zero if any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

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
            traced = {side: run(checkout, workload, seeds[0], seconds, trace=1)
                      for side, checkout in (("parent", parent), ("change", ROOT))} \
                if layers else {}
            failed += sum(1 for r in traced.values() if r is None)
            results.append((workload, runs, failed, traced))
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent], cwd=ROOT,
                       stdout=subprocess.DEVNULL)
    for workload, runs, failed, traced in results:
        report(workload, runs, failed, seconds, metrics)
        if layers:
            report_layers(workload, seeds[0], traced, layers)
    sys.exit(1 if any(failed for _, _, failed, _ in results) else 0)


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


if __name__ == "__main__":
    main()
