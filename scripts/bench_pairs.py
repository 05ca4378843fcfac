#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, with a summary.

    python3 scripts/bench_pairs.py --workload fold_scan --base REV \
        [--pairs 10] [--first-seed 1] [--trace 0|1] [--work DIR] [--out FILE]

The parent side is revision REV, exported once with `git archive` into
<work>/<commit>; the change side is this working tree. Both build the
benchmark (perfbench/build.py) before the first pair, so no timed run
pays for a build. Pair i runs `python3 perfbench/run.py --workload W
--seed S --seconds T --trace X` on both sides with seed S = first-seed + i,
T the `run_seconds` of BENCHMARK.json and X the --trace given (default
0); odd seeds run the parent first, even seeds the change.

For every end-to-end metric of BENCHMARK.json the runs report, the
summary prints each side's median and quartiles, the pairs the change
won, whether the median gap exceeds the parent's interquartile range,
and FLAG when the change's median is worse than the parent's by more
than the metric's bound. With --trace 1 the runs report the per-layer
metrics instead, and the summary gives each one that both sides report
the same columns without a bound or FLAG (per-layer metrics have none);
a metric that reads 0 in every run (a layer the workload does not
exercise) is left out. Exits 1 when a metric is flagged or a run failed.
Reads perfbench/ and BENCHMARK.json; never writes to them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(rev: str, work: str) -> str:
    """<work>/<commit>: the files of `rev`, exported once."""
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    path = os.path.join(work, sha[:12])
    if not os.path.isdir(path):
        os.makedirs(path + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", path + ".tmp"], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"bench_pairs: git archive {rev} failed")
        os.rename(path + ".tmp", path)
    return path


def run(cwd: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run: its metric values, or None when it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)], cwd=cwd, capture_output=True, text=True)
    lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"bench_pairs: run failed in {cwd} (seed {seed}):\n{p.stderr[-2000:]}\n")
        return None
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q1, q2, q3)


def summarise(spec: list, pairs: list) -> list:
    """One row per metric of `spec` that both sides of some pair report;
    pairs are (parent, change) metric dicts. A metric without a bound is
    never flagged."""
    rows = []
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        done = [(p[name], c[name]) for p, c in pairs if p and c and name in p and name in c]
        if not done or "bound" not in m and not any(x for pc in done for x in pc):
            continue
        par, chg = [p for p, _ in done], [c for _, c in done]
        pq, cq = quartiles(par), quartiles(chg)
        won = sum(1 for p, c in done if (c < p if lower else c > p))
        worse = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
        rel = worse / abs(pq[1]) if pq[1] else (0.0 if worse <= 0 else float("inf"))
        rows.append(dict(metric=name, parent=pq, change=cq, won=won, pairs=len(done),
                         gap_over_iqr=-worse > pq[2] - pq[0], worse_rel=rel, bound=m.get("bound"),
                         flag="bound" in m and rel > m["bound"]))
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["fold_scan", "pipeline"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--base", required=True, help="parent revision; the change side is the working tree")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0,
                    help="1: the runs report the per-layer metrics, summarised without bounds")
    ap.add_argument("--work", default=os.path.join(ROOT, ".bench_pairs"))
    ap.add_argument("--out", help="also write every run's metrics and the summary here as JSON")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec, seconds = bench["end_to_end"] + (bench["per_layer"] if a.trace else []), bench["run_seconds"]
    sides = {"parent": checkout(a.base, a.work), "change": ROOT}
    for name, cwd in sides.items():
        print(f"building {name} in {cwd}", flush=True)
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=cwd, check=True, stdout=subprocess.DEVNULL)

    pairs, failed = [], 0
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        got = {}
        for side in order:
            t0 = time.time()
            got[side] = run(sides[side], a.workload, seed, seconds, a.trace)
            failed += got[side] is None
            shown = "failed" if got[side] is None else " ".join(f"{k}={v:.4g}" for k, v in got[side].items())
            print(f"seed {seed} {side:6s} {time.time() - t0:5.0f}s {shown}", flush=True)
        pairs.append((got["parent"], got["change"]))

    rows = summarise(spec, pairs)
    print(f"\n{a.workload}: {len(pairs)} pairs, {failed} failed runs")
    width = max([12] + [len(r["metric"]) for r in rows])
    print(f"{'metric':{width}s} {'parent median (q1, q3)':>30s} {'change median (q1, q3)':>30s} "
          f"{'won':>6s} {'gap>IQR':>8s} {'worse':>7s} {'bound':>6s}")
    for r in rows:
        p, c = r["parent"], r["change"]
        bound = "" if r["bound"] is None else f"{r['bound']:.2f}"
        print(f"{r['metric']:{width}s} {p[1]:12.4g} ({p[0]:.4g}, {p[2]:.4g}) {c[1]:12.4g} ({c[0]:.4g}, {c[2]:.4g}) "
              f"{r['won']:>3d}/{r['pairs']:<2d} {str(r['gap_over_iqr']):>8s} {r['worse_rel']:+7.1%} "
              f"{bound:>6s}{'  FLAG' if r['flag'] else ''}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(dict(workload=a.workload, sides=sides, first_seed=a.first_seed, trace=a.trace,
                           pairs=[dict(parent=p, change=c) for p, c in pairs], summary=rows), fh, indent=1)
    return 1 if failed or any(r["flag"] for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
