#!/usr/bin/env python3
"""Self-test of the graft benchmark at tiny size (the sf0.001 tables and a
4,000-row generated frame).

    python3 perfbench/selftest.py

For every workload, untraced and traced, it checks that
  - every metric named in BENCHMARK.json is printed, with its unit;
  - no operation failed (fail_frac = failed / attempted = 0);
  - for every traced operation, construct + plan + execute matches the
    operation's wall time within the tracing overhead.
Exits non-zero on the first run that breaks one of these.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

SECONDS = "2"


def run(workload: str, trace: int) -> dict:
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
                          "--seconds", SECONDS, "--trace", str(trace), "--scale", "tiny"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            line = run(w, trace)
            tag = f"{w} trace={trace}"
            for m in names:
                got = line["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
                    problems.append(f"{tag}: metric {m['name']} missing or without unit {m['unit']}: {got}")
            if set(line["metrics"]) != {m["name"] for m in names}:
                problems.append(f"{tag}: extra metrics {set(line['metrics']) - {m['name'] for m in names}}")
            if line["failed"] != 0 or not line["correct"]:
                problems.append(f"{tag}: fail_frac {line['failed']}/{line['attempted']} is not 0")
            if trace == 1:
                with open(os.path.join(build.build_dir(), "results", f"{w}-tiny-seed7-trace1.json")) as fh:
                    res = json.load(fh)
                traced = [o for o in res["ops"] if o["traced"]]
                per_op = max(0.0, res["all_metrics"]["trace.overhead_s"]) / max(1, len(traced))
                tol = max(0.005, per_op)
                for o in traced:
                    gap = o["outer_s"] - (o["construct_s"] + o["plan_s"] + o["execute_s"])
                    if not 0 <= gap <= tol:
                        problems.append(f"{tag}: {o['name']} phases miss its wall time by {gap:.4f} s (> {tol:.4f})")
            print(f"{tag}: {len(names)} metrics, {line['attempted']} calls, {line['failed']} failed")
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
