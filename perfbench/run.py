#!/usr/bin/env python3
"""graft benchmark: run one workload with one seed and print one JSON line.

    python3 perfbench/run.py --workload fold_scan|pipeline \
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Run from the root of a graft checkout. The first run builds the library
and the benchmark's JVM program from source (perfbench/build.py). The JVM runs
one workload closed-loop on local[nproc] and writes its measurements;
this script then checks the outputs of the untimed pass against
perfbench/expected.json and prints, as the last line of stdout,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1; 0 where the workload does not exercise that
layer). The full result, run context and, for --trace 1, the span tree
are kept under <build dir>/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 160
FIXTURES = {"full": "sf0.01", "tiny": "sf0.001"}


def steal_s() -> float:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / 100.0 if len(f) > 8 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def commit(fp: str) -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + fp


def run_jvm(cmd: list, log_path: str) -> int:
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


def check_outputs(checks: list, expected: dict) -> list:
    """Hash every output the JVM wrote and compare it with its expected
    hash; returns the checks with `ok`/`detail` settled."""
    import canon
    out = []
    for c in checks:
        c = dict(c)
        if c["ok"] and c.get("output"):
            want = expected.get(c["op"])
            got = canon.digest_parquet(c["output"])
            c["digest"] = got
            if want is None:
                c["ok"], c["detail"] = False, "no expected hash"
            elif (got["rows"], got["sha256"]) != (want["rows"], want["sha256"]):
                c["ok"], c["detail"] = False, f"hash mismatch: {got['rows']} rows vs {want['rows']} expected"
        out.append(c)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["fold_scan", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    cp, cds, fp = build.ensure()
    bdir = os.path.abspath(build.build_dir())
    tag = f"{a.workload}-{a.scale}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(bdir, "runs", f"{tag}-{os.getpid()}")
    res_dir = os.path.join(bdir, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(res_dir, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    n, heap = build.cores(), build.heap_mb()
    cmd = build.jvm(os.path.join(run_dir, "tmp"), cds) + [
        "-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--scale", a.scale,
        "--cores", str(n), "--run-dir", run_dir, "--out", out,
        "--trace-out", os.path.join(res_dir, tag + ".spans.json"),
        "--fixtures", os.path.join(HERE, "fixtures", FIXTURES[a.scale])]
    steal0, load0, t0 = steal_s(), loadavg(), time.time()
    rc = run_jvm(cmd, os.path.join(res_dir, tag + ".log"))
    steal1, load1 = steal_s(), loadavg()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(f"perfbench: JVM exited with {rc}; log in {res_dir}/{tag}.log\n")
        return 1
    with open(out) as fh:
        res = json.load(fh)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh).get(FIXTURES[a.scale], {})
    checks = check_outputs(res["checks"], expected)
    failed = res["failed_calls"] + sum(1 for c in checks if not c["ok"])
    attempted = res["attempted"]
    m = dict(res["metrics"])
    m["ok_frac"] = 1.0 - failed / attempted
    names = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {x["name"]: {"value": float(m.get(x["name"], 0.0)), "unit": x["unit"]} for x in names}
    res.update(checks=checks, failed=failed, all_metrics=m, context=dict(
        res["context"], seed=a.seed, heap_mb=heap, commit=commit(fp), steal_s=steal1 - steal0,
        loadavg_before=load0, loadavg_after=load1, run_s=time.time() - t0))
    with open(os.path.join(res_dir, tag + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for c in checks:
        if not c["ok"]:
            sys.stderr.write(f"perfbench: {c['op']} failed its output check: {c['detail']}\n")
    print(json.dumps({"context": res["context"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
