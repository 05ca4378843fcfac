#!/usr/bin/env python3
"""Rebuild perfbench/expected.json: the expected output hashes of the
pipeline workload, per fixture scale.

    python3 perfbench/expected.py

For every operation of the workload that has a `SparkEntry.oracleSql`
entry, the expected hash comes from replaying that SQL in DuckDB over the
fixture tables. Operations without one (the expression micro-selects)
get the hash of the current code's output, so later changes are checked
against it. An operation whose Spark output differs from its oracle is
printed as a standing defect; its expected hash stays the oracle's.
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import canon  # noqa: E402
from run import FIXTURES  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["documents", "embeddings", "events"]


def main() -> int:
    cp, _, _ = build.ensure()
    bdir = build.build_dir()
    expected, defects = {}, []
    for scale, sf in FIXTURES.items():
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "pipeline", "--seed", "1",
                        "--seconds", "0", "--trace", "0", "--scale", scale], check=True, stdout=subprocess.DEVNULL)
        with open(os.path.join(bdir, "results", f"pipeline-{scale}-seed1-trace0.json")) as fh:
            checks = json.load(fh)["checks"]
        ops = sorted(c["op"] for c in checks)
        sql_path = os.path.join(bdir, "oracles.json")
        subprocess.run([build.java(), "-cp", cp, "graftbench.Oracles", sql_path] + ops, check=True)
        with open(sql_path) as fh:
            oracles = json.load(fh)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(HERE, 'fixtures', sf, t + '.parquet')}'")
        table = {}
        for c in sorted(checks, key=lambda c: c["op"]):
            got = c.get("digest")
            if c["op"] in oracles:
                want = dict(canon.digest(con.execute(oracles[c["op"]]).df()), source="duckdb")
                if got is None or (got["rows"], got["sha256"]) != (want["rows"], want["sha256"]):
                    defects.append(f"{sf} {c['op']}: spark {got} vs oracle {want} {c['detail']}")
            elif got is not None:
                want = dict(got, source="graft")
            else:
                defects.append(f"{sf} {c['op']}: failed without an oracle: {c['detail']}")
                continue
            table[c["op"]] = want
        expected[sf] = table
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for d in defects:
        print("STANDING DEFECT", d)
    return 0


if __name__ == "__main__":
    sys.exit(main())
