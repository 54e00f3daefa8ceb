#!/usr/bin/env python3
"""Records bench/expected.json: the output every benchmark op must give.

    python3 bench/record.py

Runs each op of every workload twice in one runner JVM and keeps its
digest only if both runs agree. Each op's output is also written as
parquet and cross-checked once against the DuckDB oracle with
tools/compare_oracle.py (sorted columns, sorted rows, bit-exact values);
an op is recorded only if it matches. Record again only when a change is
meant to alter an output.
"""
import json
import os
import subprocess
import sys

import run


def main():
    classpath = run.build()
    work = os.path.join(run.build_dir(), "record")
    sandbox = run.sandbox_ok(work + "-probe")
    got = run.run_jvm(classpath, work, sandbox, 1800, mode="record", data=run.DATA)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare_oracle.py"),
                            run.DATA, os.path.join(work, "record")],
                           stdout=subprocess.PIPE, text=True, check=True).stdout
    print(check)
    verdict = {}
    for line in check.splitlines():
        parts = line.split()
        if parts[:1] in (["PASS"], ["FAIL"]):
            verdict[parts[1]] = parts[0]
    ops, bad = {}, []
    for op, d in sorted(got.items()):
        if not d["stable"]:
            bad.append(f"{op}: digest differs between two runs")
        elif verdict.get(op) == "PASS":
            ops[op] = {"digest": d["digest"], "oracle": "duckdb match"}
        else:
            bad.append(f"{op}: no DuckDB oracle match ({verdict.get(op, 'no oracle')})")
    for b in bad:
        print("NOT RECORDED", b)
    with open(run.EXPECTED, "w") as f:
        json.dump({"data": os.path.relpath(run.DATA, run.ROOT), "ops": ops}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
