#!/usr/bin/env python3
"""Write perfbench/reference.json: a fingerprint (row count + order-free
content hash) for every registered qid a workload's pass issues, on the
benchmark's generated tables.

Usage (from the repository root, on a commit whose results are trusted):
    python3 perfbench/make_reference.py

The harness fingerprints every qid twice, in two different orders, and
the two fingerprints must agree. Where the qid has a DuckDB oracle
(SparkEntry.oracleSql), the engine's own correctness dump (graft.Verify)
is compared with it by tools/check_oracle.py, and the fingerprint is
marked "oracle" only if they match; otherwise it records the engine's
own output at this commit ("engine").
"""
import json
import os
import re
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing into the benchmark's directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
import workloads  # noqa: E402


def fingerprint_run(classpath, data, qids):
    with bench.RunDir() as run_dir:
        plan = os.path.join(run_dir, "plan.txt")
        out = os.path.join(run_dir, "out.json")
        lines = [f"data {data}", f"out {out}", "mode fingerprint",
                 f"master local[{bench.workers()}]", f"shuffle {bench.workers()}",
                 "warmup " + " ".join(qids)]
        with open(plan, "w") as f:
            f.write("\n".join(lines) + "\n")
        bench.run_jvm(bench.jvm_command(classpath, run_dir, "perfbench.Harness", plan),
                      run_dir)
        with open(out) as f:
            raw = json.load(f)
    bad = [o for o in raw["ops"] if o.get("error")]
    if bad:
        raise bench.BenchError(f"ops threw: {[(o['qid'], o['error']) for o in bad]}")
    return raw["fingerprints"]


def oracle_ok(classpath, data, qids):
    """The qids whose graft.Verify dump matches the DuckDB oracle."""
    with bench.RunDir() as run_dir:
        dump = os.path.join(run_dir, "verify")
        bench.run_jvm(bench.jvm_command(classpath, run_dir, "graft.Verify", data, dump,
                                        *qids), run_dir)
        r = subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"),
                            dump, data, *qids], capture_output=True, text=True)
    print(r.stdout, end="")
    return set(re.findall(r"^OK (\S+) ", r.stdout, re.M))


def main():
    bench.check_checkout()
    classpath = bench.build()
    data = bench.data_dir()
    qids = [q for q in workloads.all_ops() if q not in workloads.TRAINERS]
    first = fingerprint_run(classpath, data, qids)
    second = fingerprint_run(classpath, data, list(reversed(qids)))
    unstable = [q for q in qids if first[q] != second[q]]
    if unstable:
        raise bench.BenchError(f"fingerprints differ between two runs: {unstable}")
    agree = oracle_ok(classpath, data, qids)
    ref = {q: dict(first[q], source="oracle" if q in agree else "engine") for q in qids}
    for q in qids:
        print(f"{q}: {ref[q]}")
    with open(os.path.join(bench.HERE, "reference.json"), "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
