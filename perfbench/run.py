#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload llm_dedup_sim --seed 1 --trace 0

Builds the engine (sbt) and the harness (javac) when their sources
changed, generates the fixture tables once, then runs one harness JVM:
session build, one untimed warm-up pass (full fingerprint check), then
the timed passes (row-count check on every op). With --trace 0 the last
stdout line carries the end-to-end metrics; with --trace 1 it carries the
per-layer metrics of the traced passes. See perfbench/README.md.
"""
import argparse
import json
import os
import signal
import sys

sys.dont_write_bytecode = True  # write nothing into the benchmark's directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

REFERENCE = os.path.join(bench.HERE, "reference.json")


def write_plan(path, args, data, out, members, reference):
    n = workloads.timed_passes(args.workload, args.seconds)
    if args.trace:
        n = max(3, n | 1)
    lines = [f"data {data}", f"out {out}", f"seed {args.seed}",
             f"master local[{bench.workers()}]", f"shuffle {bench.workers()}",
             f"trace {args.trace}", f"sample {metrics.sample_seed(args.seed)}",
             "warmup " + " ".join(metrics.pass_order(members, args.seed, -1))]
    for i in range(n):
        lines.append(f"pass {int(bool(args.trace) and metrics.traced_pass(i))} " +
                     " ".join(metrics.pass_order(members, args.seed, i)))
    for q in members:
        if q in reference:
            lines.append(f"expect {q} {reference[q]['rows']} {reference[q]['hash']}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def result_line(correct, attempted, failed, values, units):
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}})


def main(argv=None):
    bench.check_checkout()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still kills its JVM and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(REFERENCE) as f:
        reference = json.load(f)
    members = workloads.WORKLOADS[args.workload]["pass"]
    missing = [q for q in members if q not in reference and q not in workloads.TRAINERS]
    if missing:
        raise bench.BenchError(f"no reference fingerprint for {missing}")
    classpath = bench.build()
    data = bench.data_dir()
    with bench.RunDir() as run_dir:
        plan = os.path.join(run_dir, "plan.txt")
        out = os.path.join(run_dir, "out.json")
        write_plan(plan, args, data, out, members, reference)
        bench.run_jvm(bench.jvm_command(classpath, run_dir, "perfbench.Harness", plan),
                      run_dir)
        with open(out) as f:
            raw = json.load(f)

    e2e, attempted, failed, context = metrics.end_to_end(raw, bench.workers())
    for o in raw["ops"]:
        if metrics.op_failed(o):
            print(f"FAILED op qid={o['qid']} pass={o['pass']} "
                  f"error={o.get('error')} mismatch={o.get('mismatch')}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
                      "context": context}))
    if args.trace:
        layers, closure = metrics.per_layer(raw, bench.memo_log_lines(), bench.workers())
        print(json.dumps({"self_time_closure_ms": closure,
                          "trace_overhead_s": layers["trace.overhead_s"]}))
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = layers
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {k: v for k, (v, _) in e2e.items()}
    print(result_line(failed == 0, attempted, failed, values, units))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (bench.BenchError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
