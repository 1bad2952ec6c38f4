#!/usr/bin/env python3
"""Tracing overhead, and which counts repeat exactly across two traced
runs of one seed.

    python3 perfbench/tools/trace_check.py --workload batch_concurrent --seed 1 --seconds 10

Runs the workload once untraced and twice traced. The tracing overhead is
the traced timed wall minus the untraced one. Then it compares the two
traced runs op by op (op names in order; job, stage and task counts) and
the per-layer counts. Only a count reported here as repeating may back a
count-based performance claim; the others move between runs of the same
code.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
COUNTS = ["exec.jobs", "exec.stages", "exec.tasks", "plans.graft_rule_runs",
          "sources.graft_log.log_versions", "sources.graft_log.checkpoints",
          "sources.graft_log.write_amp", "sources.delta_log.log_versions",
          "sources.delta_log.checkpoints", "sources.delta_log.write_amp",
          "frames.blocks"]


def once(a, trace):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                    "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{trace}.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    r0, r1, r2 = once(a, 0), once(a, 1), once(a, 1)
    overhead = (r1["timed_wall_s"] + r2["timed_wall_s"]) / 2 - r0["timed_wall_s"]
    same_stream = [o["name"] for o in r1["ops"]] == [o["name"] for o in r2["ops"]]
    print(f"{a.workload} seed {a.seed}: untraced wall {r0['timed_wall_s']:.3f} s, traced "
          f"{r1['timed_wall_s']:.3f} s and {r2['timed_wall_s']:.3f} s, "
          f"tracing overhead {overhead:+.3f} s")
    print(f"  op stream repeats: {same_stream}")
    result = {"workload": a.workload, "seed": a.seed, "tracing_overhead_s": overhead,
              "stream_repeats": same_stream}
    for k in ("jobs", "stages", "tasks"):
        diff = [o1["name"] for o1, o2 in zip(r1["ops"], r2["ops"]) if o1.get(k) != o2.get(k)]
        result[f"per_op.{k}"] = not diff
        print(f"  per-op {k:7s} repeat exactly: {not diff}" + (f"  (differ: {', '.join(diff[:6])})" if diff else ""))
    for k in COUNTS:
        v1, v2 = r1["layers"].get(k), r2["layers"].get(k)
        result[k] = v1 == v2
        print(f"  {k:34s} {v1!r:>14} {v2!r:>14}  {'repeats' if v1 == v2 else 'moves'}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
