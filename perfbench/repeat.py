#!/usr/bin/env python3
"""Which per-op counters of the traced run repeat exactly.

Usage (from the repository root):

    python3 perfbench/repeat.py --workload ci_pr --seed 1

Runs `perfbench/run.py --trace 1` twice with the same code and seed, then
compares the two runs' spans op by op. A counter repeats exactly when every
traced op reads the same value in both runs; such counters can tell a real
change from host noise when wall time moves less than the host's spread.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_run(workload, seed):
    # a traced run is always one pass, so --seconds has no effect on it
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"traced run failed with exit code {r.returncode}")
    path = os.path.join(ROOT, ".bench_build", "traces", f"{workload}-seed{seed}.json")
    with open(path) as f:
        return json.load(f)["spans"]


def per_op(spans):
    """Counters of each op, keyed by its position in the traced passes;
    `spark.jobs` and `jobs.<module>` come from the job spans."""
    out = []
    for s in spans:
        c = dict(s["counters"])
        c["spark.jobs"] = len(s["jobs"])
        for j in s["jobs"]:
            k = "jobs." + j["module"]
            c[k] = c.get(k, 0) + 1
        out.append(c)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    first = per_op(traced_run(a.workload, a.seed))
    second = per_op(traced_run(a.workload, a.seed))
    if len(first) != len(second):
        sys.exit(f"the runs traced {len(first)} and {len(second)} ops")
    keys = sorted(set().union(*first, *second))
    same = [k for k in keys
            if all(x.get(k, 0) == y.get(k, 0) for x, y in zip(first, second))]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "ops": len(first),
                      "identical": same,
                      "differing": [k for k in keys if k not in same]}))


if __name__ == "__main__":
    main()
