"""Self-test of the benchmark at a small input size.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced
with ``--scale 0.1``, and checks that each run exits 0, that its last
line is a result object carrying every declared metric with its unit,
that the output check passed with no failed operation, and that the
traced run's trace file parses and holds spans.  Exits non-zero on the
first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7


def run(workload, trace):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--scale", "0.1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit("%s trace=%d exited %d:\n%s" % (workload, trace, p.returncode, p.stderr[-3000:]))
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(w["name"], trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0, res
            assert res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, sorted(set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            if trace:
                path = os.path.join(ROOT, ".perfbench_work",
                                    "trace-%s-%d.json" % (w["name"], SEED))
                with open(path) as f:
                    spans = json.load(f)["spans"]
                assert spans and all(s["end"] >= s["start"] for s in spans), path
                layers = {s["name"] for s in spans} - {"op"}
                assert layers, "no layer spans in %s" % path
            print("ok  %-16s trace=%d  %d metrics" % (w["name"], trace, len(want)))
    print("selftest passed")


if __name__ == "__main__":
    main()
