"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark on one workload once per seed and reports, per
metric, the median, the quartiles (``statistics.quantiles(n=4)``), and
the spread: (Q3 - Q1) / median. Each run measures BENCHMARK.json's
``run_seconds``, untraced. The reference figures in README.md were made
with it. From the checkout root:

    python3 perfbench/spread.py --workload doc --seeds 1-10
"""

import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a range a-b")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = str(json.load(f)["run_seconds"])
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", seconds, "--trace", "0"],
            capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        res["wall_s"] = time.time() - t0
        steal = [ln.split()[1] for ln in lines if ln.startswith("steal_share:")]
        runs.append(res)
        print(json.dumps({"seed": seed, "wall_s": round(res["wall_s"], 1), "steal": steal,
                          "attempted": res["attempted"], "failed": res["failed"],
                          "correct": res["correct"],
                          **{k: v["value"] for k, v in res["metrics"].items()}}), flush=True)
    print(f"{'metric':<16} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        print(f"{k:<16} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {(q3 - q1) / med:>8.3f}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share: {sorted(shares)}; mean run wall {statistics.mean(r['wall_s'] for r in runs):.1f} s")


if __name__ == "__main__":
    main()
