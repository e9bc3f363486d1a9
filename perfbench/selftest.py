"""Self-test of the benchmark's checks.

For each workload it runs the benchmark twice, briefly:

* with ``--plant-wrong`` on seed 1, which corrupts expected answers
  (interactive: the first Spark op's and the first doc op's; refresh:
  the ``clean`` pipeline's in round 1): each such op must count as
  failed, on top of the workload's known failures, and ``correct`` must
  be false;
* unchanged on seed 2: only the known failures, and ``correct`` true.

The known failures are refresh's rowwise-rung pipeline from round 2 on
(see CHANGES.md, FOUND: rowwise LRU). Run from the checkout root:

    python3 perfbench/selftest.py
"""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import REFRESH_ROUNDS  # noqa: E402

KNOWN_FAILED = {"interactive": 0, "refresh": REFRESH_ROUNDS - 1}
PLANTED = {"interactive": 2, "refresh": 1}


def bench(workload, seed, plant):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "5", "--trace", "0"] + (["--plant-wrong"] if plant else [])
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ok = True
    for w, known in KNOWN_FAILED.items():
        planted = bench(w, 1, plant=True)
        clean = bench(w, 2, plant=False)
        caught = planted["failed"] == known + PLANTED[w] and not planted["correct"]
        passes = clean["failed"] == known and clean["correct"]
        print(f"{w}: planted wrong answer counted as failed: {caught} "
              f"({planted['failed']}/{planted['attempted']}); "
              f"seed 2 passes: {passes} ({clean['failed']}/{clean['attempted']})")
        ok &= caught and passes
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
