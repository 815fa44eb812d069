"""Run the benchmark over several seeds and print each end-to-end
metric's median and spread (inter-quartile distance over the median).

    python3 perfbench/spread.py --workload NAME --seeds 1-10

Each run measures ``run_seconds`` from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", "0"]
        res = json.loads(subprocess.run(cmd, check=True, capture_output=True,
                                        text=True).stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **res}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        print(f"{m['name']:>18} median {statistics.median(v):.5g}  spread {spread(v):.4f}  "
              f"bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
