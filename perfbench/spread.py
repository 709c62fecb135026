"""Run one workload with several seeds and report, per end-to-end metric,
the ten values' median and quartile spread ((q3 - q1) / median) against
the metric's bound in BENCHMARK.json.

Usage (from the checkout root):
    python3 perfbench/spread.py --workload query_mix --seeds 1,2,3,4,5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from metrics import quartile_spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds.split(","):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", seed, "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=root, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
        if not result or not result["correct"]:
            raise SystemExit(f"seed {seed}: run failed or incorrect")
        for k, m in result["metrics"].items():
            values[k].append(m["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        spread = quartile_spread(v) if len(v) > 1 else float("nan")
        print(f"{m['name']:>14}: median {statistics.median(v):.4g} {m['unit']}, spread {spread:.3f}"
              f" (bound {m['bound']}), values {', '.join(f'{x:.4g}' for x in v)}")


if __name__ == "__main__":
    main()
