"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload dashboard --seeds 1 2 3 4 5

Runs the benchmark once per seed (untraced) and prints, for each
end-to-end metric of BENCHMARK.json, the median of the runs and the
distance between their first and third quartiles as a share of the median,
next to the metric's bound; also each run's wall time.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        wall = time.time() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
        res = json.loads(lines[-1])
        print(f"seed {seed}: wall {wall:.1f} s, correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        spread = float("nan")
        if len(v) >= 2:
            q = statistics.quantiles(v, n=4)
            spread = (q[2] - q[0]) / med
        flag = "" if spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:>20}: median {med:.4g} {m['unit']}, spread {spread:.3f} "
              f"(bound {m['bound']}){flag}")


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
