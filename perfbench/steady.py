#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/steady.py --workload olap-sf0.1 --seeds 1-10 [--seconds 10]

Run from the checkout root, like run.py. Exits non-zero if any run fails.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_lib as lib  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args(argv)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", args.workload, "--seed", str(seed),
                              "--seconds", args.seconds, "--trace", "0"],
                             stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}")
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect answers")
            return 1
        walls.append(time.time() - t0)
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: " + "  ".join(f"{k}={v:.4g}" for k, v in row.items())
              + f"  wall={walls[-1]:.1f}s", flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for k, vals in values.items():
        spread = lib.quartile_spread(vals) if len(vals) > 1 else 0.0
        print(f"{k:<16} median {lib.median(vals):12.4f}  spread {spread:.4f}  "
              f"bound {bounds[k]}  {'ok' if k == 'setup_s' or spread < bounds[k] / 3 else 'WIDE'}")
    print(f"wall per run: median {lib.median(walls):.1f}s, max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
