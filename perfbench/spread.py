#!/usr/bin/env python3
"""Steadiness check: runs one workload on several seeds and prints, for every
end-to-end metric, the median and the spread (distance between the first and
third quartiles as a share of the median) next to the metric's bound from
BENCHMARK.json, plus each run's wall time. Run from the root of a checkout:

    python3 perfbench/spread.py --workload etl_core --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        r = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                           "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.monotonic() - t0)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit code {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            sys.exit(f"seed {s}: incorrect result {res}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: {walls[-1]:.1f} s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else ("  above bound/3" if spread < b else "  ABOVE BOUND")
        print(f"{k:24s} median {med:12.6g}  spread {spread:7.4f}  bound {b}{flag}")


if __name__ == "__main__":
    main()
