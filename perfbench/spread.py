#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and prints, for
each metric, the median and the spread (interquartile range as a share
of the median, as statistics.quantiles(values, n=4) gives it) next to
the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload stream_bulk --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds",
                            str(bench["run_seconds"]), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        walls.append(time.monotonic() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        r = json.loads(last) if last.startswith("{") else {}
        print(f"seed {seed}: rc={p.returncode} wall={walls[-1]:.1f}s "
              f"correct={r.get('correct')} attempted={r.get('attempted')} "
              f"failed={r.get('failed')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r.get("metrics", {}).items()),
              flush=True)
        for k, v in r.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {stats.median(walls):.1f}s, max {max(walls):.1f}s")
    for k, xs in values.items():
        spread = stats.quartile_spread(xs) if len(xs) >= 2 else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE" if spread > b else "near")
        print(f"{k:28s} median {stats.median(xs):12.5g}  spread {spread:.3f}  bound {b}  {flag}")


if __name__ == "__main__":
    main()
