#!/usr/bin/env python3
"""Run one workload at several seeds and report, for each end-to-end
metric, the median and the spread (interquartile range as a share of
the median), next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload dashboard --seeds 1-10

Run it from the root of a checkout. Raw results are appended to
``--out`` (JSON lines) when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or str(spec["run_seconds"])
    values = {}
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: exit {p.returncode}", flush=True)
            continue
        res = json.loads(lines[-1])
        host = json.loads(lines[-2])["host"] if len(lines) > 1 else {}
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, "host": host,
                                    "result": res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} steal={host.get('host_steal_frac', 0):.3f} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
        else:
            spread = float("nan")
        print(f"{k:20s} n={len(vs):2d} median={med:.5g} spread={spread:.4f} "
              f"bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
