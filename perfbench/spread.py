#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest-dml --seeds 1-10 \\
        [--seconds N] [--trace 0]

For every metric on the result line: the median of the runs and the
distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of that median. This
is the steadiness test the benchmark's bounds in BENCHMARK.json are
set against.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    values = {}
    for s in a.seeds:
        res = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        last = json.loads(res.stdout.strip().splitlines()[-1]) if res.stdout.strip() else {}
        if res.returncode != 0 or not last.get("correct"):
            sys.exit(f"seed {s}: run failed (exit {res.returncode})")
        for k, m in last["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + " ".join(f"{k}={m['value']:.4g}"
                                       for k, m in sorted(last["metrics"].items())
                                       if a.trace == 0), flush=True)
    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"]}
    for k, vs in sorted(values.items()):
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        bound = bounds.get(k)
        flag = "" if bound is None else (
            f"  bound {bound}: {'ok' if spread < bound / 3 else 'WIDE'}")
        print(f"{k:40s} median {med:10.4f}  spread {spread:7.2%}{flag}")


if __name__ == "__main__":
    main()
