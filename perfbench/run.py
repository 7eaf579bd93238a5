#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stmt-federated --seed 1 \\
        --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  stmt-federated  two closed-loop clients on the Trino statement face
  ingest-dml      versioned-table writes beside reads, plus a mongo CTAS

The engine and the harness are compiled from source into `.bench_build`
(perfbench/build.py); one JVM then sets up the workload several times,
warms it, and measures whole passes for `--seconds`. With `--trace 0`
the last line carries the end-to-end metrics; with `--trace 1` it
carries the per-layer metrics of a run that mixes untraced and
traced passes (U T T U), including `trace_overhead.*` (traced minus untraced).
Traced runs also write their spans to
`.bench_build/traces/<workload>-seed<n>.jsonl`.

Every output is checked: statement results against direct execution,
and each ingest read against a model of the seeded batches. Any
mismatch makes `correct` false and the exit code 1.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import build  # noqa: E402  (the package's build file)

# Both workloads read the sf0.1 tables copied into the package.
DATA = HERE / "data" / "sf0.1"
WORKLOADS = ["stmt-federated", "ingest-dml"]
JVM_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
PERCENTILES = [99.9, 99, 95, 90, 75]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(cp, args, work, log_path):
    """Run the harness JVM in its own process group; kill it on timeout."""
    # the engine's own heap setting (build.sbt, run-main.sh)
    heap = os.environ.get("SPARK_DRIVER_MEM", "16g")
    cmd = (["java", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def describe(s):
    """Median plus the highest percentile with at least ten samples beyond it."""
    xs = sorted(s["samples"])
    n = len(xs)
    if n == 0:
        return f"{s['name']}: no samples"

    def pct(p):
        r = (n - 1) * p / 100
        lo = int(math.floor(r))
        hi = min(lo + 1, n - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)
    text = f"{s['name']}: median {pct(50):.4f} {s['unit']}"
    tail = next((p for p in PERCENTILES if n * (1 - p / 100) >= 10), None)
    if tail is not None:
        text += f", p{tail:g} {pct(tail):.4f} {s['unit']}"
    return text + f" (n={n})"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (DATA / "lineitem.parquet").is_file():
        fail(f"input tables missing under {DATA}", 2)
    try:
        cp = build.build()
    except Exception as e:  # noqa: BLE001 - any build problem ends the run
        fail(f"build failed: {e}", 2)

    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    spans = BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    log = BUILD / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    try:
        t0 = time.time()
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--data", str(DATA),
                            "--work", str(work), "--out", str(out),
                            "--spans", str(spans)], work, log)
        if code != 0 or not out.is_file():
            tail = log.read_text(errors="replace")[-3000:]
            fail(f"harness JVM {'timed out' if code is None else f'exited {code}'}"
                 f" after {time.time() - t0:.0f} s; log {log}:\n{tail}")
        res = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        print(f"[perfbench] MISMATCH {e}", file=sys.stderr)
    correct = res["failed"] == 0
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{res['passes']} passes in {res['window_s']:.1f} s, prepare "
          f"{res['prepare_s']:.1f} s, setups {[round(x, 2) for x in res['setups']]}, "
          f"untraced pass times {[round(x, 2) for x in res['summary'][2]['samples']]}")
    for s in res["summary"]:
        print("  " + describe(s))
    passes, ops = res["summary"][2]["samples"], res["summary"][3]["samples"]
    if passes:
        print(f"  ops_per_s: {len(ops) / sum(passes):.4f} 1/s "
              f"({len(ops)} operations in {len(passes)} passes)")
    print(f"  failed_frac: {res['failed'] / max(res['attempted'], 1):.4f} "
          f"({res['failed']} of {res['attempted']} operations)")
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["metrics"].items()}
    print(json.dumps({"correct": correct, "attempted": max(res["attempted"], 1),
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_mb", "MB"), ("core_util", "ratio"),
                         ("per_live_byte", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
