"""Benchmark entry point: build and serve workloads of the tiling engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload serve --seed 7 --seconds 18 --trace 1
    python3 perfbench/run.py --workload serve --seconds 18 --repeat 10 --seed 100

Run from the root of a checkout.  A single run starts workload.py in a new
process group (and session) with a fresh scratch directory under
.perfbench_tmp/, relays its stdout (the last line is the result JSON) and
then makes sure nothing it started is still running: processes that outlive
the workload are killed and the run fails.  SIGTERM or SIGINT stops the
workload the same way.  --repeat N runs seeds seed..seed+N-1 one after the
other and prints each metric's median, quartiles and min-max spread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402

RUN_TIMEOUT_S = 170
EXIT_GRACE_S = 15


class Stop(Exception):
    pass


def _on_signal(signum, _frame):
    raise Stop(signum)


def single_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[int, list[str]]:
    """Runs one workload; returns (exit code, stdout lines)."""
    token = uuid.uuid4().hex
    scratch = os.path.join(ROOT, ".perfbench_tmp", token)
    os.makedirs(scratch)
    env = dict(os.environ)
    env[procs.ENV_KEY] = token
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    env["TZ"] = "UTC"
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--scratch", scratch]
    child = None
    rc = 1
    out = ""
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 text=True, start_new_session=True)
        out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
        rc = child.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        rc = 1
    except Stop as s:
        print(f"perfbench: stopped by signal {s.args[0]}", file=sys.stderr)
        rc = 128 + s.args[0]
    finally:
        if child is not None and child.poll() is None:
            # the workload stops its server and Spark on SIGTERM; the group
            # and every marked process are killed below in any case
            child.terminate()
            try:
                child.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        # the JVM exits once its Python driver has gone; give it a moment
        deadline = time.time() + EXIT_GRACE_S
        while time.time() < deadline and procs.marked_pids(token):
            time.sleep(0.2)
        survivors = procs.kill_marked(token)
        if child is not None:
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    if survivors:
        desc = ", ".join(f"{p}:{procs.cmdline(p)[:60]}" for p in survivors)
        print(f"perfbench: processes outlived the run and were killed: {desc}", file=sys.stderr)
        if rc == 0:
            rc = 1
    return rc, out.splitlines() if out else []


def repeat(workload: str, seed: int, seconds: float, trace: int, n: int) -> int:
    results = []
    for s in range(seed, seed + n):
        t = time.time()
        rc, lines = single_run(workload, s, seconds, trace)
        if rc != 0 or not lines:
            print(f"seed {s}: run failed (exit {rc})", flush=True)
            return rc or 1
        results.append(json.loads(lines[-1]))
        for ln in lines[:-1]:  # the traced run's per-layer table
            print(ln)
        print(f"seed {s}: {time.time() - t:.0f} s  {lines[-1]}", flush=True)
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    summary = {"workload": workload, "runs": n, "trace": trace, "failed_shares": shares, "metrics": {}}
    print(f"\n{workload}, {n} runs, seeds {seed}..{seed + n - 1}, failed share(s) {shares}")
    print(f"{'metric':40s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'iqr/med':>8s} {'min':>14s} {'max':>14s} {'range/med':>9s}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if n > 1 else (vals[0], 0, vals[0])
        iqr = (q3 - q1) / med if med else 0.0
        rng = (max(vals) - min(vals)) / med if med else 0.0
        summary["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "iqr_share": iqr,
                                    "min": min(vals), "max": max(vals), "range_share": rng,
                                    "unit": results[0]["metrics"][name]["unit"]}
        print(f"{name:40s} {med:14.4f} {q1:14.4f} {q3:14.4f} {iqr:8.3f} {min(vals):14.4f} {max(vals):14.4f} {rng:9.3f}")
    print(json.dumps(summary))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0, help="run N seeds and print statistics")
    args = ap.parse_args()
    missing = [p for p in ("tilekiln_spark", os.path.join("sample", "config.yaml"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    if args.repeat:
        return repeat(args.workload, args.seed, args.seconds, args.trace, args.repeat)
    rc, lines = single_run(args.workload, args.seed, args.seconds, args.trace)
    if rc == 0:
        for ln in lines:
            print(ln)
    return rc


if __name__ == "__main__":
    sys.exit(main())
