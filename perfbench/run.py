"""The repository benchmark: validr_spark workloads on local[2].

    python3 perfbench/run.py --workload verdict|pyudf|resume --seed N
                             --seconds S --trace 0|1

Run from the repository root.  A fresh worker process sets up Spark,
generates the inputs from ``--seed`` (cached under ``.perfbench/``), runs
a first and some warm-up executions and measures a closed loop of warm
executions; a traced run adds the second-path checks (see worker.py).
Each workload is a closed loop: one driver thread submits one execution
after another.  ``--trace
0`` prints the end-to-end metrics, ``--trace 1`` the per-layer metrics,
as BENCHMARK.json names them; the last line of standard output is one
JSON object.  Exits non-zero without a result when the package is missing
or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import proctree  # noqa: E402

# a worker's time beyond its loops: JVM start, input generation, the first
# executions, second-path checks, the overshoot of each loop's last
# execution and shutdown
WORKER_MARGIN_S = 240


def run_worker(args, root: str, state: str) -> dict | None:
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    out = os.path.join(state, f"result-{os.getpid()}.json")
    log = os.path.join(state, "worker.log")
    env = dict(os.environ,
               # the Python workers Spark forks import validr_spark too
               PYTHONPATH=os.pathsep.join(
                   [root, HERE] + [p for p in [os.environ.get("PYTHONPATH")]
                                   if p]),
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"),
               TMPDIR=os.path.join(state, "tmp"))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--state", state,
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
    # the traced verdict run has three loops of seconds/2
    timeout = WORKER_MARGIN_S + 2 * args.seconds
    with open(log, "w") as logf:
        code = proctree.run(cmd + ["--t0", repr(time.time())], timeout,
                            cwd=state, env=env, stdout=logf,
                            stderr=subprocess.STDOUT)
    with open(log) as f:
        tail = [ln for ln in f.read().splitlines()
                if ln.startswith("perfbench:") or "Error" in ln][-20:]
    for ln in tail:
        print(ln, file=sys.stderr)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker {'timed out' if code is None else 'exited '}"
              f"{'' if code is None else code}; log in {log}", file=sys.stderr)
        return None
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "validr_spark", "__init__.py")):
        print("perfbench: run from the repository root (validr_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    result = run_worker(args, root, os.path.join(root, ".perfbench"))
    if result is None:
        return 1
    # the metric names and units are those BENCHMARK.json declares
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": result["metrics"][m["name"]],
                           "unit": m["unit"]} for m in declared}
    for k, m in metrics.items():
        print(f"{args.workload:8s} {k:34s} {m['value']:16.6f} {m['unit']}")
    print(f"{args.workload:8s} {'fail_frac':34s} "
          f"{result['failed'] / result['attempted']:16.6f} ratio "
          f"({result['failed']}/{result['attempted']})")
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
