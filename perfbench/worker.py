"""One benchmark run in a fresh Python process (and so a fresh JVM).

    python3 worker.py --workload W --seed N --state DIR --seconds S
                      --trace 0|1 --t0 LAUNCH_TIME --out RESULT.json

Untraced (``--trace 0``): set up a ``local[2]`` session and open the input
(``setup_s``), generate the input in that session if it is not cached
(untimed), run the first execution and the workload's warm-up executions,
and a closed loop of warm executions for S seconds.  Writes the end-to-end
metrics.

Traced (``--trace 1``): the same, with the untraced loop cut to S/2
seconds and followed by the second-path checks; for ``verdict`` a
``local[1]`` context in the same JVM and a loop of S/2 seconds for
``scaling_eff``; then a ``local[2]`` context with an uncompressed event
log and a traced loop of S/2 seconds.  The event log,
the first execution's time (``cold_s``) and the benchmark's own spans give
the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import eventlog
import inputs
from proctree import RssSampler, cpu_seconds
from workloads import WORKLOADS

HEAP = "2g"          # fits 4 vCPU / 15 GB beside the Python workers
# task slots: two of the four vCPUs, which leaves the driver, the JIT and
# GC threads and the Python driver room to run without stalling a task
PARALLELISM = 2
MIN_EXECS = 2        # warm executions per loop, however long they take


def session(master: str, state: str, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(master).appName("perfbench")
         .config("spark.driver.memory", HEAP)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.local.dir", os.path.join(state, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(state, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(state, 'tmp')} "
                 "-XX:-UsePerfData"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             # this Python has no zstd module to read the default codec
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, name: str, entry: str, state: str):
        with open(os.path.join(entry, "meta.json")) as f:
            self.meta = json.load(f)
        self.name, self.entry, self.state = name, entry, state
        self.pid = os.getpid()
        self.attempted = self.failed = 0

    def open(self, spark):
        return WORKLOADS[self.name](spark, self.entry, self.state,
                                    self.meta["expected"])

    def execute(self, w) -> dict:
        """One execution: the untimed query build, the timed planning and
        run, then the untimed follow-up and check.  The build is a chain of
        Python-to-JVM calls whose time, on a shared host, swings with CPU
        steal three times as much as the run's; it is reported on its own
        (``compiler.compile_s``, and inside ``cold_s``)."""
        rec = {"spans": [], "ok": False}
        try:
            tb = time.time()
            built = w.build(rec["spans"])
            rec["build"] = time.time() - tb
            c0, t0 = cpu_seconds(self.pid), time.time()
            result = w.execute(built, rec["spans"])
            t1, c1 = time.time(), cpu_seconds(self.pid)
            rec.update(t0=t0, t1=t1, wall=t1 - t0,
                       cpu=c1["total"] - c0["total"],
                       py_cpu=c1["python_workers"] - c0["python_workers"])
            rec.update(w.after(result))
            rec["ok"] = bool(w.check(result))
            rec["rows_written"] = result.get("rows_written", 0) \
                if isinstance(result, dict) else 0
        except Exception:            # counted as failed; the loop goes on
            traceback.print_exc()
        self.attempted += 1
        self.failed += not rec["ok"]
        if not rec["ok"]:
            print(f"perfbench: {self.name} execution failed its check",
                  file=sys.stderr, flush=True)
        return rec

    def loop(self, w, seconds: float) -> list[dict]:
        recs, deadline = [], time.time() + seconds
        while len(recs) < MIN_EXECS or time.time() < deadline:
            recs.append(self.execute(w))
        return [r for r in recs if "wall" in r]

    def fresh_loop(self, spark, seconds: float) -> list[dict]:
        """A loop in a new context of the warm JVM, after one untimed
        execution that pays the context's own first-use costs."""
        w = self.open(spark)
        self.execute(w)
        return self.loop(w, seconds)

    def second_path_checks(self, w) -> None:
        self.attempted += 1
        try:
            errors = w.second_path_checks()
        except Exception:
            traceback.print_exc()
            errors = ["second-path checks raised"]
        for e in errors[:20]:
            print(f"perfbench: mismatch: {e}", file=sys.stderr, flush=True)
        self.failed += bool(errors)


def _median(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)


def end_to_end(rows: int, setup_s: float, warm: list, peak_rss: int) -> dict:
    wall = _median(warm, "wall")
    return {"setup_s": setup_s, "wall_s": wall,
            "cpu_s": _median(warm, "cpu"), "rows_per_s": rows / wall,
            "peak_rss_mb": peak_rss / 2**20}


def _spans(rec: dict, name: str) -> list[tuple]:
    return [s for s in rec["spans"] if s[0] == name]


def _jobs_in(log, t0: float, t1: float) -> list:
    lo, hi = t0 * 1e3 - 1, t1 * 1e3 + 1
    return [j for j in log.jobs.values() if lo <= j.submit_ms <= hi]


def per_layer(name: str, rows: int, recs: list[dict], log,
              untraced: list[dict], warm1: list[dict]) -> dict:
    """Per-layer metrics of each traced execution; the median over them.
    ``untraced`` are warm executions of the same run without the event
    log, ``warm1`` those at ``local[1]`` (``verdict`` only)."""
    per = []
    for rec in recs:
        jobs = _jobs_in(log, rec["t0"], rec["t1"])
        tot = eventlog.totals(log, jobs)
        m = {
            "compiler.compile_s": sum(b - a for _, a, b in
                                      _spans(rec, "compile")),
            "compiler.plan_s": sum(b - a for _, a, b in _spans(rec, "plan")),
            "scan.rows_per_input_row": tot["input_records"] / rows,
            "scan.time_s": tot["scan_time_s"],
            "scan.bytes": tot["input_bytes"],
            "projection.cpu_s": tot["projection_cpu_s"],
            "shuffle.write_bytes": tot["shuffle_write_bytes"],
            "shuffle.write_s": tot["shuffle_write_s"],
            "shuffle.fetch_wait_s": tot["fetch_wait_s"],
            "udf.python_cpu_s": rec["py_cpu"],
            "udf.rows_to_python_per_input_row": tot["python_rows"] / rows,
            "udf.bytes_to_python": tot["python_bytes_out"],
            "udf.bytes_from_python": tot["python_bytes_in"],
            "jvm.gc_s": tot["gc_s"],
            "spill_bytes": tot["spill_bytes"],
            "peak_exec_mem_mb": tot["peak_exec_mem"] / 2**20,
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
        }
        queries = {"agg1": [], "agg2": [], "dup": []}
        for _, a, b in _spans(rec, "collect") if name == "verdict" else []:
            for j in _jobs_in(log, a, b):
                queries[eventlog.verdict_query(log, j)].append(j)
        for q, qjobs in queries.items():
            prefix = "uniqueness." if q == "dup" else "sequences."
            m[f"{prefix}{q}.cpu_s"] = eventlog.cpu_s(
                eventlog.stages_of(log, qjobs))
            m[f"{prefix}{q}.span_s"] = eventlog.span_s(qjobs)
        phases = rec.get("phase_seconds", {})
        m.update({
            "manifest.parts_scan_s": phases.get("parts_scan", 0.0),
            "manifest.manifest_read_s": phases.get("manifest_read", 0.0),
            "manifest.validate_write_s": phases.get("validate_write", 0.0),
            "manifest.metrics_s": phases.get("metrics", 0.0),
            "manifest.commit_s": phases.get("manifest_commit", 0.0),
            "manifest.noop_resume_s": rec.get("noop_resume_s", 0.0),
            "sink.rows_written": rec.get("rows_written", 0),
            "sink.files_written": rec.get("sink_files", 0),
            "sink.bytes_written": rec.get("sink_bytes", 0),
        })
        per.append(m)
    out = {k: statistics.median(m[k] for m in per) for k in per[0]}
    wall_p = _median(untraced, "wall")
    out["trace.overhead_frac"] = _median(recs, "wall") / wall_p - 1
    # rows_per_s at local[P] / (P x rows_per_s at local[1])
    out["scaling_eff"] = (_median(warm1, "wall") / (PARALLELISM * wall_p)
                          if warm1 else 0.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    traced = args.trace == 1
    loop_s = args.seconds / 2 if traced else args.seconds
    master = f"local[{PARALLELISM}]"
    warm1 = []
    with RssSampler(os.getpid()) as rss:
        spark = session(master, args.state)
        setup_s = time.time() - args.t0
        t = time.time()
        entry = inputs.ensure(os.path.join(args.state, "inputs"),
                              args.workload, args.seed, spark)
        gen_s = time.time() - t
        r = Runner(args.workload, entry, args.state)
        t = time.time()
        w = r.open(spark)
        setup_s += time.time() - t
        cold = r.execute(w)
        for _ in range(w.warmup):          # checked, but not timed
            r.execute(w)
        warm = r.loop(w, loop_s)
        t = time.time()
        if traced:
            r.second_path_checks(w)
        med = {n: statistics.median(sum(b - a for _, a, b in _spans(x, n))
                                    for x in warm)
               for n in sorted({s[0] for x in warm for s in x["spans"]})}
        print(f"perfbench: setup {setup_s:.1f} s, inputs {gen_s:.1f} s, "
              f"first {cold.get('build', 0) + cold.get('wall', 0):.1f} s, "
              f"checks {time.time() - t:.1f} s, warm wall/CPU "
              + " ".join(f"{x['wall']:.2f}/{x['cpu']:.1f}" for x in warm)
              + ", median span "
              + " ".join(f"{n} {v:.2f}" for n, v in med.items()),
              file=sys.stderr, flush=True)
        spark.stop()
        if traced and args.workload == "verdict":
            spark = session("local[1]", args.state)
            warm1 = r.fresh_loop(spark, loop_s)
            spark.stop()
        if traced:
            event_dir = os.path.join(args.state, f"events-{r.pid}")
            spark = session(master, args.state, event_dir)
            traced_recs = r.fresh_loop(spark, loop_s)
            spark.stop()
    if "wall" not in cold or not warm or (traced and not traced_recs):
        print("perfbench: no successful execution to measure",
              file=sys.stderr)
        return 1
    rows = r.meta["rows"]
    if traced:
        log = eventlog.parse(eventlog.find(event_dir))
        shutil.rmtree(event_dir, ignore_errors=True)
        metrics = per_layer(args.workload, rows, traced_recs, log, warm,
                            warm1)
        metrics["cold_s"] = cold["build"] + cold["wall"]
    else:
        metrics = end_to_end(rows, setup_s, warm, rss.peak)
    with open(args.out, "w") as f:
        json.dump({"attempted": r.attempted, "failed": r.failed,
                   "metrics": metrics}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
