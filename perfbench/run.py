"""Engine benchmark: one command runs a workload, checks its outputs and
prints every metric with its unit.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` the same workload runs
with every layer traced and the last line holds the per-layer metrics.
The line before it is a ``{"detail": ...}`` object: per-verb timings
with sample counts, provenance, and (traced) the end-to-end values
measured under tracing.  All scratch state lives in ``.perfbench_work/``
under the root and is removed on exit.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "msg_vector_search_spark"
#: driver heap: the package's 16g default does not fit a 15 GB host
#: without swap next to other processes; 2g holds this corpus with room
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "bootstrap_msgs_per_s": "msgs/s",
    "index_build_s": "s",
    "request_p50_s": "s",
    "request_mean_s": "s",
}


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str:
    """Process hygiene, set before the JVM starts: a driver heap that
    fits, workers that can import the package from any directory, and
    every scratch write (Spark local dirs, JVM and Python temp files,
    warehouse, event log) under *work*."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir)
        # one plain JSON-lines file, read after the session stops
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
    return log_dir


def jvm_peak_mb() -> float:
    """Peak RSS of the driver JVM (VmHWM), 0 when it is not running."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def git_sha() -> str:
    """HEAD of the checkout, "unknown" outside a git work tree (a
    checkout nested in another repository must not report that one)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def end_to_end(run, rss_mb: float) -> dict:
    import workloads
    t = run.timings
    requests = [x for k in run.request_kinds for x in t.get(k, [])]
    return {
        "setup_s": statistics.median(t["setup"]),
        "peak_rss_mb": rss_mb,
        "bootstrap_msgs_per_s": workloads.N_BASE / t["bootstrap"][0],
        "index_build_s": t["index_build"][0],
        "request_p50_s": statistics.median(requests),
        "request_mean_s": statistics.fmean(requests),
    }


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside {HERE}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = prepare_env(work, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    import spans as tracing
    import workloads

    tracer = tracing.Tracer() if args.trace else None
    cpus = len(os.sched_getaffinity(0))
    run = workloads.Run(work, args.seed, cpus, tracer)
    hooks = LayerCounters(run, tracer) if tracer else None
    try:
        if tracer:
            tracer.install(hooks.hooks())
        try:
            run.start()
            workloads.WORKLOADS[args.workload](run, args.seconds)
            rss = (jvm_peak_mb()
                   + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
            e2e = end_to_end(run, rss)
        finally:
            if tracer:
                tracer.uninstall()
            t0 = time.perf_counter()
            stop_spark(run.spark)
            run.timings["stop"] = [time.perf_counter() - t0]
        if tracer:
            metrics = tracer.span_metrics(tracing.read_event_log(log_dir))
            metrics.update(hooks.ratios())
            units = {k: tracing.per_layer_unit(k) for k in metrics}
        else:
            metrics, units = e2e, END_TO_END
        detail = {
            "workload": args.workload, "trace": args.trace,
            "seconds": args.seconds,
            "wall_s": time.perf_counter() - t_start,
            "timings": {k: workloads.summary(v) for k, v in run.timings.items()},
            "end_to_end": e2e,
            "recall_at_10": run.recalls,
            "failures": run.failures[:5],
            "provenance": provenance(run, args),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def provenance(run, args) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from msg_vector_search_spark import embed
    import workloads
    return {
        "nproc": run.cpus, "git_sha": git_sha(),
        "encoder": embed.encoder_kind(), "driver_heap": DRIVER_MEM,
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "python": sys.version.split()[0],
        "seed": args.seed, "corpus": run.gen.corpus.provenance(),
        "delta": workloads.DELTA, "setup_repeats": workloads.SETUP_REPEATS,
        "sim_step_s": workloads.SIM_STEP_S,
        "engine": {k: getattr(run.serving, k, None)
                   for k in ("nlist", "nprobe", "shortlist")},
    }


class LayerCounters:
    """The traced run's ratios, counted where the work happens: gate
    decisions, inline-ingest usefulness and scanned-vs-stored rows."""

    def __init__(self, run, tracer):
        self.run, self.tracer = run, tracer
        self.gate_calls = self.gate_fires = self.useful = 0
        self.scanned = self.stored = 0
        self._wm = None

    def hooks(self) -> dict:
        return {"search.FreshnessGate.should_update": self._gate,
                "engine.update_embeddings": self._update,
                "ingest.run_incremental": self._ingest}

    def _gate(self, args, kwargs, fired) -> None:
        self.gate_calls += 1
        self.gate_fires += bool(fired)

    def _update(self, args, kwargs, out) -> None:
        inline = self.tracer.innermost_open(("engine.search",
                                             "engine.search_many"))
        if inline is not None and out.get("new_messages", 0) > 0:
            self.useful += 1

    def _ingest(self, args, kwargs, out) -> None:
        info = kwargs.get("info") or {}
        wm = info.get("watermark")
        if wm is None:
            return
        # Spark hands timestamps back naive, in the process's local zone
        wm = wm.astimezone(dt.timezone.utc)
        ts = self.run.gen.corpus.ts
        lo = self._wm
        # the scan is inclusive of the previous watermark instant
        self.scanned += sum(1 for t in ts if (lo is None or t >= lo) and t <= wm)
        self.stored += info.get("new_messages", 0)
        self._wm = wm

    def ratios(self) -> dict:
        def frac(a, b):
            return a / b if b else 0.0
        return {"gate.fire_frac": frac(self.gate_fires, self.gate_calls),
                "gate.useful_frac": frac(self.useful, self.gate_fires),
                "ingest.stored_frac": frac(self.stored, self.scanned),
                "ann_index.recall_at_10": (statistics.fmean(self.run.recalls)
                                           if self.run.recalls else 0.0)}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
