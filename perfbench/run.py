"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline_backfill --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs come from
``--seed``. A run measures whole passes of the workload until
``--seconds`` have elapsed (at least one pass), checks every pass's
outputs, and prints a summary followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` makes one
traced pass in a fresh JVM whose session writes Spark's event log, and
reports the per-layer metrics: spans around the layer calls and the
event log's jobs, stages and tasks attributed to the innermost span. Scratch files live under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "novi_pdq_etl_project_prod_spark"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}

#: per-layer metrics measured by the run itself rather than by the spans
RUN_UNITS = {
    # the driver JVM's heap grows with GC timing, so its peak spread
    # 0.21 (IQR/median) over ten seeds: per layer, not end to end
    "peak_rss_mb": "MB",
    # the traced pass's wall; see run_traced for the tracing overhead
    "trace.pass_s": "s",
    "op_samples": "count",
    "fail_ratio": "ratio",
}


def per_layer_units() -> dict:
    import attribution
    import workloads

    return {**attribution.units(workloads.CATALOG_QUERIES),
            **workloads.COUNT_UNITS, **RUN_UNITS}


# --------------------------------------------------------------------- box

def configure(work: str) -> dict:
    """Size Spark to the box through the package's own settings and keep
    every scratch file inside ``work``; returns the box record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # a quarter of the box, at most the package's 8g default: the driver
    # JVM shares the box with the Python workers and the page cache
    driver_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    })
    return {
        "nproc": cpus,
        "mem_total_mb": mem_kb // 1024,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "python": platform.python_version(),
    }


def import_package():
    """The package of this checkout; refuse one found elsewhere."""
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"{PACKAGE} resolved outside the checkout: {pkg.__file__}")
    return pkg


# ----------------------------------------------------------------- session

def start_session(work: str, extra_conf: dict | None = None):
    """Session start-up through ``session.get_spark`` plus a warm-up that
    touches the write, read and shuffle paths; returns the session and
    the seconds it took."""
    from novi_pdq_etl_project_prod_spark.session import get_spark

    t0 = time.perf_counter()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # keep the JVM's files in the checkout: its temp dir, and no
        # hsperfdata file, which it always writes under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        **(extra_conf or {}),
    }
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf=conf,
    )
    path = os.path.join(work, "warmup")
    spark.range(0, 10_000, numPartitions=4).selectExpr(
        "id", "id % 7 AS k"
    ).write.parquet(path)
    spark.read.parquet(path).groupBy("k").count().collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and end the JVM (and its Python workers);
    ``spark=None`` stops whatever is active."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak memory of this process and all its descendants (the driver
    JVM and the Python workers), sampled every 100 ms. Each process
    counts its proportional set size: a JVM forks short-lived helpers
    (``chmod``) whose copy-on-write pages would otherwise count twice."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_pss() -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass  # the process ended between the scan and the read
        return total

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self._tree_pss())
            if self._stop.wait(0.1):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# ------------------------------------------------------------------ passes

def timed_passes(wl, spark, tracer, seconds: float) -> tuple[list[dict], list[float]]:
    """Whole passes until ``seconds`` have elapsed; returns the passes'
    outputs and wall times. The tracer gets one root span per pass."""
    outs, walls = [], []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        with tracer.span("pass"):
            outs.append(wl.run_pass(spark, tracer))
        walls.append(time.perf_counter() - t0)
    return outs, walls


def op_durations(tracer, wl) -> list[float]:
    return [s.duration for s in tracer.spans if s.name in wl.op_spans]


def check_all(wl, spark, outs) -> tuple[int, list[str]]:
    attempted, failures = 0, []
    for out in outs:
        n, bad = wl.check(spark, out)
        attempted += n
        failures += bad
    return attempted, failures


def measured_passes(wl, spark, tracer, seconds: float, rss: bool = False) -> dict:
    """Passes with ``tracer``'s wrappers installed, then their checks
    (untimed); the session stays up. ``rss`` samples peak memory."""
    sampler = RssSampler() if rss else contextlib.nullcontext()
    try:
        with sampler:
            outs, walls = timed_passes(wl, spark, tracer, seconds)
    finally:
        tracer.unwrap_all()
    attempted, failures = check_all(wl, spark, outs)
    return {"outs": outs, "walls": walls, "peak_rss": getattr(sampler, "peak", 0),
            "attempted": attempted, "failures": failures, "ops": op_durations(tracer, wl)}


def op_tracer(wl):
    """A tracer that records only the operation spans."""
    from spans import Tracer

    tracer = Tracer()
    if wl.op_target:
        tracer.wrap(*wl.op_target)
    return tracer


def run_untraced(wl, work: str, seconds: float) -> tuple[dict, int, list[str], dict]:
    """A cold start, as every ``spark-submit`` pays it, then passes.
    ``wall_s`` is the first pass, the one a ``spark-submit`` runs."""
    spark, cold = start_session(work)
    r = measured_passes(wl, spark, op_tracer(wl), seconds)
    extra = {"spark_version": spark.version, "passes": len(r["walls"]),
             "op_samples": len(r["ops"]), "pass_walls_s": r["walls"], "ops_s": r["ops"]}
    stop_session(spark)
    metrics = {
        "setup_s": cold,
        "wall_s": r["walls"][0],
        "op_p50_s": statistics.median(r["ops"]),
    }
    return metrics, r["attempted"], r["failures"], extra


#: only the event log differs from an untraced run's session: a
#: setting that shortened plan strings would also spare the program
#: building them, and made a traced ingest pass ~4 s faster
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


def run_traced(wl, work: str, seconds: float) -> tuple[dict, int, list[str], dict]:
    """One cold start in a session that writes the event log, then one
    traced pass, whatever ``seconds`` says. The pass is the first of its
    JVM, as in an untraced run, so the tracing overhead is the median
    of ``trace.pass_s`` minus that of the untraced runs' ``wall_s`` at
    the same seeds: the JVM's warm-up falls on both sides alike."""
    import attribution
    import eventlog

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, _ = start_session(work, {**EVENT_LOG_CONF, "spark.eventLog.dir": log_dir})
    tracer = op_tracer(wl)
    for target in wl.layers:
        tracer.wrap(*target)
    traced = measured_passes(wl, spark, tracer, 0, rss=True)
    spark_version = spark.version
    stop_session(spark)  # closes the event log

    log = eventlog.read(eventlog.find_log(log_dir))
    root = next(i for i, s in enumerate(tracer.spans) if s.name == "pass")
    metrics = attribution.layer_metrics(
        tracer.spans, log, root, int(os.environ["SPARK_GRAFT_CPUS"])
    )
    metrics.update(wl.layer_counts(traced["outs"][0]))
    metrics.update({
        "peak_rss_mb": traced["peak_rss"] / 1e6,
        "op_samples": len(traced["ops"]),
        "fail_ratio": len(traced["failures"]) / traced["attempted"],
    })
    extra = {"spark_version": spark_version,
             "ops_s": traced["ops"],
             "spans": len(tracer.spans),
             "span_self_sum_s": metrics.pop("trace.self_sum_s"),
             "span_records": tracer.to_records()}
    return metrics, traced["attempted"], traced["failures"], extra


# -------------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    box = configure(work)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        import_package()
        import pyspark
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        wl = WORKLOADS[args.workload](args.seed, work)
        run = run_traced if args.trace else run_untraced
        measured, attempted, failures, extra = run(wl, work, args.seconds)
    finally:
        if "pyspark" in sys.modules:
            stop_session(None)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there

    box.update(pyspark=pyspark.__version__, spark=extra.pop("spark_version"))
    span_records = extra.pop("span_records", None)
    units = per_layer_units() if args.trace else END_TO_END
    missing = [k for k in units if k not in measured]
    measured = {k: measured.get(k, 0) for k in units}
    print("box:", json.dumps(box, sort_keys=True))
    print("run:", json.dumps(extra, sort_keys=True))
    if span_records is not None:
        print("spans:", json.dumps(span_records))
    for k, v in measured.items():
        print(f"  {k:48s} {v:14.6g} {units[k]}")
    if missing:
        print("not exercised by this workload (reported as 0):", ", ".join(missing))
    for f in failures[:20]:
        print("FAILED:", f)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in measured.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
