"""Benchmark of the package: the daily incremental ETL and an analytic
query mix, timed end to end and, in a traced run, layer by layer.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 24 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` the per-layer ones, measured with spans, Spark job
groups, a streaming listener and the Spark event log. Everything else
goes to standard error. A run also writes its metrics, the samples
behind them and an environment record to
``perfbench/_results/<workload>-seed<seed>-trace<0|1>.json``, and a
traced run its spans next to it.

A run is one process and one client in a closed loop on
``local[nproc]``. It sets up three times (a Spark session, its warm-up
and the workload's inputs; the first set-up also launches the JVM) and
reports the median as ``setup_s``. After an unrecorded warm-up it
makes a fixed number of whole passes of the workload, one per
``PASS_S`` seconds of ``--seconds``, so every run has the same number
of samples, and it checks every output. The JVM keeps compiling hot
code for several passes, and the host's speed drifts for tens of
seconds at a time, so a run reports each op at its fastest:
``op_p50_s`` is the median over the ops of a pass of each op's fastest
run, and ``best_pass_s`` / ``best_pass_cpu_s`` are the wall and CPU
seconds of the run's fastest pass. The op tail (the highest percentile
with ten samples beyond it) and the peak RSS are logged and saved with
the result; they are not gated, because a run has too few ops for such
a percentile and the JVM's RSS varies by a third between identical
runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUPS = 3
#: seconds of ``--seconds`` per measured pass. A pass takes 8-11 s on a
#: 4-core host; the rest of its share goes to the warm-up.
PASS_S = 12

# The metrics and their units are those of BENCHMARK.json. A traced
# run gives the per-layer ones; a layer the workload does not use reads
# 0. Times and counts are per pass unless named otherwise:
#
# - process.peak_rss_mb: VmHWM of the driver JVM plus Python;
# - session.launch_s: the first get_spark, JVM launch included;
#   session.start_s and session.warmup_s: medians over the set-ups;
# - sources.load_table_s / load_jobs: every star table, once;
#   sources.ingest_s: the median daily landing;
# - plans.build_share: build / (build + exec) over all queries, and
#   over each query class (_lazy, _loops);
#   plans.persisted_after_release: the maximum over the run's queries;
# - exec.*: the Spark work of the timed ops (the noop writes of
#   query_mix, landing and run_batch of etl_daily); exec.exec_s is the
#   noop-write time alone; exec.driver_gap_s is op wall minus the union
#   of the op's stage wall times;
# - pipeline.run_batch_s: the median daily run_batch;
#   pipeline.kept_ratio: rows written / rows landed, daily;
#   pipeline.rows_per_s: rows written per second of daily op;
# - functions.clean_transform_s: the backfill day, into noop;
# - silver.files / bytes_per_row: the parquet files before the refresh;
# - traced.*: end-to-end metrics repeated under tracing; against an
#   untraced run they give the tracing overhead.


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics of
    ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def named(metrics: dict, units: dict[str, str]) -> dict:
    """The result's ``metrics``: every metric of ``units``, with its
    unit; a metric the run did not measure is an error."""
    return {k: {"value": metrics[k], "unit": u} for k, u in units.items()}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        from spans import Tracer
        from workloads import WORKLOADS

        self.root, self.bench_dir = ROOT, BENCH_DIR
        self.seed, self.seconds = seed, seconds
        self.tracer = Tracer(trace)
        self.workdir = os.path.join(BENCH_DIR, "_work", f"{workload}-{os.getpid()}")
        self.spark = None
        self.attempted = self.failed = 0
        self.passes = 0
        self.op_pass: dict[int, int] = {}  # timed op -> its pass
        self._ops = 0
        self.progress: list[dict] = []  # streaming micro-batches
        self.progress_start = 0
        self.setups: list[dict] = []
        self.log = log
        self.wl = WORKLOADS[workload](self)

    # --- helpers the workloads call ------------------------------------
    def work(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def next_op(self, timed: bool = True) -> int:
        """A new op id; ops of a warm-up pass are not timed."""
        op = self._ops
        self._ops += 1
        if timed:
            self.op_pass[op] = self.passes
        return op

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def span_ids(self, names, ops=None) -> set[int]:
        names = {names} if isinstance(names, str) else names
        return {s.id for s in self.tracer.spans
                if s.name in names and (ops is None or s.op in ops)}

    def exec_layer(self, log, names: set[str]) -> dict:
        """Spark work under the ``names`` spans of the timed ops, per
        pass, and the driver gap: op wall minus the union of the op's
        stage wall times, summed per pass."""
        from spans import covered

        timed = set(self.op_pass)
        w = log.work(self.span_ids(names, timed))
        m = {f"exec.{k}": w[k] / self.passes for k in (
            "jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "executor_run_s", "gc_s")}
        gap = [0.0] * self.passes
        for s in self.tracer.spans:
            if s.name == "op" and s.op in timed:
                ops_spans = {x.id for x in self.tracer.spans if x.op == s.op}
                stages = log.work(ops_spans)["intervals"]
                gap[self.op_pass[s.op]] += s.seconds - covered(stages)
        m["exec.driver_gap_s"] = statistics.median(gap)
        return m

    # --- the run ---------------------------------------------------------
    def setup(self) -> None:
        from web_scraping_etl_pipeline_spark.session import get_spark

        from spans import streaming_listener
        from workloads import warm_session

        rec = {}
        t0 = time.perf_counter()
        if self.spark is not None:
            self.tracer.sc = None
            self.spark.stop()
        with self.tracer.span("session.start") as s:
            self.spark = get_spark(app_name=f"perfbench-{self.wl.name}")
        rec["start_s"] = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext
        if self.tracer.enabled:
            streaming_listener(self.spark, self.progress)
        with self.tracer.span("session.warmup") as s:
            warm_session(self.spark)
        rec["warmup_s"] = s.seconds
        with self.tracer.span("prepare"):
            self.wl.prepare()
        rec["setup_s"] = time.perf_counter() - t0
        self.setups.append(rec)
        log(f"set-up {len(self.setups)}: {rec}")

    def measure(self) -> tuple[dict[str, list[float]], list[float], list[float]]:
        """Whole passes, as many as the workload makes in ``seconds``:
        a fixed count, so every run has the same number of samples.
        Returns each op's latencies (one per pass), the pass walls and
        the pass CPU seconds."""
        from spans import tree_cpu_s

        op_times: dict[str, list[float]] = {}
        walls, cpus = [], []
        t0 = time.perf_counter()
        self.wl.warm_up()
        log(f"warm-up: {time.perf_counter() - t0:.3f}s")
        self.progress_start = len(self.progress)
        passes = max(1, round(self.seconds / PASS_S))
        for _ in range(passes):
            cpu = tree_cpu_s(os.getpid())
            lat, wall = self.wl.run_pass(self.passes)
            cpus.append(tree_cpu_s(os.getpid()) - cpu)
            for op, seconds in lat.items():
                op_times.setdefault(op, []).append(seconds)
            walls.append(wall)
            self.passes += 1
            log(f"pass {self.passes}: {wall:.3f}s, {len(lat)} ops")
        return op_times, walls, cpus


def env_record(spark) -> dict:
    try:
        head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = None
    import pyspark

    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_head": head,
        "loadavg_start": load,
    }


def prepare_environment(workdir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the run's work directory, and pin the clock the pipeline reads."""
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TZ"] = "UTC"
    time.tzset()
    if trace:
        events = os.path.join(workdir, "events")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell")


def run(args) -> dict:
    import stats
    from spans import EventLog, vm_hwm_mb

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    prepare_environment(bench.workdir, bench.tracer.enabled)
    try:
        for _ in range(SETUPS):
            bench.setup()
        spark = bench.spark
        env = env_record(spark)
        log(f"environment: {json.dumps(env)}")
        op_times, walls, cpus = bench.measure()
        latencies = [t for times in op_times.values() for t in times]
        t0 = time.perf_counter()
        bench.wl.check()
        log(f"check: {time.perf_counter() - t0:.3f}s")
        if bench.tracer.enabled:
            bench.wl.trace_extra()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        tail = stats.tail(latencies) if len(latencies) > 10 else None
        app_id = spark.sparkContext.applicationId
        bench.tracer.sc = None
        spark.stop()
        with open("/proc/loadavg") as fh:
            env["loadavg_end"] = fh.read().split()[:3]
        log(f"load average at the end: {env['loadavg_end']}")
        e2e = {
            "setup_s": statistics.median([r["setup_s"] for r in bench.setups]),
            "op_p50_s": statistics.median(
                [min(times) for times in op_times.values()]),
            "best_pass_s": min(walls),
            "best_pass_cpu_s": min(cpus),
        }
        log(f"{len(latencies)} op samples in {bench.passes} passes, op tail "
            f"(value, percentile, samples) {tail}; peak RSS {rss:.0f} MB; "
            f"{bench.failed}/{bench.attempted} ops failed")
        if bench.tracer.enabled:
            units = metric_units("per_layer")
            metrics = dict.fromkeys(units, 0)
            metrics.update(layer_metrics(bench, EventLog.read(
                os.path.join(bench.workdir, "events"), app_id)))
            metrics["process.peak_rss_mb"] = rss
            for k in ("op_p50_s", "best_pass_s", "best_pass_cpu_s"):
                metrics[f"traced.{k}"] = e2e[k]
        else:
            metrics, units = e2e, metric_units("end_to_end")
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": named(metrics, units),
        }
        save(args, bench, result, env, {
            "op_tail": tail, "peak_rss_mb": rss, "passes": bench.passes,
            "pass_walls": walls, "pass_cpus": cpus, "setups": bench.setups,
            "op_times": op_times,
            "e2e": e2e,
        })
        return result
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        shutil.rmtree(bench.workdir, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def layer_metrics(bench, log) -> dict:
    m = {
        "session.launch_s": bench.setups[0]["start_s"],
        "session.start_s": statistics.median([r["start_s"] for r in bench.setups]),
        "session.warmup_s": statistics.median([r["warmup_s"] for r in bench.setups]),
    }
    progress = bench.progress[bench.progress_start:]  # measured passes
    if progress:
        m["streaming.microbatches"] = len(progress) / bench.passes
        m["streaming.batch_p50_ms"] = statistics.median(
            [p["ms"] for p in progress])
        m["streaming.input_rows"] = sum(p["rows"] for p in progress) / bench.passes
    m.update(bench.wl.layers(log))
    return m


def save(args, bench, result, env, detail) -> None:
    out = os.path.join(BENCH_DIR, "_results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump({"args": vars(args), "env": env, "result": result,
                   **detail}, fh, indent=1, default=str)
    if bench.tracer.enabled:
        bench.tracer.dump(stem + "-spans.json")


def main(argv=None) -> int:
    from workloads import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.seconds < 1:
        parser.error("--seconds must be at least 1")
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import web_scraping_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        log(f"the package is not in this checkout: {exc}")
        raise SystemExit(2)
    raise SystemExit(main())
