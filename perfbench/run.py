"""Layered benchmark of the engine, run from the root of a checkout.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 30 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

* ``batch_queries`` -- closed loop, one caller: registry queries in passes
  (see ``batch.py``);
* ``stream_alerts`` -- the price-alert pipeline as one long-running
  stream query, catching up a backlog in fixed micro-batches and, in a
  traced run, fed live on a fixed schedule (see ``stream.py``).

All inputs are generated from ``--seed`` before the engine is imported.
The run sets the engine up once (session, registry import, warm-up scan;
``setup_s`` is the CPU time that takes), measures the workload for about
``--seconds`` seconds, stops the JVM, checks the outputs against the
DuckDB oracles and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and the metrics -- the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. The timed end-to-end figures are CPU seconds of the
engine's processes (``harness.CpuMeter``), outside the JIT compiler
except for ``setup_s``; wall times are kept in the run's report and,
from a traced run, printed as the per-layer ``wall.*`` metrics. A traced
run wraps the engine's layer entry points in spans; its end-to-end
figures are not reported, and its ``wall.pass_s`` against that of an
untraced run is the tracing overhead.

``--cpus`` sets ``SPARK_GRAFT_CPUS`` (default: the cores this process may
use). A full report -- the run's description (cores, parallelism,
source digest, pyspark version, seed, rates, load average and CPU use
at start), every metric and any failure -- goes to
``perfbench/.work/out/``; a run flagged as not comparable (parallelism
other than the core count, or a loaded box) says so there and on
standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
from harness import PKG  # noqa: E402

WORKLOADS = ("batch_queries", "stream_alerts")
BATCH_SF = 0.01
WARMUP_TABLE = "lineitem"
RUN_LIMIT_S = 170


class Engine:
    """The engine as the workloads see it: a session, the query registry
    and its oracle SQL and, when traced, job statistics."""

    def __init__(self, tracer: harness.Tracer, data_dir: str):
        self.tracer = tracer
        self.data_dir = data_dir
        self.timings: dict[str, float] = {}

    def start(self) -> None:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            from kafka_streams_homework_spark.session import get_spark

            self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        with tr.span("session.import"):
            if tr.enabled:
                harness.install_wrappers(tr)
            from kafka_streams_homework_spark import caching, queries

            self.registry = queries.queries()
            self.oracles = queries.oracle_sql()
            self.release_caches = caching.release_caches
        t2 = time.perf_counter()
        with tr.span("session.warmup"):
            from kafka_streams_homework_spark.sources.batch import load_table

            load_table(self.spark, self.data_dir, WARMUP_TABLE).write.format(
                "noop"
            ).mode("overwrite").save()
        t3 = time.perf_counter()
        self.timings = {
            "session.get_spark_s": t1 - t0,
            "session.import_s": t2 - t1,
            "session.warmup_s": t3 - t2,
        }
        self.jobs = harness.JobStats(self.spark) if tr.enabled else None

    @staticmethod
    def group(qid: str, phase: str) -> str:
        return f"{qid}:{phase}"

    def job_group(self, qid: str, phase: str) -> None:
        if self.tracer.enabled:
            g = self.group(qid, phase)
            self.spark.sparkContext.setJobGroup(g, g)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    cpus = args.cpus or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    load_start = harness.loadavg()
    busy = harness.cpu_busy()
    ticks = harness.cpu_ticks()
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(run_dir)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    log = harness.StderrLog(os.path.join(out_dir, f"{args.workload}-{args.seed}-{args.trace}.log"))
    try:
        with log:
            result, extra = measure(args, cpus, run_dir)
        error_lines = log.error_lines()
    except BaseException:
        print(log.tail(), file=sys.stderr)
        raise
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        result["metrics"]["log.error_lines"] = float(error_lines)
    desc = harness.describe_run(
        ROOT, args, cpus, load_start, harness.loadavg(), busy, harness.cpu_share(ticks), extra
    )
    report = {"run": desc, **result}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(report, fh, indent=1)
    for f in result.get("failures", []):
        print(f"FAILED {f}", file=sys.stderr)
    if not desc["baseline_ok"]:
        print(f"WARNING: not a baseline run: {'; '.join(desc['flags'])}", file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(result["metrics"].get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print("run: " + json.dumps(desc))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def measure(args, cpus: int, run_dir: str) -> tuple[dict, dict]:
    """Generate inputs, set the engine up, run the workload, tear down,
    then check the outputs."""
    import pyarrow

    import datagen
    from batch import BATCH_QUERIES, BatchRun, measured_passes
    from oracle import Oracle
    from stream import StreamRun

    data_dir = os.path.join(run_dir, "data")
    counts = datagen.write_tables(data_dir, args.seed, BATCH_SF)
    if args.workload == "stream_alerts":
        run = StreamRun(args.seed, args.seconds, os.path.join(run_dir, "stream"),
                        live=bool(args.trace))
        run.stage()
    else:
        run = BatchRun(BATCH_QUERIES, measured_passes(args.seconds))
    pyarrow.default_memory_pool().release_unused()  # the generated tables
    harness.engine_env(ROOT, run_dir, cpus)
    tracer = harness.Tracer(enabled=bool(args.trace))
    engine = Engine(tracer, data_dir)
    with harness.MemorySampler() as mem:
        engine.cpu = harness.CpuMeter(mem)
        cpu0 = engine.cpu.read()
        t0 = time.perf_counter()
        engine.start()
        setup_wall = time.perf_counter() - t0
        setup_cpu = [b - a for a, b in zip(cpu0, engine.cpu.read())]
        try:
            run.run(engine)
        finally:
            harness.stop_engine(engine.spark)
    oracle = Oracle(data_dir, counts if args.workload != "stream_alerts" else ())
    try:
        run.check(engine.oracles, oracle)
    finally:
        oracle.close()
    if args.workload == "stream_alerts":
        extra = run.description()
    else:
        extra = {"sf": BATCH_SF, "queries": BATCH_QUERIES, "passes": run.n_passes,
                 "samples": run.samples}
    extra["probes"] = mem.probes
    metrics = {"setup_s": sum(setup_cpu), "wall.setup_s": setup_wall,
               "peak_rss_mb": mem.peak_mb, **run.end_to_end()}
    if args.trace:
        metrics = {**engine.timings, "wall.setup_s": setup_wall}
        if args.workload == "stream_alerts":
            metrics.update(run.per_layer())
        else:
            metrics.update(run.per_layer(cpus))
        metrics["run.error_rate"] = run.failed / max(1, run.attempted)
        metrics["host.probe_ms"] = statistics.median([p for _, p in mem.probes] or [0.0])
        tracer.write(os.path.join(WORK, "out", f"trace-{args.workload}-seed{args.seed}.json"))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
        "failures": run.failures,
    }
    return result, extra


if __name__ == "__main__":
    sys.exit(main())
