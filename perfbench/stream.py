"""Stream workload: the reference's price-alert pipeline as one
long-running stream query.

One ``price_alerts_stream(..., mode="update")`` query joins event files
to the customer dimension and writes through a ``foreachBatch``
keep-latest upsert. It starts on a backlog written before it starts --
catch-up after a restart -- and reads it in micro-batches of a fixed
number of files (``maxFilesPerTrigger``), so every run of a seed cuts
the same micro-batches whatever the host's speed: the first is cold, the
next few let the JIT settle, the rest are measured.

A traced run then feeds the same query live: a seeded generator thread
moves event files into the watched directory on a fixed schedule,
whatever the engine is doing, first at a low rate, where the per-trigger
floor dominates, then at a high rate, where queueing and state dominate.
Each live file is timed from when it was *due*, so a stall also delays
the files queued behind it: its latency is the emit time of the
micro-batch that read it minus its due time. Files are matched to
micro-batches through the checkpoint's file-source log, which Spark
compacts into ``N.compact`` files every tenth batch.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import replace
from datetime import datetime

from batch import percentile
from datagen import EVENT_DDL, StreamPlan, make_stream, write_stream_file

STREAM_ORACLE = "streaming_price_alerts"
ALERT_KEYS = ("alert_key", "window_start")

# The backlog: files of ROWS_PER_FILE rows, the live files' largest
# size, FILES_PER_BATCH a micro-batch. Batch 0 is cold. Outside the JIT compiler threads a warm
# batch's CPU time falls from 2.3 to 1.5 s over the next four batches and
# then stays within about 7% (the compiler's share keeps falling for
# another twenty), so SETTLE_BATCHES run unmeasured; then one measured
# batch per SECONDS_PER_BATCH of --seconds.
FILES_PER_BATCH = 20
SETTLE_BATCHES = 4
SECONDS_PER_BATCH = 1.5

# Live phases of a traced run, as (name, rate key in STREAM_CONF, share
# of --seconds).
PHASES = (("low", "low_rate", 0.5), ("high", "high_rate", 0.5))
DRAIN_TIMEOUT_S = 30.0

STREAM_CONF = {
    "n_customers": 15_000,
    "low_rate": 5_000,
    # at 200_000 a micro-batch took as long as the data it read on four
    # cores, so any CPU steal grew the backlog for the rest of the run
    "high_rate": 100_000,
    "file_interval_s": 0.05,
    "skew": 1.1,
    "jitter_s": 5.0,
    "time_scale": 6.0,
    "alert_share": 0.1,
}
ROWS_PER_FILE = round(STREAM_CONF["high_rate"] * STREAM_CONF["file_interval_s"])


def measured_batches(seconds: float) -> int:
    return max(4, round(seconds / SECONDS_PER_BATCH))


class Generator(threading.Thread):
    """Renames each staged file into the watched directory when it falls
    due, stamping its modification time with the due time first."""

    def __init__(self, files, staged: dict[int, str], watch_dir: str, t0: float):
        super().__init__(daemon=True)
        self.files, self.staged, self.watch_dir, self.t0 = files, staged, watch_dir, t0
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for f in self.files:
                due = self.t0 + f.due_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                src = self.staged[f.seq]
                os.utime(src, (due, due))
                os.rename(src, os.path.join(self.watch_dir, f.name))
                self.late_s.append(time.time() - due)
        except BaseException as ex:  # noqa: BLE001 - reported by the caller
            self.error = ex


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file-source log (plain ``N``
    files and the ``N.compact`` files that replace every tenth one)."""
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for entry in os.listdir(log_dir):
        if entry.startswith("."):
            continue
        with open(os.path.join(log_dir, entry)) as fh:
            lines = fh.read().splitlines()[1:]  # first line: log version
        for line in lines:
            if line.strip():
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def _parse_ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class StreamRun:
    def __init__(self, seed: int, seconds: float, work_dir: str, live: bool):
        self.seconds = seconds
        self.dir = work_dir
        self.seed = seed
        self.live = live
        self.n_batches = 1 + SETTLE_BATCHES + measured_batches(seconds)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.emit: dict[int, float] = {}  # batch id -> emit time; -1: the start
        self.cpu_at: dict[int, float] = {}  # batch id -> engine CPU seconds at emit
        self.jit_at: dict[int, float] = {}  # batch id -> JIT compiler CPU seconds at emit
        self.progress: list[dict] = []

    # -- inputs -------------------------------------------------------------

    def stage(self) -> None:
        """Generate the stream and write every file before the engine
        starts: the backlog into the watched directory, the live files
        (traced run only) into a staging directory the generator renames
        them from. Only each file's schedule is kept afterwards, not its
        rows."""
        import pyarrow.parquet as pq

        phases = [
            (name, STREAM_CONF[rate], share * self.seconds if self.live else 0.0)
            for name, rate, share in PHASES
        ]
        conf = {k: v for k, v in STREAM_CONF.items() if k not in ("low_rate", "high_rate")}
        backlog_rows = self.n_batches * FILES_PER_BATCH * ROWS_PER_FILE
        plan: StreamPlan = make_stream(self.seed, phases=phases, backlog_rows=backlog_rows, **conf)
        self.threshold = plan.threshold
        for sub in ("staging", "input", "checkpoint", "dim"):
            path = os.path.join(self.dir, sub)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
        pq.write_table(plan.customers, os.path.join(self.dir, "dim", "customer.parquet"))
        self.staged = {}
        for f in plan.files:
            path = write_stream_file(f, os.path.join(self.dir, "staging"))
            if f.phase == "backlog":
                os.rename(path, os.path.join(self.dir, "input", f.name))
            else:
                self.staged[f.seq] = path
        self.files = [replace(f, table=None) for f in plan.files]

    # -- run ----------------------------------------------------------------

    def run(self, e) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from kafka_streams_homework_spark.sources.batch import load_table
        from kafka_streams_homework_spark.streaming.price_alerts import price_alerts_stream

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Listener()
        e.spark.streams.addListener(listener)
        state: dict[tuple, tuple] = {}

        def upsert(batch_df, batch_id: int) -> None:
            for r in batch_df.collect():
                state[tuple(r[k] for k in ALERT_KEYS)] = tuple(r)
            self.emit[batch_id] = time.time()
            self.cpu_at[batch_id], self.jit_at[batch_id] = e.cpu.read()

        dim = load_table(e.spark, os.path.join(self.dir, "dim"), "customer")
        events = (
            e.spark.readStream.schema(EVENT_DDL)
            .option("maxFilesPerTrigger", FILES_PER_BATCH)
            .parquet(os.path.join(self.dir, "input"))
        )
        alerts = price_alerts_stream(events, dim, threshold=self.threshold, mode="update")
        self.columns = alerts.columns
        live = [f for f in self.files if f.phase != "backlog"]
        gen = None
        self.cpu_at[-1], self.jit_at[-1] = e.cpu.read()
        self.start = self.emit[-1] = time.time()
        query = (
            alerts.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
            .start()
        )
        try:
            backlog = [f for f in self.files if f.phase == "backlog"]
            self.drain(query, backlog[-1])
            self.t0 = time.time()
            if live:
                gen = Generator(live, self.staged, os.path.join(self.dir, "input"), self.t0)
                gen.start()
                gen.join()
                self.drain(query, live[-1])
        finally:
            query.stop()
            if gen is not None:
                gen.join(timeout=5)
            # the listener bus is asynchronous: let the last progress land
            e.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            e.spark.streams.removeListener(listener)
        if gen is not None and gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error!r}")
        self.gen = gen
        self.rows = list(state.values())
        self.batches = file_batches(os.path.join(self.dir, "checkpoint"))

    def drain(self, query, last) -> None:
        """Wait until the micro-batch that read file ``last`` has emitted."""
        deadline = time.time() + DRAIN_TIMEOUT_S + self.seconds
        while time.time() < deadline:
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            try:
                b = file_batches(os.path.join(self.dir, "checkpoint")).get(last.name)
            except (OSError, ValueError):
                b = None
            if b is not None and b in self.emit:
                return
            time.sleep(0.05)

    def check(self, oracles: dict, oracle) -> None:
        """Every file reached an emitted batch, the backlog was cut into
        the planned micro-batches, and the final alert set equals the
        batch oracle over all generated files. Runs after the engine has
        stopped."""
        self.attempted = len(self.files)
        lost = [f.name for f in self.files if self.batches.get(f.name) not in self.emit]
        self.failed += len(lost)
        if lost:
            self.failures.append(f"{len(lost)} files never emitted, first {lost[0]}")
        cut = sorted({self.batches.get(f.name) for f in self.files if f.phase == "backlog"} - {None})
        if cut != list(range(self.n_batches)):
            self.failed += 1
            self.failures.append(f"backlog read in batches {cut}, not 0..{self.n_batches - 1}")
        from kafka_streams_homework_spark.queries import ALERT_THRESHOLD

        sql = oracles[STREAM_ORACLE]
        old = f"> {ALERT_THRESHOLD}"
        if sql.count(old) != 1:
            raise RuntimeError(f"{STREAM_ORACLE} oracle no longer has one '{old}' threshold")
        sql = sql.replace(old, f"> {self.threshold}")
        src = os.path.join(self.dir, "input", "*.parquet")
        dim = os.path.join(self.dir, "dim", "customer.parquet")
        sql = f"WITH events AS (SELECT * FROM '{src}'), customer AS (SELECT * FROM '{dim}') {sql}"
        orows, ocols = oracle.run(sql)
        self.n_groups = oracle.run(
            f"SELECT count(*) FROM (SELECT DISTINCT user_id, date_trunc('minute', ts) "
            f"FROM '{src}')"
        )[0][0][0]
        from oracle import compare

        problem = compare(self.rows, self.columns, orows, ocols)
        if problem:
            self.failed += 1
            self.attempted += 1
            self.failures.append(f"{STREAM_ORACLE} over the stream: {problem}")

    # -- results ------------------------------------------------------------

    def measured(self) -> range:
        return range(1 + SETTLE_BATCHES, self.n_batches)

    def batch_cost(self, b: int, of: dict) -> float:
        """Batch ``b``'s share of a running total (CPU seconds, JIT CPU
        seconds or emit time): from the previous batch's emit -- or the
        query's start, filed as batch -1 -- to its own."""
        return of[b] - of[b - 1]

    def end_to_end(self) -> dict[str, float]:
        cpu = [self.batch_cost(b, self.cpu_at) for b in self.measured()]
        wall = [self.batch_cost(b, self.emit) for b in self.measured()]
        return {
            "cold_cpu_s": self.batch_cost(0, self.cpu_at),
            "pass_cpu_s": sum(cpu),
            "query_cpu_p50_s": percentile(cpu, 50),
            "query_cpu_p90_s": percentile(cpu, 90),
            "wall.cold_pass_s": self.batch_cost(0, self.emit),
            "wall.pass_s": sum(wall),
            "wall.query_p50_s": percentile(wall, 50),
            "wall.query_p90_s": percentile(wall, 90),
        }

    def latencies(self, phase: str) -> list[float]:
        return [
            self.emit[self.batches[f.name]] - (self.t0 + f.due_s)
            for f in self.files
            if f.phase == phase and self.batches.get(f.name) in self.emit
        ]

    def per_layer(self) -> dict[str, float]:
        """Listener figures over the live micro-batches, the live files'
        latencies and the generator's lateness; only a traced run has a
        live part."""
        first_live = min(self.batches[f.name] for f in self.files if f.phase != "backlog")
        live = [p for p in self.progress if p["batchId"] >= first_live and p["numInputRows"] > 0]

        def med(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) / 1000.0 for p in live)

        start_of = {p["batchId"]: _parse_ts(p["timestamp"]) for p in self.progress}
        live_files = [f for f in self.files if f.phase != "backlog"]
        waits = [
            start_of[self.batches[f.name]] - (self.t0 + f.due_s)
            for f in live_files
            if self.batches.get(f.name) in start_of
        ]
        # live files already due, but read by this or a later batch, at
        # the start of each live batch
        backlog_max = max(
            sum(
                1 for f in live_files
                if self.t0 + f.due_s <= start_of[p["batchId"]]
                and self.batches.get(f.name, p["batchId"]) >= p["batchId"]
            )
            for p in live
        )
        state = [p["stateOperators"][0] for p in live if p.get("stateOperators")]
        n_backlog = sum(f.rows for f in self.files if f.phase == "backlog")
        low, high = self.latencies("low"), self.latencies("high")
        e2e = self.end_to_end()
        return {
            **{k: v for k, v in e2e.items() if k.startswith("wall.")},
            "jvm.jit_cpu_s": sum(self.batch_cost(b, self.jit_at) for b in self.measured()),
            "stream.latency_low_p50_s": percentile(low, 50),
            "stream.latency_low_p90_s": percentile(low, 90),
            "stream.latency_high_p50_s": percentile(high, 50),
            "stream.latency_high_p90_s": percentile(high, 90),
            "stream.trigger_s": med("triggerExecution"),
            "stream.latest_offset_s": med("latestOffset"),
            "stream.get_batch_s": med("getBatch"),
            "stream.query_planning_s": med("queryPlanning"),
            "stream.add_batch_s": med("addBatch"),
            "stream.wal_commit_s": med("walCommit"),
            "stream.commit_offsets_s": med("commitOffsets"),
            "stream.batches": float(len(self.progress)),
            "stream.rows_per_batch": statistics.median(p["numInputRows"] for p in live),
            "stream.wait_s": statistics.median(waits),
            "stream.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
            "stream.state_mem_mb": state[-1]["memoryUsedBytes"] / 2**20 if state else 0.0,
            "stream.backlog_files_max": float(backlog_max),
            "stream.catchup_rows_per_s": n_backlog / (self.emit[self.n_batches - 1] - self.start),
            "stream.alert_share": len(self.rows) / self.n_groups,
            "gen.rows": float(sum(f.rows for f in self.files)),
            "gen.late_max_s": max(self.gen.late_s),
        }

    def description(self) -> dict:
        return {
            "rates_events_per_s": {"low": STREAM_CONF["low_rate"], "high": STREAM_CONF["high_rate"]},
            "backlog": {"rows": sum(f.rows for f in self.files if f.phase == "backlog"),
                        "files_per_batch": FILES_PER_BATCH, "batches": self.n_batches,
                        "measured": len(self.measured())},
            "files": {ph: sum(1 for f in self.files if f.phase == ph)
                      for ph in ("backlog", *(p[0] for p in PHASES))},
            "alert_threshold": self.threshold,
            "generator": {k: STREAM_CONF[k] for k in ("skew", "jitter_s", "time_scale")},
            "batch_cpu_s": [round(self.batch_cost(b, self.cpu_at), 4) for b in range(self.n_batches)],
            "batch_jit_s": [round(self.batch_cost(b, self.jit_at), 4) for b in range(self.n_batches)],
            "batches": [
                {"id": p["batchId"], "start": _parse_ts(p["timestamp"]) - self.start,
                 "rows": p["numInputRows"], "duration_ms": p["durationMs"]}
                for p in self.progress
            ],
        }
