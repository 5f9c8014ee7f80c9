"""Closed-loop batch workload: one caller runs registry queries in passes.

Each query call builds its plan through the registry (``build``: the
registry function, including any eager driver actions inside it), runs
it to a ``noop`` sink (``exec``) and then drops the run's cached
intermediates with ``caching.release_caches`` (``release``). Plans are
rebuilt on every pass, because a returned frame may point at a released
checkpoint. The first pass is cold; a fixed number of warm passes
follows, the first few of them unmeasured. Each call is timed in wall
time and in CPU time of the engine's processes. Each query's result is
collected once, in the cold pass, after its ``noop`` run and outside the
timed interval, and compared with its oracle once the engine has
stopped.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from harness import covered, self_times

# Five registry queries that each run one plan -- the reference alert
# pipeline, a TPC-H join, an as-of window join, a text operator and the
# Kafka wire codec (Python workers) -- and the reference pipeline's
# availableNow stream twin, whose time is driver work inside the
# registry call (stream start/drain/stop through the upsert runner). At
# the bench's scale the fixed cost per call (plan build, source loads,
# job scheduling) outweighs execution even in the first five.
BATCH_QUERIES = [
    "price_alerts",
    "q3_shipping_priority",
    "asof_join",
    "token_count",
    "kafka_wire_roundtrip",
    "streaming_price_alerts",
]

# Pass 0 is cold. Warm calls keep getting cheaper while the JIT compiles
# hot paths: outside the compiler threads a warm pass's CPU time fell
# from 8.4 to 7.0 s over warm passes 1-3 and then stayed within 4%. So
# SETTLE_PASSES warm passes run unmeasured and the measured passes
# follow: one per SECONDS_PER_PASS of --seconds, at least MIN_MEASURED.
# The count depends on --seconds only, never on how fast the passes ran.
# Each warm figure is a per-query median over the measured passes (with
# two, their mean).
SETTLE_PASSES = 2
FIRST_WARM = 1 + SETTLE_PASSES
SECONDS_PER_PASS = 15.0
MIN_MEASURED = 2


def measured_passes(seconds: float) -> int:
    return max(MIN_MEASURED, round(seconds / SECONDS_PER_PASS))


CATALYST_PHASES = {"analysis": "catalyst.analysis_s",
                   "optimization": "catalyst.optimization_s",
                   "planning": "catalyst.planning_s"}
EXEC_KEYS = ("jobs", "stages", "tasks", "task_s", "failed_tasks", "input_mb",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def percentile(values, q: float) -> float:
    """The q-th percentile (0 < q < 100) by linear interpolation."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def catalyst_phases(df) -> dict[str, float]:
    """Plan the returned frame and read its QueryExecution tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase, key in CATALYST_PHASES.items():
        p = phases.get(phase)
        out[key] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out


class BatchRun:
    def __init__(self, names: list[str], measured: int):
        self.names = names
        self.n_passes = FIRST_WARM + measured
        self.samples: list[dict] = []  # one per (query, pass)
        self.results: dict[str, tuple] = {}  # query -> (rows, columns), cold pass
        self.layers: list[dict] = []   # per-pass layer sums (traced run)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.coverage: list[float] = []  # traced: phase spans / query wall

    def run(self, engine) -> None:
        self.e = engine
        for p in range(self.n_passes):
            self.layers.append(defaultdict(float))
            for name in self.names:
                self.one(name, p)

    def one(self, name: str, p: int) -> None:
        e, tr = self.e, self.e.tracer
        fn = e.registry[name]
        qid = f"{name}#{p}"
        tr.query = qid
        self.attempted += 1
        check_s, check_cpu = 0.0, (0.0, 0.0)
        stats = {}
        cpu0 = e.cpu.read()
        start = time.time()
        t0 = time.perf_counter()
        try:
            with tr.span("query"):
                with tr.span("build"):
                    e.job_group(qid, "build")
                    df = fn(e.spark, e.data_dir)
                if tr.enabled:
                    with tr.span("catalyst"):
                        stats.update(catalyst_phases(df))
                with tr.span("exec"):
                    e.job_group(qid, "exec")
                    df.write.format("noop").mode("overwrite").save()
                if p == 0:
                    c0, u0 = time.perf_counter(), e.cpu.read()
                    with tr.span("check"):
                        self.results[name] = (df.collect(), df.columns)
                    check_s = time.perf_counter() - c0
                    check_cpu = tuple(b - a for a, b in zip(u0, e.cpu.read()))
                with tr.span("release"):
                    released = e.release_caches()
        except Exception as ex:  # noqa: BLE001 - a failing query is counted, not fatal
            self.failed += 1
            self.failures.append(f"{qid}: {type(ex).__name__}: {str(ex)[:300]}")
            e.release_caches()
            return
        wall = time.perf_counter() - t0 - check_s
        cpu, jit = (b - a - c for a, b, c in zip(cpu0, e.cpu.read(), check_cpu))
        self.samples.append({"query": name, "pass": p, "s": wall, "cpu_s": cpu, "jit_s": jit,
                             "start": start, "end": time.time()})
        if tr.enabled:
            stats["caching.released"] = released
            self.account(qid, p, stats)

    def check(self, oracles: dict, oracle) -> None:
        """Compare each query's cold-pass result with its oracle; runs
        after the engine has stopped."""
        for name, (rows, cols) in self.results.items():
            problem = oracle.check(name, oracles.get(name), rows, cols)
            if problem:
                self.failed += 1
                self.failures.append(f"{name}: {problem}")

    def account(self, qid: str, p: int, stats: dict) -> None:
        """Fold one traced query's spans and job statistics into its pass."""
        e = self.e
        spans = [s for s in e.tracer.spans if s["query"] == qid]
        by = defaultdict(list)
        for s in spans:
            by[s["name"]].append(s)
        selfs = self_times(spans)
        acc = self.layers[p]
        query = by["query"][0]
        build, exe = by["build"][0], by["exec"][0]
        phases = [by[n][0] for n in ("build", "catalyst", "exec", "release")]
        q_wall = query["end"] - query["start"] - sum(s["end"] - s["start"] for s in by["check"])
        self.coverage.append(sum(s["end"] - s["start"] for s in phases) / q_wall)
        acc["queries.build_s"] += build["end"] - build["start"]
        acc["queries.build_self_s"] += selfs[build["id"]]
        acc["caching.release_s"] += by["release"][0]["end"] - by["release"][0]["start"]
        for key, v in stats.items():
            acc[key] += v
        acc["caching.checkpoints"] += len(by["caching.checkpoint"])
        for layer in ("sources.load", "streaming.runner"):
            acc[layer + "_calls"] += len(by[layer])
            acc[layer + "_s"] += covered(
                [(s["start"], s["end"]) for s in by[layer]], query["start"], query["end"]
            )
        t0 = time.perf_counter()
        b = e.jobs.read(e.group(qid, "build"))
        x = e.jobs.read(e.group(qid, "exec"))
        acc["trace.stats_s"] += time.perf_counter() - t0
        b_wall = build["end"] - build["start"]
        b_jobs = covered(b["intervals"], build["start"], build["end"])
        acc["queries.build_jobs"] += b["jobs"]
        acc["queries.build_job_s"] += b_jobs
        acc["queries.build_gap_s"] += b_wall - b_jobs
        x_wall = exe["end"] - exe["start"]
        acc["exec.wall_s"] += x_wall
        acc["exec.gap_s"] += x_wall - covered(x["intervals"], exe["start"], exe["end"])
        for k in EXEC_KEYS:
            acc["exec." + k] += x[k]

    # -- results ------------------------------------------------------------

    def times(self, warm: bool, key: str = "s") -> dict[str, float]:
        """Each query's time (``key="s"``) or CPU time (``"cpu_s"``): its
        median over the measured warm passes, or its cold-pass figure."""
        by = defaultdict(list)
        for s in self.samples:
            if 0 < s["pass"] < FIRST_WARM:
                continue  # settling
            if (s["pass"] >= FIRST_WARM) == warm:
                by[s["query"]].append(s[key])
        return {q: statistics.median(v) for q, v in by.items()}

    def end_to_end(self) -> dict[str, float]:
        cold_cpu = list(self.times(warm=False, key="cpu_s").values())
        cpu = list(self.times(warm=True, key="cpu_s").values())
        wall = list(self.times(warm=True).values())
        return {
            "cold_cpu_s": sum(cold_cpu),
            "pass_cpu_s": sum(cpu),
            "query_cpu_p50_s": percentile(cpu, 50),
            "query_cpu_p90_s": percentile(cpu, 90),
            "wall.cold_pass_s": sum(self.times(warm=False).values()),
            "wall.pass_s": sum(wall),
            "wall.query_p50_s": percentile(wall, 50),
            "wall.query_p90_s": percentile(wall, 90),
        }

    def per_layer(self, cores: int) -> dict[str, float]:
        warm = self.layers[FIRST_WARM:]
        keys = set().union(*warm)
        out = {k: statistics.median(d.get(k, 0.0) for d in warm) for k in keys}
        out["exec.core_util"] = (
            out.get("exec.task_s", 0.0) / (out["exec.wall_s"] * cores)
            if out.get("exec.wall_s") else 0.0
        )
        out["trace.coverage_min"] = min(self.coverage)
        out.update((k, v) for k, v in self.end_to_end().items() if k.startswith("wall."))
        out["jvm.jit_cpu_s"] = sum(self.times(warm=True, key="jit_s").values())
        return out
