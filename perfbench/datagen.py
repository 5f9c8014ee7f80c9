"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of ``--seed``:

* ``write_tables``: the engine's ten parquet tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``), with the
  schemas and value domains of the fixture tables the registry queries
  and their DuckDB oracles were written against (FIXTURES.md).
* ``StreamPlan``: the open-loop event stream of the ``stream_alerts``
  workload -- a list of files, each with an offset at which it is due
  and its rows, Zipf-skewed over the customer keys with bounded
  out-of-order event-time jitter.

Only numpy and pyarrow are used, so inputs exist before the engine is
imported and their cost never lands in a timed phase.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)
# The same schema in Spark DDL, for the file-source reader.
EVENT_DDL = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def _days(rng: np.random.Generator, start: dt.date, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _customers(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(MKT_SEGMENTS, n),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # about one in twenty documents is a planted near-duplicate of
        # an earlier one, as in the fixtures the dedup oracles target
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 97))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    e = rng.normal(0.0, 1.0, (n, EMB_DIM))
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(e.ravel()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = _customers(rng, n_cust)
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
        }
    )
    offs = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64(EVENTS_T0, "us") + offs.astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# Open-loop stream
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class StreamFile:
    seq: int
    phase: str  # "backlog" | "low" | "high"
    due_s: float  # offset from the stream's start; <= 0 for the backlog
    rows: int
    table: pa.Table | None  # None once the file is written out

    @property
    def name(self) -> str:
        return f"ev-{self.seq:06d}-{self.phase}.parquet"


@dataclass(frozen=True)
class StreamPlan:
    files: list[StreamFile]
    customers: pa.Table
    threshold: float


def _zipf_keys(rng: np.random.Generator, n_keys: int, skew: float, n: int) -> np.ndarray:
    """``n`` draws over ``n_keys`` keys with P(rank r) ~ 1 / r**skew; the
    rank-to-key mapping is a seeded permutation, so hot keys are spread
    over the key space rather than being the smallest ids."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** skew
    p /= p.sum()
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, n, p=p)].astype(np.int64)


def make_stream(
    seed: int,
    *,
    n_customers: int,
    backlog_rows: int,
    phases: list[tuple[str, int, float]],
    file_interval_s: float,
    skew: float,
    jitter_s: float,
    time_scale: float,
    alert_share: float,
) -> StreamPlan:
    """The stream workload's inputs.

    The backlog is written before the query starts (catch-up after a
    restart), in files the size of the fastest phase's. From the start,
    files fall due every ``file_interval_s``: for each ``(name, rate,
    seconds)`` of ``phases`` in turn, ``seconds`` of files holding
    ``rate`` events/s. Event time is synthetic -- the due offset scaled
    by ``time_scale`` from a fixed epoch, minus up to ``jitter_s`` of
    out-of-order lag -- so the same seed gives the same rows whatever the
    wall clock says. The alert threshold is set from the generated rows
    so that ``alert_share`` of the (key, minute) groups alert.
    """
    rng = np.random.default_rng(seed + 7919)
    customers = _customers(np.random.default_rng(seed), n_customers)
    max_per_file = max(int(round(rate * file_interval_s)) for _, rate, _ in phases)
    backlog_files = max(1, backlog_rows // max(1, max_per_file))
    backlog_span = backlog_files * file_interval_s
    schedule: list[tuple[str, float, int]] = []
    for i in range(backlog_files):
        due = -backlog_span + i * file_interval_s
        schedule.append(("backlog", due, backlog_rows // backlog_files))
    due = 0.0
    for phase, rate, seconds in phases:
        for _ in range(int(round(seconds / file_interval_s))):
            due += file_interval_s
            schedule.append((phase, due, int(round(rate * file_interval_s))))
    files: list[StreamFile] = []
    next_id = 0
    t0 = np.datetime64(EVENTS_T0, "us")
    for seq, (phase, due, n) in enumerate(schedule):
        ev_s = (due + backlog_span) * time_scale - rng.uniform(0.0, jitter_s, n)
        ev_s = np.maximum(ev_s, 0.0)
        ts = t0 + (ev_s * 1e6).astype(np.int64).astype("timedelta64[us]")
        table = pa.table(
            {
                "event_id": np.arange(next_id, next_id + n, dtype=np.int64),
                "ts": pa.array(ts),
                "user_id": _zipf_keys(rng, n_customers, skew, n),
                "event_type": rng.choice(EVENT_TYPES, n),
                "value": np.round(rng.exponential(50.0, n), 2),
            },
            schema=EVENT_SCHEMA,
        )
        next_id += n
        files.append(StreamFile(seq, phase, due, n, table))
    return StreamPlan(
        files=files,
        customers=customers,
        threshold=_alert_threshold(files, alert_share),
    )


def _alert_threshold(files: list[StreamFile], share: float) -> float:
    """A threshold ``t`` with about ``share`` of the (user, minute) groups
    having ``round(sum(value), 2) > t``. It ends in 5 at the third
    decimal, so no rounded sum can tie it."""
    all_ev = pa.concat_tables(f.table for f in files)
    minute = all_ev["ts"].to_numpy().astype("datetime64[m]").astype(np.int64)
    user = all_ev["user_id"].to_numpy()
    key = user * 10_000_000 + (minute - minute.min())
    _, inv = np.unique(key, return_inverse=True)
    sums = np.round(np.bincount(inv, weights=all_ev["value"].to_numpy()), 2)
    q = float(np.quantile(sums, 1.0 - share))
    return round(float(np.floor(q * 100.0)) / 100.0 + 0.005, 3)


def write_stream_file(f: StreamFile, staging_dir: str) -> str:
    path = os.path.join(staging_dir, f.name)
    pq.write_table(f.table, path)
    return path
