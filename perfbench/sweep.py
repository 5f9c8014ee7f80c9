"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --workload stream_alerts --seeds 1-10
    python3 perfbench/sweep.py --workload batch_queries --seeds 1 --cpus 1 --save cpus1_batch_queries

Runs ``run.py`` once per seed, one run at a time, from the checkout root,
and prints for each metric its median, quartiles and spread -- the
distance between the quartiles as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them -- next to the bound
``BENCHMARK.json`` gives it. ``--save NAME`` writes the summary with
every run's description to ``perfbench/results/NAME.json``; a summary
holding a flagged run (parallelism other than the core count, or a
loaded box) is marked ``baseline_ok: false``. ``--against NAME`` also
prints each median's change from the saved summary ``NAME``, as a share
of that summary's median -- the drift between two sets of runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BULKY = ("samples", "batches", "probes")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--save", default=None)
    ap.add_argument("--against", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(args.trace)]
        if args.cpus:
            cmd += ["--cpus", str(args.cpus)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        desc = json.loads(lines[-2].removeprefix("run: "))
        runs.append({"seed": seed, "run": desc, **result})
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    names = list(runs[0]["metrics"])
    summary = {
        name: {**spread([r["metrics"][name]["value"] for r in runs]),
               "unit": runs[0]["metrics"][name]["unit"], "bound": bounds.get(name)}
        for name in names
    }
    for name, s in summary.items():
        sp = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{name:28s} median {s['median']:.4g} {s['unit']:6s} "
              f"q1 {s['q1']:.4g} q3 {s['q3']:.4g} spread {sp} bound {s['bound']}")
    if args.against:
        with open(os.path.join(HERE, "results", f"{args.against}.json")) as fh:
            base = json.load(fh)["metrics"]
        for name, s in summary.items():
            ref = base[name]["median"]
            drift = (s["median"] - ref) / ref if ref else float("nan")
            print(f"{name:28s} median {ref:.4g} -> {s['median']:.4g} drift {drift:+.3f} "
                  f"bound {s['bound']}")
    flagged = [r["seed"] for r in runs if not r["run"]["baseline_ok"]]
    if flagged:
        print(f"flagged runs (not a baseline): seeds {flagged}", file=sys.stderr)
    if args.save:
        out = {
            "workload": args.workload,
            "trace": args.trace,
            "baseline_ok": not flagged,
            "all_correct": all(r["correct"] for r in runs),
            "metrics": summary,
            # per-query samples and per-batch progress stay in the run
            # reports under perfbench/.work/out
            "runs": [
                {**r, "run": {k: v for k, v in r["run"].items() if k not in BULKY}}
                for r in runs
            ],
        }
        os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
        with open(os.path.join(HERE, "results", f"{args.save}.json"), "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
