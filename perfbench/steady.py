#!/usr/bin/env python3
"""Steadiness check: repeat one workload and summarise each metric.

    python3 perfbench/steady.py --workload etl_star --seeds 1-10
    python3 perfbench/steady.py --workload etl_star --seeds 1-10 --sets 2

Each run is a full untraced ``run.py`` invocation with its own seed. For
every run-level metric (the end-to-end ones and the run-level ones kept
per layer, such as the cold pass) the table gives the median, the
quartiles (``statistics.quantiles`` with n=4), the interquartile range
and the full range (max-min), both as a share of the median. For end-to-end metrics it also prints the bound
from ``metrics.END_TO_END`` and whether the IQR share stays within a third
of it. With ``--sets 2`` the seeds are run twice and the shift between
the two sets' medians is compared with the bound. With ``--trace-pairs``
each untraced run is followed by a traced run of the same seed, and the
tracing overhead is the traced ``warm_pass_s`` minus the untraced one,
per pair and as the median over the pairs.
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
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        print(f"seed {seed}: INCORRECT ({result['failed']} failed)", file=sys.stderr)
    # The saved result file also holds the run-level metrics that are not
    # in the end-to-end gate (cold pass, setup CPU, heap, tail).
    path = [ln for ln in proc.stderr.splitlines() if ln.startswith("result file: ")][-1]
    with open(path.split(": ", 1)[1]) as f:
        return json.load(f)["metrics"]


def summarise(rows: list[dict]) -> dict[str, dict]:
    out = {}
    for name in rows[0]:
        values = [r[name] for r in rows]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        scale = abs(med) if med else 1.0
        out[name] = {
            "n": len(values),
            "median": med,
            "q1": q1,
            "q3": q3,
            "iqr_share": (q3 - q1) / scale,
            "range_share": (max(values) - min(values)) / scale,
        }
    return out


def print_table(title: str, summary: dict[str, dict]) -> None:
    print(f"\n{title}")
    print(f"{'metric':32s} {'n':>3s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
          f"{'iqr/med':>8s} {'rng/med':>8s} {'bound':>6s}  verdict")
    for name, s in summary.items():
        bound = END_TO_END.get(name, (None, None, None))[2]
        verdict = ""
        if bound is not None:
            verdict = "iqr<bound/3" if s["iqr_share"] < bound / 3 else (
                "iqr<bound" if s["iqr_share"] <= bound else "TOO NOISY")
            verdict += ", range<0.1" if s["range_share"] <= 0.1 else ", range>0.1"
        print(f"{name:32s} {s['n']:3d} {s['median']:11.4f} {s['q1']:11.4f} {s['q3']:11.4f} "
              f"{s['iqr_share']:8.3f} {s['range_share']:8.3f} "
              f"{'' if bound is None else f'{bound:.2f}':>6s}  {verdict}")


def main() -> int:
    ap = argparse.ArgumentParser(description="Repeat one workload and summarise its metrics.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds from BENCHMARK.json")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace-pairs", action="store_true",
                    help="after each untraced run, run the same seed traced, and "
                         "report the tracing overhead on warm_pass_s per pair")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]

    sets = []
    pairs: list[tuple[int, float, float]] = []
    for k in range(args.sets):
        rows = []
        for seed in parse_seeds(args.seeds):
            rows.append(run_once(args.workload, seed, seconds))
            print(f"set {k + 1} seed {seed}: "
                  + " ".join(f"{n}={v:.4g}" for n, v in rows[-1].items()),
                  file=sys.stderr, flush=True)
            if args.trace_pairs:
                traced = run_once(args.workload, seed, seconds, trace=1)
                pairs.append((seed, rows[-1]["warm_pass_s"], traced["warm_pass_s"]))
        sets.append(rows)

    summaries = [summarise(rows) for rows in sets]
    for k, s in enumerate(summaries):
        print_table(f"{args.workload}: set {k + 1} ({len(sets[k])} runs)", s)
    if len(summaries) > 1:
        print(f"\n{args.workload}: shift of set medians (set 2 vs set 1)")
        for name in summaries[0]:
            a, b = summaries[0][name]["median"], summaries[1][name]["median"]
            shift = (b - a) / abs(a) if a else 0.0
            bound = END_TO_END.get(name, (None, None, None))[2]
            ok = "" if bound is None else ("ok" if abs(shift) <= bound else "OUT OF BOUND")
            print(f"{name:32s} {a:11.4f} {b:11.4f} {shift:+8.3f}  {ok}")
    if pairs:
        print(f"\n{args.workload}: tracing overhead on warm_pass_s, same seed, traced run "
              "right after the untraced one")
        print(f"{'seed':>6s} {'untraced':>10s} {'traced':>10s} {'overhead':>10s} {'share':>8s}")
        for seed, plain, traced in pairs:
            print(f"{seed:6d} {plain:10.4f} {traced:10.4f} {traced - plain:+10.4f} "
                  f"{(traced - plain) / plain:+8.3f}")
        over = statistics.median(t - p for _, p, t in pairs)
        base = statistics.median(p for _, p, _ in pairs)
        print(f"median overhead {over:+.4f} s ({over / base:+.3f} of the untraced median)")
    print(json.dumps({"workload": args.workload, "sets": summaries}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
