#!/usr/bin/env python3
"""Reports over the result files that ``run.py`` keeps in ``perfbench/.work/results/``.

    python3 perfbench/report.py layers              # traced runs, per workload
    python3 perfbench/report.py curves              # per-pass JIT / CPU curves
    python3 perfbench/report.py compare --a A.json... --b B.json...

``layers`` prints, per workload, the self time per span name of a
measured pass (median over traced runs), the share of the traced pass
wall time that the package's layers (``Query.run``, ``toPandas``)
account for, the benchmark's own time (checks inside the pass, counter
reads after it), every per-layer metric with whether it repeats exactly
between runs, and the tracing overhead: per seed, the traced
``warm_pass_s`` minus that of the untraced run of the same seed made
closest in time (``steady.py --trace-pairs`` makes such pairs).

``curves`` prints, per pass index, the median wall time, process-tree
CPU, JIT compile time (compilation MXBean), GC time, codegen compiles
and steal over the saved untraced runs: the evidence for the fixed
warm-up length.

``compare`` compares two sets of result files metric by metric and
refuses when their host fingerprints differ.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.metrics import END_TO_END, PASS_LAYERS, PER_LAYER  # noqa: E402
from perfbench.trace import layer_self_times  # noqa: E402

RESULTS = os.path.join(HERE, ".work", "results")
VOLATILE = {"host_steal_s"}


def load(paths: list[str]) -> list[dict]:
    out = []
    for path in paths:
        with open(path) as f:
            out.append(json.load(f))
    return out


def saved(workload: str | None = None, trace: int | None = None) -> list[dict]:
    runs = load(sorted(glob.glob(os.path.join(RESULTS, "*.json")), key=os.path.getmtime))
    return [
        r for r in runs
        if (workload is None or r["workload"] == workload)
        and (trace is None or r["trace"] == trace)
    ]


def med(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def layers() -> None:
    traced = saved(trace=1)
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for r in traced:
        by_workload[r["workload"]].append(r)
    for workload, runs in by_workload.items():
        print(f"\n== {workload}: {len(runs)} traced runs")
        self_time: dict[str, list[float]] = defaultdict(list)
        walls = []
        for r in runs:
            spans = r["spans"]
            per_pass = defaultdict(list)
            for p in r["passes"]:
                if p["kind"] != "measured":
                    continue
                s = spans[p["span_id"]]
                walls.append(s["end"] - s["start"])
                for name, t in layer_self_times(spans, p["span_id"]).items():
                    per_pass[name].append(t)
            for name, ts in per_pass.items():
                self_time[name].append(med(ts))
        wall = med(walls)
        print(f"traced pass wall (median): {wall:.4f} s")
        print(f"{'span':20s} {'self s/pass':>12s} {'share':>7s}")
        for name, ts in sorted(self_time.items(), key=lambda kv: -med(kv[1])):
            print(f"{name:20s} {med(ts):12.4f} {med(ts) / wall:7.3f}")
        share = med([r["metrics"]["trace.accounted_share"] for r in runs])
        print(f"package layers {' + '.join(PASS_LAYERS)}: {share:.3f} of the traced pass wall")
        print(
            f"benchmark's own: checks {med([r['metrics']['trace.check_s'] for r in runs]):.4f} s "
            f"inside the pass, counter reads "
            f"{med([r['metrics']['trace.counters_s'] for r in runs]):.4f} s after it"
        )

        pairs = []
        untraced = saved(workload, 0)
        for r in runs:
            same = [u for u in untraced if u["seed"] == r["seed"]]
            if same:
                u = min(same, key=lambda u: abs(u["finished_at"] - r["finished_at"]))
                pairs.append((u["metrics"]["warm_pass_s"], r["metrics"]["warm_pass_s"]))
        if pairs:
            over = med([t - u for u, t in pairs])
            base = med([u for u, _ in pairs])
            print(
                f"tracing overhead on warm_pass_s, {len(pairs)} same-seed pairs: "
                f"{over:+.4f} s ({over / base:+.3f} of the untraced {base:.4f} s)"
            )
        print(f"\n{'per-layer metric':32s} {'median':>14s} {'unit':>6s}  repeats  moves")
        for name, (unit, _better, moves) in PER_LAYER.items():
            values = [r["metrics"][name] for r in runs if name in r["metrics"]]
            if not values:
                continue
            same = "exact" if len(set(values)) == 1 else f"{min(values):.4g}..{max(values):.4g}"
            print(f"{name:32s} {med(values):14.4f} {unit:>6s}  {same:8s} {moves}")


def curves() -> None:
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for r in saved(trace=0):
        by_workload[r["workload"]].append(r)
    for workload, runs in by_workload.items():
        print(f"\n== {workload}: {len(runs)} untraced runs (medians per pass index)")
        print(f"{'pass':>4s} {'kind':9s} {'wall_s':>8s} {'cpu_s':>8s} {'jit_s':>8s} "
              f"{'gc_s':>7s} {'codegen':>8s} {'steal_s':>8s}")
        n = min(len(r["passes"]) for r in runs)
        for i in range(n):
            ps = [r["passes"][i] for r in runs]
            print(
                f"{i:4d} {ps[0]['kind']:9s} {med([p['wall_s'] for p in ps]):8.3f} "
                f"{med([p['cpu']['total'] for p in ps]):8.2f} {med([p['jit_s'] for p in ps]):8.2f} "
                f"{med([p['gc_s'] for p in ps]):7.3f} {med([p['codegen_compiles'] for p in ps]):8.0f} "
                f"{med([p['steal_s'] for p in ps]):8.2f}"
            )


def _static(fp: dict) -> dict:
    return {k: v for k, v in fp.items() if k not in VOLATILE}


def compare(a_paths: list[str], b_paths: list[str]) -> int:
    a, b = load(a_paths), load(b_paths)
    prints = {json.dumps(_static(r["fingerprint"]), sort_keys=True) for r in a + b}
    if len(prints) != 1:
        print("refusing to compare: host fingerprints differ:", file=sys.stderr)
        for p in sorted(prints):
            print(f"  {p}", file=sys.stderr)
        return 2
    workloads = {r["workload"] for r in a + b}
    traces = {r["trace"] for r in a + b}
    if len(workloads) != 1 or len(traces) != 1:
        print(f"refusing to compare: mixed workloads {workloads} / trace {traces}", file=sys.stderr)
        return 2
    print(f"{'metric':32s} {'A median':>12s} {'B median':>12s} {'shift':>8s} {'bound':>6s}")
    for name in a[0]["metrics"]:
        ma = med([r["metrics"][name] for r in a])
        mb = med([r["metrics"][name] for r in b])
        shift = (mb - ma) / abs(ma) if ma else 0.0
        bound = END_TO_END.get(name, (None, None, None))[2]
        flag = "" if bound is None else ("ok" if shift <= bound else "WORSE")
        print(f"{name:32s} {ma:12.4f} {mb:12.4f} {shift:+8.3f} "
              f"{'' if bound is None else f'{bound:.2f}':>6s} {flag}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="Reports over saved benchmark results.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("layers")
    sub.add_parser("curves")
    cmp_ = sub.add_parser("compare")
    cmp_.add_argument("--a", nargs="+", required=True, help="result files of set A")
    cmp_.add_argument("--b", nargs="+", required=True, help="result files of set B")
    args = ap.parse_args()
    if args.cmd == "layers":
        layers()
    elif args.cmd == "curves":
        curves()
    else:
        return compare(args.a, args.b)
    return 0


if __name__ == "__main__":
    sys.exit(main())
