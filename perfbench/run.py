#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (``datagen.py``);
2. computes the DuckDB oracle results, outside every timed region,
   cached by input hash (``oracle.py``);
3. starts a fresh worker process (``worker.py``) with its own TMPDIR,
   SPARK_GRAFT_SCRATCH, SPARK_LOCAL_DIRS and warehouse directory under
   ``perfbench/.work/runs/<run id>/``, all removed after the run;
4. the worker sets up the engine, runs one cold pass, a fixed number of
   warm-up passes and a fixed number of measured passes, checking every
   result against its oracle;
5. prints one line per metric, then one JSON object as the last line:
   end-to-end metrics with ``--trace 0``, per-layer metrics with
   ``--trace 1``.

The full result (passes, per-query timings, spans, host fingerprint) is
kept under ``perfbench/.work/results/`` for ``steady.py`` and
``report.py``. ``--corrupt QUERY`` drops one row of that query's result
before the check, to show that a wrong result is counted as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
PACKAGE = "splio_etl_aggregations_spark"
CPUS = "4"
DRIVER_MEM = "3g"
DEADLINE_S = 150.0


def _stop_session(sid: int) -> None:
    """Stop every process left in the worker's session and wait for them."""
    from perfbench.procstat import session_pids

    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while time.monotonic() < end and session_pids(sid):
            time.sleep(0.1)


def _run_worker(config: dict, run_dir: str, timeout: float) -> int:
    env = dict(os.environ)
    env.update(
        TMPDIR=config["dirs"]["tmp"],
        SPARK_GRAFT_SCRATCH=config["dirs"]["scratch"],
        SPARK_LOCAL_DIRS=config["dirs"]["local"],
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={config['dirs']['tmp']} -XX:-UsePerfData",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(config, f)
    log_path = os.path.join(WORK, "last-worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", cfg_path],
            cwd=config["dirs"]["warehouse"],
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=log,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {timeout:.0f}s; stopping it", file=sys.stderr)
            code = -1
        finally:
            _stop_session(proc.pid)
            proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        print(f"worker failed (exit {code}); log tail:\n{tail}", file=sys.stderr)
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics
    from perfbench.datagen import generate
    from perfbench.oracle import oracle_results
    from perfbench.procstat import fingerprint
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    from splio_etl_aggregations_spark.registry import get

    oracles = {name: get(name).oracle for name in wl.queries}
    missing = [n for n, sql in oracles.items() if not sql]
    if missing:
        print(f"queries without an oracle: {missing}", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, "runs", run_id)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "scratch", "local", "warehouse", "data")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        generate(dirs["data"], wl.sf, args.seed)
        t_data = time.monotonic()
        expected = oracle_results(dirs["data"], oracles, os.path.join(WORK, "oracle-cache"))
        t_oracle = time.monotonic()
        oracle_path = os.path.join(run_dir, "oracle.pkl")
        with open(oracle_path, "wb") as f:
            pickle.dump(expected, f)
        result_path = os.path.join(run_dir, "result.json")
        config = {
            "run_id": run_id,
            "data_dir": dirs["data"],
            "queries": list(wl.queries),
            "warmup": wl.warmup,
            "measured": wl.measured(args.seconds),
            "trace": args.trace,
            "corrupt": args.corrupt,
            "oracle_path": oracle_path,
            "result_path": result_path,
            "dirs": dirs,
        }
        timeout = DEADLINE_S - (time.monotonic() - started)
        if _run_worker(config, run_dir, timeout) != 0:
            return 1
        with open(result_path) as f:
            result = json.load(f)
        print(
            f"inputs {t_data - started:.1f}s, oracle {t_oracle - t_data:.1f}s, "
            f"worker {time.monotonic() - t_oracle:.1f}s",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result.update(
        workload=wl.name,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        queries=list(wl.queries),
        finished_at=time.time(),
        fingerprint=fingerprint(CPUS, DRIVER_MEM),
    )
    measured = [p["steal_s"] for p in result["passes"] if p["kind"] == "measured"]
    result["fingerprint"]["host_steal_s"] = sorted(measured)[len(measured) // 2]
    values = metrics.compute(result, traced=bool(args.trace))
    result["metrics"] = values
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}-{run_id}.json"
    result_file = os.path.join(WORK, "results", name)
    with open(result_file, "w") as f:
        json.dump(result, f)
    print(f"result file: {result_file}", file=sys.stderr)

    for failure in result["failures"]:
        print(f"FAILED {failure}")
    for key, value in values.items():
        print(f"{key:36s} {value:14.6f} {metrics.unit(key)}")
    reported = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    attempted = sum(len(p["queries"]) for p in result["passes"])
    print(
        json.dumps(
            {
                "correct": not result["failures"],
                "attempted": attempted,
                "failed": len(result["failures"]),
                "metrics": {
                    k: {"value": values[k], "unit": metrics.unit(k)} for k in reported
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
