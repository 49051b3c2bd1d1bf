"""One benchmark run in a fresh process: set up the engine, run the passes.

Started by ``run.py`` as ``python -m perfbench.worker <config.json>`` with
the run's isolated TMPDIR / SPARK_GRAFT_SCRATCH / SPARK_LOCAL_DIRS and its
own working directory (so the Spark warehouse lands there too).

The loop is a closed loop with one client: each query goes through the
public path ``registry.get(name).run(spark, data_dir)``, is materialised
with ``toPandas()`` and checked against its oracle before the next query
is sent. Only ``run`` + ``toPandas`` are timed; checks and counter reads
sit between the timed regions. With tracing on, spans are recorded around
each public call; job, Catalyst and plan counters of each query are read
after its pass, in a ``counters`` span beside the pass span, so the pass
span holds only the queries and their checks. Nothing in the package is
instrumented.
"""

from __future__ import annotations

import json
import os
import pickle
import re
import sys
import time
import traceback

from .oracle import canonical_pandas, mismatch
from .procstat import bytes_written_since, find_jvm, peak_rss_mb, steal_s, tree_cpu
from .trace import Tracer

MB = 1024.0 * 1024.0
# Physical-plan SQLMetric keys summed by ``JvmCounters.plan``.
PLAN_METRICS = {
    "numOutputRows": "scan_rows",
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
    "pythonDataSent": "python_sent",
    "pythonDataReceived": "python_received",
    "pythonNumRowsReceived": "python_rows",
}
_METRIC_RE = re.compile(r"(\w+) -> \w+\(id: \d+, name: .*?, value: (-?\d+)\)")


class JvmCounters:
    """Cumulative JVM-wide counters read through the py4j gateway."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.mx = jvm.java.lang.management.ManagementFactory
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.conv = jvm.scala.jdk.javaapi.CollectionConverters
        self.system = jvm.java.lang.System

    def read(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self.mx.getGarbageCollectorMXBeans())
        return {
            "jit_s": self.mx.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": gc_ms / 1e3,
            "codegen_compiles": float(self.codegen.METRIC_COMPILATION_TIME().getCount()),
        }

    def heap_after_gc_mb(self) -> float:
        self.system.gc()
        return self.mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages that ran, tasks) launched under a job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for job in jobs:
            info = st.getJobInfo(job)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return len(jobs), stages, tasks

    def catalyst(self, df) -> dict[str, float]:
        phases = self.conv.asJava(df._jdf.queryExecution().tracker().phases())
        return {k: phases[k].durationMs() / 1e3 for k in phases.keySet()}

    def plan(self, df) -> dict[str, float]:
        """Sums over the executed (final adaptive) physical plan's nodes.

        Each node's metric map is read as one string (``SQLMetric`` prints
        its value), which keeps the walk to a few gateway calls per node.
        """
        out = dict.fromkeys(PLAN_METRICS.values(), 0.0)
        out["inmemory_scans"] = 0.0
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                todo.append(node.executedPlan())
                continue
            if name.endswith("QueryStage"):
                todo.append(node.plan())
                continue
            for key, value in _METRIC_RE.findall(node.metrics().toString()):
                if key == "numOutputRows":
                    if name.startswith(("Scan", "BatchScan")):
                        out["scan_rows"] += float(value)
                elif key in PLAN_METRICS:
                    out[PLAN_METRICS[key]] += float(value)
            if name == "InMemoryTableScan":
                out["inmemory_scans"] += 1
            todo.extend(self.conv.asJava(node.children()))
        return out


def _delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def read_counters(jvm: JvmCounters, held: list, kind: str, plans: dict) -> None:
    """Job, Catalyst and plan counters of a pass's queries, read after the
    pass. Empties ``held`` so that no DataFrame outlives its pass."""
    while held:
        seq, q, df, n_rows = held.pop()
        name = q["name"]
        q["run_jobs"], _, q["run_tasks"] = jvm.group_counts(f"run-{seq}")
        q["exec_jobs"], q["exec_stages"], q["exec_tasks"] = jvm.group_counts(f"collect-{seq}")
        if df is None:
            continue
        q["catalyst"] = jvm.catalyst(df)
        q["result_rows"] = n_rows
        # The plan walk costs ~0.2-1.5 s of gateway calls per query, so each
        # query's plan is read once, in the first measured pass, and reused.
        if kind == "measured" and name not in plans:
            plans[name] = jvm.plan(df)
        if name in plans:
            q["plan"] = plans[name]


def main(config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)
    with open(cfg["oracle_path"], "rb") as f:
        expected = pickle.load(f)
    data_dir = cfg["data_dir"]
    traced = bool(cfg["trace"])
    io_dirs = [os.environ["TMPDIR"], os.environ["SPARK_GRAFT_SCRATCH"], os.environ["SPARK_LOCAL_DIRS"]]
    tracer = Tracer(cfg["run_id"], traced)
    span = tracer.span
    out: dict = {"run_id": cfg["run_id"], "passes": [], "failures": []}

    cpu0 = tree_cpu()
    t0 = time.perf_counter()
    with span("setup"):
        with span("import"):
            from splio_etl_aggregations_spark import register_all
            from splio_etl_aggregations_spark.registry import get
            from splio_etl_aggregations_spark.session import get_spark
            from splio_etl_aggregations_spark.sources.loader import load
        with span("get_spark"):
            spark = get_spark(app_name="perfbench")
        with span("register_all"):
            register_all()
        with span("load"):
            load(spark, data_dir)
    t1 = time.perf_counter()
    cpu1 = tree_cpu()
    jvm_pid = find_jvm()
    out["setup_s"] = t1 - t0
    out["setup_cpu_s"] = cpu1["total"] - cpu0["total"]

    sc = spark.sparkContext
    jvm = JvmCounters(spark)

    kinds = ["cold"] + ["warmup"] * cfg["warmup"] + ["measured"] * cfg["measured"]
    seq = 0
    plans: dict[str, dict] = {}
    for pass_no, kind in enumerate(kinds):
        rec: dict = {"kind": kind, "wall_s": 0.0, "queries": []}
        held: list = []
        cpu_sum = dict.fromkeys(["driver", "jvm", "workers", "total"], 0.0)
        jvm0, steal0 = jvm.read(), steal_s()
        pass_started = time.time()
        with span("pass", pass_no=pass_no, kind=kind) as pass_span:
            for name in cfg["queries"]:
                seq += 1
                q = {"name": name}
                err = None
                with span("query", query=name):
                    if traced:
                        sc.setJobGroup(f"run-{seq}", name)
                    c0 = tree_cpu()
                    a = time.perf_counter()
                    try:
                        with span("Query.run"):
                            df = get(name).run(spark, data_dir)
                        b = time.perf_counter()
                        if traced:
                            sc.setJobGroup(f"collect-{seq}", name)
                        with span("toPandas"):
                            pdf = df.toPandas()
                    except Exception as exc:  # counted as a failed query
                        err = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
                        df = pdf = None
                        b = time.perf_counter()
                    c = time.perf_counter()
                    c1 = tree_cpu()
                q.update(run_s=b - a, collect_s=c - b, wall_s=c - a)
                q["cpu"] = _delta(c1, c0)
                with span("check"):
                    if err is None:
                        err = mismatch(name, canonical_pandas(pdf), expected[name])
                    if err is None and cfg.get("corrupt") == name:
                        # Deliberately corrupted result: drop one row, then
                        # re-check, to show the check catches it.
                        err = mismatch(name, canonical_pandas(pdf.iloc[1:]), expected[name])
                q["ok"] = err is None
                if err is not None:
                    out["failures"].append(err)
                if traced:
                    # Storage held right after the query; the rest of the
                    # counters are read after the pass, outside its span.
                    q["cache_held_mb"] = jvm.storage_mb()
                    held.append((seq, q, df, None if pdf is None else len(pdf)))
                del df, pdf
                rec["wall_s"] += q["wall_s"]
                for k in cpu_sum:
                    cpu_sum[k] += q["cpu"][k]
                rec["queries"].append(q)
        rec["cpu"] = cpu_sum
        rec["steal_s"] = steal_s() - steal0
        rec.update(_delta(jvm.read(), jvm0))
        if traced:
            rec["span_id"] = pass_span["id"]
            with span("counters", pass_no=pass_no) as counters_span:
                rec["io_bytes"] = bytes_written_since(pass_started, *io_dirs)
                read_counters(jvm, held, kind, plans)
            rec["counters_span_id"] = counters_span["id"]
        out["passes"].append(rec)
        print(
            f"pass {pass_no} {kind}: wall {rec['wall_s']:.3f}s cpu {cpu_sum['total']:.2f}s "
            f"jit {rec['jit_s']:.2f}s steal {rec['steal_s']:.2f}s",
            file=sys.stderr,
            flush=True,
        )

    out["heap_retained_mb"] = jvm.heap_after_gc_mb()
    out["peak_rss_mb"] = peak_rss_mb(jvm_pid) if jvm_pid else 0.0
    out["spans"] = tracer.spans
    spark.stop()
    with open(cfg["result_path"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
