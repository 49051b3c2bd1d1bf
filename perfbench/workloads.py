"""The benchmark's workloads: inputs, query lists and fixed pass counts.

Pass counts never depend on measured speed. A run does one cold pass,
``warmup`` unmeasured passes, then ``measured`` passes; ``measured`` is
``seconds / nominal_pass_s`` rounded, so it depends only on the
``--seconds`` argument and the fixed nominal pass length written here.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    queries: tuple[str, ...]
    warmup: int
    nominal_pass_s: float

    def measured(self, seconds: int) -> int:
        return max(2, round(seconds / self.nominal_pass_s))


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        # sf0.1 star-schema ETL: per-query fixed cost (Python build,
        # Catalyst, job scheduling) plus scan/shuffle execution; no
        # build-time jobs, Python workers or file writes. With
        # sql_market_share as well a pass compiles 72 codegen classes,
        # and in 3 of 25 runs Spark's codegen cache (100 entries in
        # segments that evict on their own) then recompiled 14-28 classes
        # on every pass, for 20-60 % more CPU. agg_pricing_summary is left
        # out because on some seeds (118) one of its round(sum, 4) values
        # differs from the DuckDB oracle in the last digit at sf0.1.
        Workload(
            name="etl_star",
            sf="sf0.1",
            queries=(
                "join_multi_star",
                "rfm_customer_360",
            ),
            warmup=4,
            nominal_pass_s=1.5,
        ),
        # sf0.1 write path: Arrow batches to Python workers, lake commits
        # and an avro round-trip written to disk.
        Workload(
            name="boundary_io",
            sf="sf0.1",
            queries=(
                "udf_grouped_map",
                "lake_merge_upsert",
                "scan_avro_roundtrip",
            ),
            warmup=5,
            nominal_pass_s=3.0,
        ),
        # sf0.01 (60k lineitem edges) fixed-round graph loops: wall time
        # sits inside Query.run, in the jobs their per-round checkpoints
        # launch at build time. Not in BENCHMARK.json: with three
        # workloads the evaluation's run budget left one warm-up pass per
        # run, too few for a steady warm_pass_cpu_s. They recompile
        # codegen classes only now and then (23 in some passes); adding
        # the dedup_* queries overflows the codegen cache (139 recompiles
        # every pass) but makes a warm pass 11-12 s.
        Workload(
            name="dedup_graph",
            sf="sf0.01",
            queries=(
                "graph_label_propagation",
                "graph_kcore_peel",
            ),
            warmup=4,
            nominal_pass_s=2.3,
        ),
    ]
}
