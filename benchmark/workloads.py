"""The benchmark's workloads: which registry rows each one runs.

Every row is a ``datafusion_rdbms_ext_spark.queries.REGISTRY`` entry
with a DuckDB oracle. Why each workload and row is here is recorded in
``benchmark/README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass

#: Untimed passes before the first timed one: enough that per-pass JIT
#: compile time has levelled off (README.md, "Warm-up").
WARMUP_PASSES = 3


@dataclass(frozen=True)
class Workload:
    name: str
    rows: tuple[str, ...]
    #: Start a live Postgres cluster for the run.
    postgres: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "local",
            (
                "q01_pricing_summary",
                "q03_shipping_priority",
                "win_topn_per_group",
                "llm_minhash_containment",
                "mm_dedup_phash",
            ),
        ),
        Workload(
            "io",
            (
                "fed_postgres_binary_copy",
                "fed_postgres_pushdown",
                "fed_postgres_sink_roundtrip",
                "stream_branch_wap",
            ),
            postgres=True,
        ),
    )
}
