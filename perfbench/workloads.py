"""The benchmark's workloads: which registered queries run and on which
data tier. Why each workload was chosen is stated in BENCHMARK.json.

Membership lists (``staged``, ``memo``) were read off the operator code:
a query is *staged* when its plan routes a digest table through
``staging.stage`` and *memo-backed* when its construction reads a
session memo (PQ codebooks, the LSH bucket index). They are measured by
timing only; nothing here reads the engine's private memo dicts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

SINK = "sink:write_partitioned_parquet"
# Untraced warm passes a run makes (a traced run makes twice as many,
# alternating untraced and traced).
WARM_PASSES = 6


@dataclass(frozen=True)
class Workload:
    name: str
    tier: str                       # "sf0.01" (shipped) or "sf1" (derived)
    queries: tuple[str, ...]
    tables: tuple[str, ...]         # tables scanned by datasets.scan_s
    sink: bool = False              # append the partitioned-parquet write
    staged: tuple[str, ...] = ()
    memo: tuple[str, ...] = ()
    # Queries without a DuckDB oracle: the columns their output must have.
    columns: dict[str, tuple[str, ...]] = field(default_factory=dict)

    def ops(self) -> tuple[str, ...]:
        return self.queries + ((SINK,) if self.sink else ())


WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    Workload(
        name="analytics_sf1",
        tier="sf1",
        queries=("tpch_q1_pricing_summary",),
        tables=("lineitem", "orders"),
        sink=True,
    ),
    Workload(
        name="curation_serving_sf0.01",
        tier="sf0.01",
        queries=(
            "dedup_exact",
            "text_quality",
            "pq_topk",
            "knn_brute_force",
        ),
        tables=("documents", "embeddings"),
        staged=("pq_topk",),
        memo=("pq_topk",),
        columns={"pq_topk": ("vec_id", "label", "cos_sim")},
    ),
)}
