"""Central query registry — the engine's correctness surface.

Every operator from SURVEY.md §2 (plus the scale additions: dedup,
similarity, text analysis) registers here as a named query:

    (spark, sf_dir) -> DataFrame           # the Spark-first implementation
    name -> ANSI SQL string                # DuckDB oracle, where expressible

The verify driver runs both sides at sf0.01 and compares row count, schema
and an order-insensitive value hash — so every Spark implementation aliases
its computed columns to exactly the oracle's names. Queries whose semantics
are not SQL-expressible (MinHash LSH, SimHash, LSH-ANN) register without an
oracle and get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Deliberate ground-truth queries (quadratic / single-reducer by design,
# kept as exact oracles) -> the registered query that is their documented
# 100 TB scale path. Machine-auditable via tests/test_registry.py.
SCALE_TWINS: dict[str, str] = {}


def query(
    name: str,
    oracle: str | None = None,
    scale_twin: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query and (optionally) its DuckDB oracle SQL.

    ``scale_twin`` marks a deliberate ground-truth query (kept for exact
    oracle semantics despite a known scale bottleneck) and names the
    registered query implementing the same semantics at 100 TB scale.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if scale_twin is not None:
            SCALE_TWINS[name] = scale_twin
        return fn

    return deco


_LOADED = False


def load_registry() -> None:
    """Import every operator module for its registration side effects."""
    global _LOADED
    if _LOADED:
        return
    # Imported here (not at module top) to avoid import cycles: operator
    # modules import `query` from this module.
    from .operators import (  # noqa: F401
        relational,
        windows,
        nested,
        textops,
        dedup,
        similarity,
        multimodal,
        temporal,
        grouped,
        skew,
        sampling,
        curation,
        tpch,
        tpch_sub,
        graph,
        analytics,
        textprep,
        reshape,
        sketches,
        quality,
        audit,
        streamconv,
    )
    # The verify driver imports this package from /root/repo but spawns
    # Python workers whose sys.path may not include it. Functions shipped
    # to executors (applyInPandas/mapInPandas bodies) must therefore be
    # pickled BY VALUE, not by module reference — otherwise workers die
    # with ModuleNotFoundError on any UDF stage.
    try:
        from pyspark import cloudpickle

        for mod in (relational, windows, nested, textops, dedup,
                    similarity, multimodal, temporal, grouped, skew,
                    sampling, curation, tpch, tpch_sub, graph, analytics,
                    textprep, reshape, sketches, quality, audit, streamconv):
            cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass  # older cloudpickle: UDF bodies are closure-only there
    _LOADED = True


def all_queries() -> dict[str, QueryFn]:
    load_registry()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_registry()
    return dict(ORACLES)
