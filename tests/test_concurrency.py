"""Concurrent-query smoke: a shared SparkSession serving simultaneous
jobs is the normal state of a production cluster (FAIR pools, notebook
users, orchestrated stages), and the one r4 data-loss-class bug — the
partitionOverwriteMode session race — lived exactly in shared-session
mutable state. The sinks carry a dedicated interleave test; this covers
the QUERY surface: a diverse slice of the registry (relational, window,
LSH digest checkpoints, the cached cluster builds, the restructured
attrition report) raced on one session must return exactly the
sequential answers — no cross-talk through session confs, dataset
caches, lazy checkpoints, or the session cache."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from data_pipelines_course_spark.queries import all_queries
from tests.conftest import SF_DIR

CONCURRENT = (
    "flagship_grouped_agg",
    "tpch_q1_pricing_summary",
    "sessionize_events",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dedup_cluster_size_histogram",   # cached eager build
    "dedup_keep_best",                # shares the cached cluster build
    "curation_attrition_report",
    "quantity_quantiles_by_flag",
    "lang_confusion_report",
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_concurrent_queries_match_sequential(spark):
    queries = all_queries()
    expected = {n: _rows(queries[n](spark, SF_DIR)) for n in CONCURRENT}
    with ThreadPoolExecutor(max_workers=len(CONCURRENT)) as pool:
        futs = {n: pool.submit(lambda n=n: _rows(queries[n](spark, SF_DIR)))
                for n in CONCURRENT}
        got = {n: f.result(timeout=600) for n, f in futs.items()}
    for n in CONCURRENT:
        assert got[n] == expected[n], f"{n} diverged under concurrency"
