"""Engine benchmark: one short headline JSON line on stdout.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], then the extras. Every query is timed by
`time_query`, the one timing loop of the repo's harnesses
(`bench_twins.py` and `scripts/sweep_registry.py` call it too).

Usage: python bench.py [--quiet-gate=<load>]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from data_pipelines_course_spark.queries import SCALE_TWINS, all_queries
from data_pipelines_course_spark.session import get_spark

# Headline set: one per operator family (scan+agg, big join, shuffle-heavy
# text ops, LSH, vector search). Frozen so headline totals stay comparable.
HEADLINE = (
    "flagship_grouped_agg",
    "join_multiway_revenue",
    "wordcount",
    "topk_words",
    "value_counts",
    "grouped_hour_sum",
    "window_first_last_ratio",
    "rank_customers",
    "json_group_by_key",
    "text_quality",
    "dedup_exact",
    "ngram_jaccard_topk",
    "ngram_jaccard_threshold",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "knn_brute_force",
    "ann_lsh_topk",
    "ivf_topk",
    "media_feature_extract",
)

# Timed outside the headline total, reported on stderr. Left out on
# purpose: queries that train eagerly at construction (embedding_kmeans,
# semdedup_candidates, bpe_merge_table, bpe_token_stats), whose cold/warm
# split would book training as a query, and the three *_stream_convergence
# hooks, which drive a maintenance sink end to end (sink I/O, not a plan).
EXTRA = (
    "sessionize_events", "decontaminate_exact", "decontaminate_lsh",
    "mixture_sample_events", "corpus_curation", "dedup_clusters",
    "tpch_q3_unshipped_revenue", "tpch_q6_forecast_revenue",
    "price_quantiles", "price_quantiles_approx", "tpch_q1_pricing_summary",
    "tpch_q4_late_shipment_priority", "tpch_q5_local_supplier_volume",
    "tpch_q18_large_orders", "repetition_ratio",
    "type_token_ratio_by_source", "contamination_report",
    "stratified_sample_per_source", "embedding_norm_stats", "event_funnel",
    "retention_cohorts", "tpch_q13_order_distribution",
    "tpch_q17_small_quantity_revenue", "tpch_q21_waiting_suppliers",
    "tpch_q9_product_profit", "pii_redaction", "boilerplate_ngrams",
    "decontaminate_ngram_hit", "dedup_keep_best", "corpus_curation_full",
    "cogroup_conversion_lag", "conversion_lag_native",
    "gopher_quality_flags", "unigram_logprob_score",
    "quality_mixture_sample", "ngram_novelty_report",
    "scd2_user_state_intervals", "snapshot_diff_orders",
    "table_profile_orders", "media_dedup_hash", "pq_topk", "ivf_pq_topk",
    "media_feature_extract_arrow", "weighted_sample_docs",
    "encode_docs_to_ids", "pack_sequences", "vocab_typo_pairs",
    "vocab_typo_pairs_symspell", "value_outliers_by_type",
    "ngram_jaccard_threshold_prefix", "dedup_clusters_twostar",
    "dup_span_report", "temperature_resample_docs",
    "dedup_cluster_size_histogram", "quantity_quantiles_by_flag_approx",
    "context_windows_report", "lang_confusion_report", "dup_span_trim",
    "curation_attrition_report",
)

# The queries whose cold pass pays each staged family's one-time build,
# all of them in HEADLINE or EXTRA. A family's cold subtotal is an upper
# bound on its build: it also holds its members' codegen and scan warm-up.
STAGED_FAMILIES = {
    "ann_serving_index": ("ann_lsh_topk", "ivf_topk", "pq_topk",
                          "ivf_pq_topk"),
    "lsh_digests": ("minhash_lsh_pairs", "simhash_pairs",
                    "ngram_jaccard_threshold_prefix", "decontaminate_lsh",
                    "decontaminate_exact", "decontaminate_ngram_hit"),
    "curation_digests": ("corpus_curation", "corpus_curation_full",
                         "contamination_report", "curation_attrition_report",
                         "quality_mixture_sample"),
    "vocab_digests": ("encode_docs_to_ids", "unigram_logprob_score"),
    "span_words": ("dup_span_report", "dup_span_trim"),
}

PROTOCOL = "rebuild"


def run_query(df) -> None:
    """Force full execution without collecting results to the driver."""
    df.write.format("noop").mode("overwrite").save()


def loadavg() -> float:
    """Host 1-minute load average, one decimal: a rep timed at load 5
    labels itself as noisy."""
    return round(os.getloadavg()[0], 1)


def time_query(spark, queries, name: str, sf_dir: str, reps: int) -> dict:
    """Time `name` under the rebuild protocol: each of 1 + `reps` reps
    constructs the frame and runs its noop write, as a serving request
    does. `cold` is the first rep (codegen, Python-worker spawn, staging
    builds, session-cache misses); `warm` is the minimum of the others,
    so construction-time driver jobs (probe collects, centroid fetches)
    count in both. `load` is the load average at each rep's start and at
    the end."""
    secs, load = [], []
    for _ in range(1 + reps):
        load.append(loadavg())
        t0 = time.perf_counter()
        run_query(queries[name](spark, sf_dir))
        secs.append(time.perf_counter() - t0)
    load.append(loadavg())
    return {"cold": round(secs[0], 3), "warm": round(min(secs[1:]), 3),
            "load": load}


def page_cache_mb() -> int:
    """Host page cache (Buffers + Cached, MB): the sf1 cache-state marker,
    since the wall total of spill-bound queries follows what it holds."""
    with open("/proc/meminfo") as f:
        vals = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    return (vals.get("Buffers", 0) + vals.get("Cached", 0)) // 1024


def reread_mb_s(sf_dir: str) -> float | None:
    """Plain-I/O re-read throughput of the tier's largest parquet file:
    multi-GB/s means a page-cache-resident working set, disk speed a cold
    cache. Run after the timed queries so it cannot perturb them."""
    files = [os.path.join(sf_dir, f) for f in os.listdir(sf_dir)
             if f.endswith(".parquet")]
    if not files:
        return None
    path = max(files, key=os.path.getsize)
    t0 = time.perf_counter()
    with open(path, "rb") as f:
        while f.read(1 << 22):
            pass
    dt = time.perf_counter() - t0
    return round(os.path.getsize(path) / dt / (1 << 20), 1) if dt else None


def wait_for_quiet(gate: float, max_wait_sec: float = 600.0) -> dict:
    """Wait up to 10 min for the 1-min load to fall below `gate`. On
    timeout the bench runs anyway, with `met: false` in the JSON."""
    t0 = time.perf_counter()
    entry = load = loadavg()
    while load >= gate and time.perf_counter() - t0 < max_wait_sec:
        print(f"  quiet-gate: load {load} >= {gate}, waiting...",
              file=sys.stderr, flush=True)
        time.sleep(10.0)
        load = loadavg()
    return {"gate": gate, "met": load < gate,
            "waited_sec": round(time.perf_counter() - t0, 1),
            "load_at_entry": entry, "load_at_exit": load}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    gate = os.environ.get("SPARK_GRAFT_QUIET_GATE")
    for a in sys.argv[1:]:
        if a.startswith("--quiet-gate="):
            gate = a.split("=", 1)[1]
    quiet = wait_for_quiet(float(gate)) if gate else None
    cache_start = page_cache_mb()
    spark = get_spark(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # JVM/codegen warmup on a trivial plan so q1 isn't charged for startup.
    from pyspark.sql import functions as F
    run_query(spark.range(1000).groupBy(F.col("id") % 10).count())

    warm_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    head = {}
    for name in HEADLINE:
        r = head[name] = time_query(spark, queries, name, sf_dir, warm_reps)
        print(f"  {name}: {r['warm']:.3f}s (cold {r['cold']:.3f}s, min of "
              f"{warm_reps}, load {r['load'][0]}->{r['load'][-1]})",
              file=sys.stderr)
    timings = {n: r["warm"] for n, r in head.items()}

    # The short headline dict goes to stdout twice, right here and as the
    # very last line: a reader that captures only the tail of stdout
    # still gets one whole copy. Cross-round comparisons at sf1 use
    # cpu_bound_subtotal: the quadratic GT twins (HEADLINE ∩ SCALE_TWINS)
    # are spill-I/O-bound there and follow the host's page cache.
    quad = {n for n in HEADLINE if n in SCALE_TWINS}
    headline_payload = json.dumps({
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cold_total": round(sum(r["cold"] for r in head.values()), 3),
        "cpu_bound_subtotal": round(sum(
            t for n, t in timings.items() if n not in quad), 3),
        "quadratic_subtotal": round(sum(
            t for n, t in timings.items() if n in quad), 3),
        "page_cache_mb": [cache_start, page_cache_mb()],
        "reread_mb_s": reread_mb_s(sf_dir),
        "sf": float(m.group(1)) if m else -1.0,
        "protocol": PROTOCOL,
        "reps": warm_reps,
        "staging": os.environ.get("SPARK_GRAFT_STAGING", "checkpoint"),
        "load": {n: r["load"] for n, r in head.items()},
        "quiet_gate": quiet,
    })
    print(headline_payload, flush=True)

    # Extras: the same protocol with one warm rep. Session-cached builds
    # (dedup_clusters, pq/ivf_pq codebooks, k-means routers) land in cold.
    extra = {}
    for name in EXTRA:
        r = extra[name] = time_query(spark, queries, name, sf_dir, 1)
        print(f"  (extra) {name}: {r['warm']:.3f}s "
              f"(cold {r['cold']:.3f}s)", file=sys.stderr)
    both = {**head, **extra}
    print(json.dumps({
        "cold_queries": {n: r["cold"] for n, r in head.items()},
        "extra_queries": {n: r["warm"] for n, r in extra.items()},
        "extra_cold_queries": {n: r["cold"] for n, r in extra.items()},
        "staging_cold_families": {
            fam: round(sum(both[q]["cold"] for q in members), 3)
            for fam, members in STAGED_FAMILIES.items()},
    }), file=sys.stderr, flush=True)
    spark.stop()
    print(headline_payload, flush=True)


if __name__ == "__main__":
    main()
