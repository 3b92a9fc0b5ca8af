"""Plan-shape assertions: prove the §4.1 rewrites the engine relies on at
100 TB actually fire — pushdown, pruning, broadcast joins, whole-stage
codegen, partition pruning on partitioned layouts — using
`plans.analysis` over the real headline queries.

These are the engine's version of the reference's "look at the task
graph" checks (`visualize()` cells, SURVEY §4.2); unlike eyeballing a
graph, they fail CI when a code change silently de-optimizes a plan
(e.g. a UDF sneaking into the scan path kills pushdown)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_pipelines_course_spark.datasets import load
from data_pipelines_course_spark.plans import analysis as pa
from data_pipelines_course_spark.queries import all_queries
from data_pipelines_course_spark.sinks.writers import write_partitioned_parquet

from .conftest import SF_DIR

QUERIES = all_queries()


# -- predicate pushdown (§4.1 row 1) ----------------------------------------

def test_filter_pushes_to_parquet_scan(spark):
    df = QUERIES["filter_equality"](spark, SF_DIR)
    pushed = pa.pushed_filters(df)
    assert any("event_type" in f for f in pushed), pushed


def test_date_window_filter_pushes(spark):
    df = QUERIES["filter_date_window"](spark, SF_DIR)
    pushed = pa.pushed_filters(df)
    assert any("o_orderdate" in f for f in pushed), pushed
    assert any("IsNotNull(o_orderpriority)" in f for f in pushed), pushed


# -- column pruning (§4.1 row 3) --------------------------------------------

def test_projection_prunes_scan_columns(spark):
    df = QUERIES["filter_equality"](spark, SF_DIR)
    cols = set(pa.read_schema_columns(df))
    # events has 7 columns; the query needs 4 (3 projected + 1 filtered).
    assert cols == {"event_id", "user_id", "value", "event_type"}, cols


def test_flagship_reads_only_agg_columns(spark):
    df = QUERIES["flagship_grouped_agg"](spark, SF_DIR)
    cols = set(pa.read_schema_columns(df))
    assert "l_comment" not in cols and "l_shipdate" not in cols, cols
    assert "l_returnflag" in cols


# -- join strategy (§4.1 row 7) ---------------------------------------------

def test_small_dim_join_is_broadcast(spark):
    df = QUERIES["broadcast_join"](spark, SF_DIR)
    strategies = pa.join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}, strategies


def test_broadcast_hints_only_on_fixed_cardinality_dims(spark):
    """Policy test (r2 verdict): hard F.broadcast hints are allowed ONLY
    on sides whose cardinality is fixed at every SF (nation 25, region 5,
    stopwords, the bounded decontamination bench set). Sides that grow
    with the data (customer, part, any per-user aggregate) must carry NO
    hint — stats/AQE pick broadcast while they fit and fall back to a
    shuffle join beyond, instead of a forced OOM at 100 TB."""
    expected_hints = {
        "broadcast_join": 0,                # customer grows with SF
        "join_multiway_revenue": 2,         # nation + region only
        "topk_orders_per_segment": 0,       # customer
        "retention_cohorts": 0,             # per-user aggregate: unbounded
        "event_funnel": 0,                  # per-user stage aggregates
        "tpch_q3_unshipped_revenue": 0,     # customer
        "tpch_q10_returned_items": 1,       # nation only
        "tpch_q14_promo_revenue": 0,        # part grows with SF
        "anti_join_stopwords": 1,           # fixed stopword set: hint OK
    }
    got = {name: pa.broadcast_hint_count(QUERIES[name](spark, SF_DIR))
           for name in expected_hints}
    assert got == expected_hints, got


def test_stats_pick_broadcast_without_hint(spark):
    """With the hint gone, Catalyst's size statistics must still plan
    customer as the broadcast side at test SF — proof the strategy now
    comes from the optimizer's size check, not the query author."""
    df = QUERIES["tpch_q3_unshipped_revenue"](spark, SF_DIR)
    assert pa.broadcast_hint_count(df) == 0
    assert "BroadcastHashJoin" in pa.join_strategies(df)


def test_multiway_join_broadcasts_all_dims(spark):
    # orders⋈customer⋈nation⋈region: every dim is broadcast-able, so the
    # plan must not pay a single shuffle-side sort-merge join.
    df = QUERIES["join_multiway_revenue"](spark, SF_DIR)
    assert "SortMergeJoin" not in pa.join_strategies(df)


# -- partial/final aggregation + codegen (§4.1 row 5, §4.2) ------------------

def test_grouped_agg_single_shuffle_and_codegen(spark):
    df = QUERIES["grouped_hour_sum"](spark, SF_DIR)
    # One groupBy ⇒ exactly one Exchange (partial agg before, final after).
    assert pa.exchange_count(df) == 1, pa.formatted_plan(df)
    assert pa.codegen_stage_count(df) >= 1


def test_wordcount_stays_jvm_side(spark):
    df = QUERIES["wordcount"](spark, SF_DIR)
    assert pa.python_eval_nodes(df) == []
    assert pa.exchange_count(df) == 1


def test_no_rowwise_python_in_relational_queries(spark):
    # Arrow-batched nodes are allowed where declared; row-at-a-time
    # BatchEvalPython is never acceptable in the engine's hot paths.
    for name in ("flagship_grouped_agg", "value_counts", "topk_words",
                 "broadcast_join", "rank_customers", "json_group_by_key",
                 "lang_id", "text_quality", "token_count"):
        nodes = pa.python_eval_nodes(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in nodes, (name, nodes)


# -- top-k plans as TakeOrderedAndProject (§4.1 row 2) -----------------------

def test_topk_plans_take_ordered(spark):
    df = QUERIES["topk_words"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in pa.formatted_plan(df)


# -- partition pruning on partitioned layout (§4.1 row 4 / W2) ---------------

@pytest.fixture(scope="module")
def partitioned_events(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("part") / "events_by_type")
    ev = load(spark, SF_DIR, "events")
    write_partitioned_parquet(ev, path, ["event_type"])
    return path


def test_partition_pruning_fires(spark, partitioned_events):
    df = (spark.read.parquet(partitioned_events)
          .filter(F.col("event_type") == "purchase"))
    parts = pa.partition_filters(df)
    assert any("event_type" in p for p in parts), parts
    # The pruned read must also agree with the unpartitioned source.
    n_pruned = df.count()
    n_src = (load(spark, SF_DIR, "events")
             .filter(F.col("event_type") == "purchase").count())
    assert n_pruned == n_src


def test_string_partition_key_writes_one_file_per_value(partitioned_events):
    """A string key takes the range-partitioned path: still one file per
    event_type value."""
    tdirs = [d for d in Path(partitioned_events).iterdir()
             if d.name.startswith("event_type=")]
    assert len(tdirs) > 1
    for tdir in tdirs:
        parts = [p for p in tdir.iterdir() if p.suffix == ".parquet"]
        assert len(parts) == 1, f"{tdir.name}: {len(parts)} files"


def test_plan_report_shape(spark):
    rep = pa.plan_report(QUERIES["broadcast_join"](spark, SF_DIR))
    assert set(rep["join_strategies"]) == {"BroadcastHashJoin"}
    assert rep["exchange_count"] == 0  # broadcast ⇒ no shuffle at all
    assert rep["python_eval_nodes"] == []


# -- caching / reuse (§4.1 caching row) -------------------------------------

def test_cached_dataset_reuses_inmemory_relation(spark):
    """SURVEY §4.1 caching (`de_merkel.persist()`, PySpark.ipynb:240):
    after cache_table, a FRESH load() of the same table must plan an
    InMemoryTableScan (CacheManager matches by analyzed plan, so callers
    don't need the cached handle), and an aggregate over it must too."""
    from data_pipelines_course_spark.datasets import (
        cache_table, load, uncache_table,
    )
    try:
        cached = cache_table(spark, SF_DIR, "nation")
        cached.count()  # materialize
        fresh = load(spark, SF_DIR, "nation")
        plan = pa.formatted_plan(fresh)
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
        agg = fresh.groupBy("n_regionkey").count()
        assert "InMemoryTableScan" in pa.formatted_plan(agg)
    finally:
        uncache_table(spark, SF_DIR, "nation")
    plan_after = pa.formatted_plan(load(spark, SF_DIR, "nation"))
    assert "InMemoryTableScan" not in plan_after


def test_decontaminate_lsh_broadcasts_bench_side(spark):
    """Decontamination's benchmark side (bands + signatures) must
    broadcast — at real scale the train side is 10^3-10^5× larger and
    must never shuffle for the candidate join."""
    df = QUERIES["decontaminate_lsh"](spark, SF_DIR)
    strategies = pa.join_strategies(df)
    assert any("Broadcast" in s for s in strategies), strategies


def test_sessionize_single_exchange(spark):
    """Sessionization must be ONE shuffle: the lag window, the running-sum
    window, and the per-session aggregate all reuse the user_id hash
    partitioning (groupBy(user_id, session_seq) is satisfied by
    HashPartitioning(user_id) — ClusteredDistribution subset rule)."""
    df = QUERIES["sessionize_events"](spark, SF_DIR)
    assert pa.exchange_count(df) == 1
    assert sorted(pa.read_schema_columns(df)) == [
        "event_id", "ts", "user_id"]


def test_corpus_curation_single_exchange_filter_pushed(spark):
    """The composed curation pipeline must stay ONE job with ONE exchange
    (the content-hash groupBy); the quality filter must evaluate at the
    scan (DataFilters), not in a separate stage."""
    df = QUERIES["corpus_curation"](spark, SF_DIR)
    assert pa.exchange_count(df) == 1
    assert sorted(pa.read_schema_columns(df)) == ["doc_id", "text"]


def test_no_rowwise_python_anywhere_in_registry(spark):
    """Registry-wide ban: BatchEvalPython (row-at-a-time Python) must not
    appear in ANY registered query's plan — Arrow-batched nodes
    (MapInPandas / FlatMapGroupsInPandas...) are the only sanctioned
    Python execution, and only where the operator genuinely needs it."""
    offenders = {}
    for name, fn in QUERIES.items():
        nodes = pa.python_eval_nodes(fn(spark, SF_DIR))
        if "BatchEvalPython" in nodes:
            offenders[name] = nodes
    assert not offenders, offenders


def test_engine_explain_by_name(spark):
    """SURVEY §4.2 diagnostics: engine.explain(name) must return the
    formatted plan of the registered query without executing it."""
    import data_pipelines_course_spark as engine

    plan = engine.explain(spark, "tpch_q6_forecast_revenue", SF_DIR)
    assert "PushedFilters" in plan and "Scan parquet" in plan
    with pytest.raises(KeyError):
        engine.explain(spark, "no_such_query", SF_DIR)


def test_q1_single_exchange_wide_agg(spark):
    """Q1 is scan + 8 partial aggregates + ONE exchange on the two group
    flags — nothing else; the shipdate filter reaches the scan."""
    df = QUERIES["tpch_q1_pricing_summary"](spark, SF_DIR)
    assert pa.exchange_count(df) == 1, pa.formatted_plan(df)
    assert any("l_shipdate" in f for f in pa.pushed_filters(df))


def test_q19_disjunction_implications_push_to_scans(spark):
    """Q19's OR predicate: Catalyst must still push the derivable
    single-side implications into both scans (brand/size union on part,
    quantity union on lineitem) rather than filtering only post-join."""
    df = QUERIES["tpch_q19_disjunctive_revenue"](spark, SF_DIR)
    pushed = " ".join(pa.pushed_filters(df))
    assert "p_brand" in pushed, pushed
    assert "l_quantity" in pushed, pushed


def test_q2_argmax_single_window_shuffle(spark):
    """The correlated-argmax rewrite: one exchange for the nationkey
    window (plus the broadcast for nation — no shuffle), never a
    self-join of customer against its own aggregate."""
    df = QUERIES["tpch_q2_top_acctbal_per_nation"](spark, SF_DIR)
    assert pa.exchange_count(df) == 1, pa.formatted_plan(df)
    strategies = pa.join_strategies(df)
    assert strategies.count("BroadcastHashJoin") == len(strategies)


def test_q6_predicates_push_to_scan(spark):
    """Q6's whole point: every predicate must reach the parquet scan so
    row groups outside the date/discount/quantity ranges never decode."""
    df = QUERIES["tpch_q6_forecast_revenue"](spark, SF_DIR)
    pushed = " ".join(pa.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    assert sorted(pa.read_schema_columns(df)) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]


# -- subquery-decorrelation shapes (tpch_sub, r3) ----------------------------

def test_scalar_subqueries_broadcast_not_cartesian(spark):
    """Q11/Q15/Q22 attach a 1-row scalar aggregate via crossJoin. The
    planner must realize it as a broadcast nested-loop over the 1-row
    side — NEVER a CartesianProduct (which would repartition the big
    side n×m) and with no hard broadcast hint in the query itself."""
    for name in ("tpch_q11_important_parts", "tpch_q15_top_supplier",
                 "tpch_q22_global_sales_opportunity"):
        df = QUERIES[name](spark, SF_DIR)
        plan = pa.formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert pa.broadcast_hint_count(df) == 0, name


def test_q13_outer_join_keeps_zero_order_customers(spark):
    """Q13's trap: the priority filter must live in the JOIN condition —
    the physical plan keeps a LeftOuter join (a WHERE would have let
    Catalyst rewrite it to Inner and silently drop 0-order customers)."""
    df = QUERIES["tpch_q13_order_distribution"](spark, SF_DIR)
    assert "LeftOuter" in pa.formatted_plan(df)


def test_q16_anti_join_precedes_distinct_count(spark):
    """Q16's NOT IN decorrelates to a left_anti join and the part-side
    predicates (brand/type/size) reach the parquet scan."""
    df = QUERIES["tpch_q16_supplier_part_counts"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert "LeftAnti" in plan
    pushed = " ".join(pa.pushed_filters(df))
    assert "p_size" in pushed and "p_brand" in pushed, pushed


def test_q17_correlated_avg_is_preaggregated(spark):
    """Q17's correlated avg decorrelates to ONE pre-aggregate joined
    back on partkey — no row-wise Python, part filter pushed to scan."""
    df = QUERIES["tpch_q17_small_quantity_revenue"](spark, SF_DIR)
    pushed = " ".join(pa.pushed_filters(df))
    assert "p_brand" in pushed, pushed
    assert pa.codegen_stage_count(df) >= 1


def test_q21_exists_pair_is_one_order_aggregate(spark):
    """Q21's EXISTS + NOT EXISTS collapse into one order-level aggregate:
    the plan must not contain more than two lineitem scans (three
    correlated probes would show as three)."""
    df = QUERIES["tpch_q21_waiting_suppliers"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert plan.count("lineitem.parquet") <= 2 or \
        plan.count("Scan parquet") <= 4, plan
    assert pa.broadcast_hint_count(df) == 0


# -- text-prep family (textprep, r3) -----------------------------------------

def test_pii_redaction_is_map_only(spark):
    """Redaction is a pure regexp_replace chain over one scan reading
    only (doc_id, text), fully inside codegen; the only exchange is the
    scale-adaptive widening repartition ahead of the heavy regex stage
    (r12 continuation — a no-op at 100 TB via the `inputFiles()`
    probe, the gopher_quality_flags idiom)."""
    df = QUERIES["pii_redaction"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert pa.exchange_count(df) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert sorted(pa.read_schema_columns(df)) == ["doc_id", "text"]
    assert pa.codegen_stage_count(df) >= 1


def test_boilerplate_ngrams_single_scan_no_join(spark):
    """The array-slide n-gram build must not reproduce the oracle's
    3-way positional self-join: exactly one documents scan, no joins,
    then agg + top-k."""
    df = QUERIES["boilerplate_ngrams"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert not pa.join_strategies(df), plan
    # one "Location:" detail line per physical scan
    assert plan.count("Location:") == 1, plan
    assert "TakeOrderedAndProject" in plan


def test_tfidf_df_computed_over_aggregated_vocab(spark):
    """Document frequency is a window over the (source, term) AGGREGATE
    — one documents scan total, not a second corpus pass."""
    df = QUERIES["tfidf_top_terms"](spark, SF_DIR)
    assert pa.formatted_plan(df).count("Location:") == 1


def test_lateral_decorrelates_to_window_not_loop(spark):
    """The correlated LATERAL + LIMIT must decorrelate into a Window
    rank over customer (one nationkey shuffle) — broadcast joins only,
    no CartesianProduct, no per-nation re-scan."""
    df = QUERIES["lateral_topk_per_nation"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    strategies = pa.join_strategies(df)
    assert strategies.count("BroadcastHashJoin") == len(strategies)


def test_unpivot_is_single_pass_expand(spark):
    """melt plans as ONE Expand over one scan — never the per-column
    UNION ALL a hand-rolled melt pays."""
    df = QUERIES["unpivot_part_attrs"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert "Expand" in plan
    assert plan.count("Location:") == 1
    assert "Union" not in plan


def test_runtime_bloom_filter_injects_when_broadcast_impossible(spark):
    """The 100 TB fallback story for selective dim joins: when the dim
    outgrows broadcast (simulated by disabling broadcast), Catalyst's
    InjectRuntimeFilter builds a bloom filter from the FILTERED creation
    side and probes it on the fact side before the shuffle — non-matching
    fact rows are dropped at the scan instead of being shuffled. Assert
    the rewrite fires under this session's confs (it is sized-gated:
    the app-side scan threshold is lowered to admit test-scale data)."""
    from data_pipelines_course_spark.datasets import load

    saved = {}
    tweaks = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    for k, v in tweaks.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        orders = (load(spark, SF_DIR, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT"))
        li = load(spark, SF_DIR, "lineitem")
        j = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_corpus_curation_full_anti_join_is_broadcast(spark):
    """The decontamination stage must not shuffle the curated corpus:
    the contaminated-id set is tiny (bench gram hits), so the LEFT ANTI
    join lands as a broadcast hash join, and the quality filter still
    evaluates at the scan of the curation branch."""
    df = QUERIES["corpus_curation_full"](spark, SF_DIR)
    strategies = pa.join_strategies(df)
    assert any("BroadcastHashJoin" in s for s in strategies), strategies
    # no sort-merge join anywhere: nothing in this pipeline needs one
    assert not any("SortMergeJoin" in s for s in strategies), strategies


def test_gopher_flags_single_scan_widen_only(spark):
    """The Gopher filter is a pure map over the scan: the only exchange
    is the scale-adaptive widening repartition ahead of the heavy HOF
    stage (OPTIMIZATION_r12 #8 — a no-op at 100 TB via the
    `inputFiles()` probe), one documents scan reading only
    (doc_id, text)."""
    df = QUERIES["gopher_quality_flags"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert pa.exchange_count(df) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert sorted(pa.read_schema_columns(df)) == ["doc_id", "text"]
    assert pa.codegen_stage_count(df) >= 1


def test_unigram_score_broadcasts_vocab_not_corpus(spark):
    """The vocab-count attachment must be a broadcast join, the corpus
    side must never shuffle on the Zipf-skewed token key (its only
    exchange is the widening repartition by doc_id), and the corpus is
    tokenized exactly ONCE per execution — the vocab build and the
    total-T branch both read the staged vocab table instead of
    re-exploding the corpus (OPTIMIZATION_r12 #13: 3 corpus tokenize
    pipelines -> 1 live + 1 behind the session-staged checkpoint)."""
    df = QUERIES["unigram_logprob_score"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(token" not in plan, plan
    import re
    explodes = re.findall(r"\(\d+\) Generate", plan)
    assert len(explodes) == 1, plan


def test_scd2_single_exchange(spark):
    """Run-length encoding + interval windows all share the user_id
    partitioning: exactly one Exchange in the whole plan."""
    df = QUERIES["scd2_user_state_intervals"](spark, SF_DIR)
    assert pa.exchange_count(df) == 1, pa.formatted_plan(df)


def test_media_dedup_hash_shuffles_digests_only(spark):
    """The dedup aggregate must shuffle md5 digests, never payload
    bytes: one exchange, and the partial aggregate below it projects
    only the hash (payload pruned before the exchange)."""
    df = QUERIES["media_dedup_hash"](spark, SF_DIR)
    assert pa.exchange_count(df) == 1, pa.formatted_plan(df)
    assert sorted(pa.read_schema_columns(df)) == ["doc_id", "text"]


def test_snapshot_diff_single_join_no_extra_shuffle(spark):
    """The keyed diff is exactly one full-outer join (both sides
    exchange once on the key) — no row-serialization hash stage, no
    second corpus pass."""
    df = QUERIES["snapshot_diff_orders"](spark, SF_DIR)
    import re
    plan = pa.formatted_plan(df)
    # one join NODE (formatted plans list each node twice: tree + detail)
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1, plan
    assert "FullOuter" in plan, plan


def test_table_profile_one_scan_expand(spark):
    """The multi-distinct profile is ONE orders scan with an Expand —
    not the oracle's 4-scan UNION."""
    df = QUERIES["table_profile_orders"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert plan.count("Location:") == 1, plan
    assert "Expand" in plan, plan


def test_pack_sequences_single_source_exchange(spark):
    """Packing must never force a global ORDER BY single-reducer: the
    running-sum window partitions by source, so the plan has exactly
    one exchange on source (window + aggregate share it)."""
    df = QUERIES["pack_sequences"](spark, SF_DIR)
    assert pa.exchange_count(df) == 1, pa.formatted_plan(df)


def test_encode_docs_vocab_join_is_broadcast(spark):
    """The id attachment must broadcast the vocab-sized count table —
    token instances (corpus-sized) never shuffle on the token key."""
    df = QUERIES["encode_docs_to_ids"](spark, SF_DIR)
    assert "BroadcastHashJoin" in pa.join_strategies(df), \
        pa.formatted_plan(df)
    assert "SortMergeJoin" not in pa.join_strategies(df)


def test_novelty_single_scan_no_join(spark):
    """The novelty report must be the one-scan window form (single
    documents scan, no join) — not the two-scan aggregate-then-join
    shape (see the docstring's skew/vocab-size analysis)."""
    df = QUERIES["ngram_novelty_report"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert plan.count("Location:") == 1, plan
    assert not pa.join_strategies(df), plan


def test_weighted_sample_is_top_k_no_shuffle(spark):
    """Efraimidis-Spirakis sampling must plan as a shuffle-free
    TakeOrderedAndProject over one scan."""
    df = QUERIES["weighted_sample_docs"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert pa.exchange_count(df) == 0, plan
    assert "TakeOrderedAndProject" in plan


def test_symspell_candidates_are_equi_join_not_cartesian(spark):
    """The deletion-neighborhood join must be a hash equi-join on the
    key hash — never a cartesian/nested-loop levenshtein sweep."""
    df = QUERIES["vocab_typo_pairs_symspell"](spark, SF_DIR)
    strats = set(pa.join_strategies(df))
    assert "CartesianProduct" not in strats, strats
    assert "BroadcastNestedLoopJoin" not in strats, strats
    assert strats & {"BroadcastHashJoin", "SortMergeJoin",
                     "ShuffledHashJoin"}, strats


def test_pq_topk_single_scan_take_ordered(spark):
    """PQ serving plan: encode + ADC in the scan projection, candidates
    via TakeOrderedAndProject, zero exchanges."""
    df = QUERIES["pq_topk"](spark, SF_DIR)
    plan = pa.formatted_plan(df)
    assert pa.exchange_count(df) == 0, plan
    assert "TakeOrderedAndProject" in plan
    assert pa.python_eval_nodes(df) == []


def test_q9_star_join_no_sort_merge_on_dims(spark):
    """Q9's 5-way star join: at test SF every dimension side (part
    filtered, supplier, nation, orders' two columns) must attach
    without a SortMergeJoin, and the part-name filter must reach the
    part scan."""
    df = QUERIES["tpch_q9_product_profit"](spark, SF_DIR)
    assert "SortMergeJoin" not in pa.join_strategies(df), \
        pa.join_strategies(df)
    pushed = pa.pushed_filters(df)
    assert any("p_name" in f for f in pushed), pushed
