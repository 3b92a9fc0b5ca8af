"""Corpus-level MinHash-LSH recall against exact Jaccard ground truth.

The ANN paths (IVF/LSH over embeddings) already have measured-recall
tests (test_similarity.py); this gives the minhash dedup path the same
treatment: the exact-threshold Jaccard query (oracle-checked against
DuckDB) is the truth set, and every truth pair must be recovered by the
banded LSH candidate generation.

Expected recall math (8 bands × 4 rows): P(candidate) = 1-(1-J^4)^8 —
0.67 at J=0.6, 0.985 at J=0.8, →1 at J≈1. The corpus's planted
duplicates are near-exact (J≈1), so measured recall is 1.0 at sf0.01
(25/25 pairs); the 0.9 floor leaves room for borderline-J pairs at other
scale factors without masking a real banding regression.

Sharpened contract (r8, RECALL_r08.json): the UNIVERSAL floor is 0.9 on
J≥0.8 pairs — measured 1.0 at sf0.01, sf1 (full GT) and the saturated
sf10-docs tier (sampled GT). The AGGREGATE is corpus-dependent: at sf1,
46% of truth pairs sit in [0.6,0.7) where a correctly-tuned-for-t=0.6
banding pays its designed ~0.75, so the aggregate reads 0.88 while every
per-band number is at theory. test_minhash_lsh_recall_confident_band
pins the universal floor; the aggregate test stays at sf0.01 where the
corpus makes it meaningful.
"""

from __future__ import annotations

import pytest

# Referee suite: long-tail tier (VERDICT r12 #2) — deselected from the
# default fast tier; runs builder-side with -m "slow or not slow".
pytestmark = pytest.mark.slow


from data_pipelines_course_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.01"


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    q = all_queries()
    truth = {(r["doc1"], r["doc2"])
             for r in q["ngram_jaccard_threshold"](spark, SF_DIR).collect()}
    assert truth, "exact-threshold truth set is empty — corpus changed?"
    cand = {(r["doc1"], r["doc2"])
            for r in q["minhash_lsh_pairs"](spark, SF_DIR).collect()}
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.9, (
        f"LSH recall {recall:.3f} < 0.9 "
        f"(missed {sorted(truth - cand)[:10]})")


def test_minhash_lsh_recall_confident_band(spark):
    """The universal recall floor: ≥0.9 on J≥0.8 truth pairs (the
    s-curve's near-certain region, theory ≥0.985 there). This is the
    band the sampled-GT referee holds at 1.0 across all three measured
    tiers (RECALL_r08.json) — here it is pinned in-suite at sf0.01."""
    q = all_queries()
    confident = {(r["doc1"], r["doc2"])
                 for r in q["ngram_jaccard_threshold"](spark, SF_DIR).collect()
                 if r["jaccard"] >= 0.8}
    assert confident, "no J>=0.8 truth pairs — corpus changed?"
    cand = {(r["doc1"], r["doc2"])
            for r in q["minhash_lsh_pairs"](spark, SF_DIR).collect()}
    recall = len(confident & cand) / len(confident)
    assert recall >= 0.9, f"confident-band recall {recall:.3f} < 0.9"


def test_highrecall_twin_dominates_default(spark):
    """The 16x2 high-recall twin (VERDICT r11 #5, registered r12) must
    (a) emit a SUPERSET of the default 8x4's pairs — structurally
    guaranteed: a 4-row band agreement implies both of its 2-row halves
    agree, so every default co-bucketing survives the split; the
    est-Jaccard cutoff is identical — and (b) clear the same 0.9 recall
    floor vs the exact-threshold truth. (a) is the property that makes
    the knob monotone: turning it on can only add candidate pairs."""
    q = all_queries()
    default = {(r["doc1"], r["doc2"])
               for r in q["minhash_lsh_pairs"](spark, SF_DIR).collect()}
    high = {(r["doc1"], r["doc2"])
            for r in q["minhash_lsh_pairs_highrecall"](spark,
                                                       SF_DIR).collect()}
    assert default <= high, (
        f"high-recall twin lost default pairs: {sorted(default - high)[:5]}")
    truth = {(r["doc1"], r["doc2"])
             for r in q["ngram_jaccard_threshold"](spark, SF_DIR).collect()}
    recall = len(truth & high) / len(truth)
    assert recall >= 0.9, f"high-recall twin recall {recall:.3f} < 0.9"


def test_decontaminate_lsh_recall_vs_exact(spark):
    """The banded cross-set MinHash path must recover the exact-Jaccard
    contamination pairs (same banding math as the self-join case; the
    planted dups are near-exact so measured recall is 1.0 at sf0.01)."""
    q = all_queries()
    exact = {(r["train_id"], r["bench_id"])
             for r in q["decontaminate_exact"](spark, SF_DIR).collect()}
    assert exact, "exact decontamination truth set is empty — corpus changed?"
    lsh = {(r["train_id"], r["bench_id"])
           for r in q["decontaminate_lsh"](spark, SF_DIR).collect()}
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"decontamination recall {recall:.3f} < 0.9"


def test_rowwise_sig_matches_aggregated_sig(spark):
    """The stateless per-row HOF signature (streaming path) must be
    bit-identical to the groupBy signature (batch path) — one definition
    of 'minhash' across execution modes."""
    from data_pipelines_course_spark.datasets import load
    from data_pipelines_course_spark.operators.dedup import (
        minhash_signatures, rowwise_minhash_sig,
    )
    docs = load(spark, SF_DIR, "documents")
    agg = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    row = {r["doc_id"]: r["sig"] for r in rowwise_minhash_sig(docs).collect()}
    assert agg == row


def test_connected_components_chain_and_islands(spark):
    """Label propagation must close transitive chains (diameter > 1) and
    keep disjoint components apart; cluster_id is the component min."""
    from data_pipelines_course_spark.operators.graph import (
        connected_components,
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),     # chain: component min 1
         (10, 11), (11, 10),                 # dup edge both ways: min 10
         (20, 21)],                          # pair: min 20
        "src long, dst long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(edges, "src", "dst").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20}


def test_twostar_cc_matches_propagation_and_handles_long_chains(spark):
    """connected_components_twostar must (a) agree with min-label
    propagation on an arbitrary multi-component graph and (b) converge
    on a diameter-64 chain — where propagation's default 25-round cap
    cannot (the O(log n) vs O(diameter) separation the variant exists
    for)."""
    import random

    from data_pipelines_course_spark.operators.graph import (
        connected_components, connected_components_twostar)

    rng = random.Random(7)
    # three scattered components + isolated pairs
    edges = []
    for base in (0, 100, 200):
        nodes = [base + i for i in range(12)]
        for _ in range(18):
            a, b = rng.sample(nodes, 2)
            edges.append((a, b))
    edges += [(500, 501), (600, 601)]
    df = spark.createDataFrame(edges, "a long, b long")
    prop = {(r["doc_id"], r["cluster_id"]) for r in
            connected_components(df, "a", "b").collect()}
    two = {(r["doc_id"], r["cluster_id"]) for r in
           connected_components_twostar(df, "a", "b").collect()}
    assert two == prop

    # diameter-64 path: 0-1-2-...-64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "a long, b long")
    got = {(r["doc_id"], r["cluster_id"]) for r in
           connected_components_twostar(chain, "a", "b",
                                        max_iter=12).collect()}
    assert got == {(i, 0) for i in range(65)}


def test_dedup_clusters_memoized_per_session(spark):
    """The converged cluster frame is cached per session: its three
    registered consumers (clusters, keep_best, histogram) must share ONE
    label-propagation build instead of re-running the eager driver loop
    each call."""
    from data_pipelines_course_spark.operators import graph
    from tests.conftest import count_jobs

    sf = "/root/testdata/sf0.001"
    a = graph.dedup_clusters(spark, sf)
    b, jobs = count_jobs(spark, lambda: graph.dedup_clusters(spark, sf))
    assert a is b  # identity: second call is a cache hit
    assert jobs == 0  # ... that starts no Spark job
    # consumers reuse the same frame
    graph.dedup_cluster_size_histogram(spark, sf).collect()
    assert graph.dedup_clusters(spark, sf) is a
