"""Pins for the multi-probe ANN recall referee (ann_recall_referee.py)
and parity tests for the registered `ann_batch_topk` query (r9).

The referee's claim to measure the REGISTERED indexes rests on one
property: restricted to the registered probe (QUERY_VEC_ID=0), every
batch path must return exactly what its registered single-probe query
returns — same vec_ids, same rounded scores. These tests pin that
equality for the ground truth and all four serving paths, plus a
multi-probe recall floor on the cheap path so a recall regression in
the index parameters fails the suite, not just the round artifact.

Since round 9 the LSH batch path IS a registered query
(`ann_batch_topk`, VERDICT r8 #1 sanction): the referee's `batch_lsh`
delegates to the engine's `lsh_batch_topk`, so the probe-0 equality pin
and the panel recall floor below are that query's parity tests, not
just referee self-checks. `test_ann_batch_topk_registered_*` pin the
registered entry itself (panel rule, probe-0 restriction, schema).
"""

from __future__ import annotations

import pytest

# Referee suite: long-tail tier (VERDICT r12 #2) — deselected from the
# default fast tier; runs builder-side with -m "slow or not slow".
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from ann_recall_referee import (
    batch_ground_truth, batch_ivf, batch_lsh, batch_pq,
    recall_report, _collect_sets,
)
from data_pipelines_course_spark.datasets import load
from data_pipelines_course_spark.operators.similarity import (
    QUERY_VEC_ID, ann_probe_panel,
)
from data_pipelines_course_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    df = load(spark, SF_DIR, "embeddings").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def probe0(spark, emb):
    return ann_probe_panel(emb, 10 ** 9).cache()  # only vec_id 0 survives


def _rows(df):
    return sorted((int(r["vec_id"]), float(r["cos_sim"]))
                  for r in df.collect())


def _batch_rows(df):
    return sorted((int(r["vec_id"]), float(r["cos_sim"]))
                  for r in df.filter(F.col("probe_id") == QUERY_VEC_ID)
                  .collect())


def test_probe_panel_is_deterministic_and_contains_probe0(probe0):
    ids = [int(r["probe_id"]) for r in probe0.collect()]
    assert ids == [QUERY_VEC_ID]


def test_batch_gt_probe0_equals_registered_knn(spark, emb, probe0):
    got = _batch_rows(batch_ground_truth(emb, probe0))
    want = _rows(all_queries()["knn_brute_force"](spark, SF_DIR))
    assert got == want


def test_batch_lsh_probe0_equals_registered(spark, emb, probe0):
    got = _batch_rows(batch_lsh(emb, probe0))
    want = _rows(all_queries()["ann_lsh_topk"](spark, SF_DIR))
    assert got == want


def test_batch_ivf_probe0_equals_registered(spark, emb, probe0):
    got = _batch_rows(batch_ivf(spark, emb, probe0))
    want = _rows(all_queries()["ivf_topk"](spark, SF_DIR))
    assert got == want


def test_batch_pq_probe0_equals_registered(spark, emb, probe0):
    got = _batch_rows(batch_pq(spark, emb, probe0, SF_DIR))
    want = _rows(all_queries()["pq_topk"](spark, SF_DIR))
    assert got == want


def test_batch_ivf_pq_probe0_equals_registered(spark, emb, probe0):
    got = _batch_rows(batch_pq(spark, emb, probe0, SF_DIR, ivf_route=True))
    want = _rows(all_queries()["ivf_pq_topk"](spark, SF_DIR))
    assert got == want


def test_batch_ivf_kmeans_probe0_equals_registered(spark, emb, probe0):
    """The trained-router IVF is registered since r9 (`ivf_kmeans_topk`,
    VERDICT r8 #6 sanction); the referee's batch twin restricted to
    probe 0 must equal it — same vec_ids, same rounded scores."""
    from ann_recall_referee import batch_ivf_kmeans
    got = _batch_rows(batch_ivf_kmeans(spark, emb, probe0, SF_DIR))
    want = _rows(all_queries()["ivf_kmeans_topk"](spark, SF_DIR))
    assert got == want


def test_ivf_kmeans_routes_differ_from_untrained(spark, emb):
    """The trained router must actually be a different quantizer, not a
    re-label: trained centroids differ from the first-K stand-ins (the
    Lloyd loop moved them), while both queries stay top-10-shaped."""
    from data_pipelines_course_spark.operators.similarity import (
        IVF_K, kmeans_train,
    )
    cents, history = kmeans_train(spark, SF_DIR)
    assert len(cents) == IVF_K and len(history) >= 1
    first_k = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
               for r in emb.filter(F.col("vec_id") < IVF_K).collect()}
    import math
    moved = sum(
        1 for i in range(IVF_K)
        if 1.0 - sum(a * b for a, b in zip(cents[i], first_k[i]))
        / math.sqrt(sum(x * x for x in first_k[i])) > 1e-3)
    assert moved >= IVF_K // 2, "training barely moved the centroids?"
    rows = all_queries()["ivf_kmeans_topk"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    assert [c for c in ("vec_id", "label", "cos_sim")] == list(rows[0].asDict())


def test_ann_batch_topk_registered_probe0_equals_single(spark, emb):
    """The registered batch query's probe-0 slice IS the registered
    single-probe query (same vec_ids, same rounded scores): the panel
    rule vec_id % 50 == 0 always includes QUERY_VEC_ID = 0."""
    got = _batch_rows(all_queries()["ann_batch_topk"](spark, SF_DIR))
    want = _rows(all_queries()["ann_lsh_topk"](spark, SF_DIR))
    assert got == want


def test_ann_batch_topk_registered_panel_and_schema(spark):
    """Registered panel rule: one top-k group per usable vec_id % 50 == 0
    probe (sf0.01: probes 0,50,...,450), ≤ TOP_K rows each, exact
    (probe_id, vec_id, cos_sim) schema, fully deterministic re-run."""
    df = all_queries()["ann_batch_topk"](spark, SF_DIR)
    assert df.columns == ["probe_id", "vec_id", "cos_sim"]
    rows = df.collect()
    by_probe: dict[int, int] = {}
    for r in rows:
        by_probe[int(r["probe_id"])] = by_probe.get(int(r["probe_id"]), 0) + 1
    assert set(by_probe) == {i * 50 for i in range(10)}
    assert all(c <= 10 for c in by_probe.values())
    again = all_queries()["ann_batch_topk"](spark, SF_DIR).collect()
    key = lambda r: (int(r["probe_id"]), int(r["vec_id"]), float(r["cos_sim"]))
    assert sorted(map(key, rows)) == sorted(map(key, again))


def test_lsh_batch_topk_single_param_override_defaults_other(spark, emb, probe0):
    """ADVICE r8 #3: overriding n_tables alone must default
    planes_per_table to the registered value, not TypeError. With the
    registered (16, 4) reproduced via n_tables-only override, results
    equal the default call."""
    from data_pipelines_course_spark.operators.similarity import (
        lsh_batch_topk,
    )
    got = _batch_rows(lsh_batch_topk(emb, probe0, n_tables=16))
    want = _batch_rows(lsh_batch_topk(emb, probe0))
    assert got == want


def test_lsh_panel_recall_floor(spark, emb):
    """Multi-probe floor on the cheap path: 100-probe mean recall@10
    measured 0.881 at sf0.01 (ANN_RECALL_r08.json); floor with margin.
    Deterministic end to end (fixed hyperplanes, fixed panel)."""
    probes = ann_probe_panel(emb, 5).cache()
    gt = _collect_sets(batch_ground_truth(emb, probes))
    found = _collect_sets(batch_lsh(emb, probes))
    rep = recall_report(gt, found)
    assert rep["n_probes"] == 100
    assert rep["mean"] >= 0.85
