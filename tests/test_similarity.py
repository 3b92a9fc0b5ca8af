"""ANN quality tests: every approximate path (LSH buckets, IVF cells,
k-means/SemDeDup, PQ/ADC, composed IVF-PQ) measured against the exact
brute-force ranking — the check the rows-only driver gate can't do."""

from __future__ import annotations

from pathlib import Path

import pytest

from data_pipelines_course_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.01"


def _topk_ids(spark, name):
    return [r["vec_id"] for r in all_queries()[name](spark, SF_DIR).collect()]


def test_ivf_recall_vs_brute_force(spark):
    brute = set(_topk_ids(spark, "knn_brute_force"))
    ivf = set(_topk_ids(spark, "ivf_topk"))
    assert len(ivf & brute) / len(brute) >= 0.8


def test_lsh_recall_vs_brute_force(spark):
    brute = set(_topk_ids(spark, "knn_brute_force"))
    lsh = set(_topk_ids(spark, "ann_lsh_topk"))
    # single-table LSH probes one bucket; recall floor is looser than IVF
    assert len(lsh & brute) / len(brute) >= 0.5


def test_ivf_scores_are_exact_cosines(spark):
    """IVF re-ranks with EXACT cosine — every returned score must equal
    the brute-force score for the same vec_id."""
    brute = {r["vec_id"]: r["cos_sim"]
             for r in all_queries()["knn_brute_force"](spark, SF_DIR).collect()}
    for r in all_queries()["ivf_topk"](spark, SF_DIR).collect():
        if r["vec_id"] in brute:
            assert abs(r["cos_sim"] - brute[r["vec_id"]]) < 1e-9


# ---------------------------------------------------------------------------
# Spherical k-means trainer + SemDeDup scale path (similarity.py)
# ---------------------------------------------------------------------------

def test_kmeans_objective_monotone(spark):
    """Lloyd's guarantee: the spherical objective (mean cos to assigned
    centroid, measured at each assignment step) never decreases."""
    from data_pipelines_course_spark.operators.similarity import kmeans_train

    cents, hist = kmeans_train(spark, SF_DIR)
    assert len(hist) >= 2
    assert all(b >= a - 1e-9 for a, b in zip(hist, hist[1:]))
    # centroids live on the unit sphere
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in cents)


def test_kmeans_cells_partition_corpus(spark):
    from data_pipelines_course_spark.operators.similarity import KMEANS_K

    rows = all_queries()["embedding_kmeans"](spark, SF_DIR).collect()
    assert sum(r["n_vecs"] for r in rows) == 500
    assert all(0 <= r["cell"] < KMEANS_K for r in rows)
    assert all(r["min_cos"] <= r["avg_cos"] for r in rows)


def test_semdedup_recall_vs_exact(spark):
    """Within-cell (soft top-2) candidates vs the exact O(n²) twin.
    Measured 13/20 on this isotropic corpus whose top 'pairs' sit at
    cos≈0.45-0.51 — not duplicates, the hardest case for partitioned
    search (see semdedup_candidates docstring). Floor 0.5."""
    exact_rows = all_queries()["embedding_neardup_topk"](spark, SF_DIR).collect()
    exact = {(r["id1"], r["id2"]): r["cos_sim"] for r in exact_rows}
    found_rows = all_queries()["semdedup_candidates"](spark, SF_DIR).collect()
    assert all(r["id1"] < r["id2"] for r in found_rows)
    found = {(r["id1"], r["id2"]): r["cos_sim"] for r in found_rows}
    hits = exact.keys() & found.keys()
    assert len(hits) / len(exact) >= 0.5
    # candidates are exact-cosine scored: every shared pair agrees
    for k in hits:
        assert abs(exact[k] - found[k]) < 2e-6


def test_pq_recall_vs_brute_force(spark):
    """PQ/ADC with 4-bit codes per subspace and 16x refine (r11: 8x
    widened, monotone-nondecreasing — see PQ_REFINE): measured
    recall@10 >= 0.8 on this isotropic corpus (neighbors at cos~0.5 —
    the hardest regime for any quantizer); floor at 0.6 for machine
    drift. Clustered real-embedding corpora sit far higher."""
    brute = set(_topk_ids(spark, "knn_brute_force"))
    pq = set(_topk_ids(spark, "pq_topk"))
    assert len(pq & brute) / len(brute) >= 0.6


def test_pq_scores_are_exact_cosines(spark):
    """PQ re-ranks with EXACT cosine — ADC only picks candidates, so
    every returned score must match brute force for the same vec_id."""
    brute = {r["vec_id"]: r["cos_sim"]
             for r in all_queries()["knn_brute_force"](spark, SF_DIR).collect()}
    for r in all_queries()["pq_topk"](spark, SF_DIR).collect():
        if r["vec_id"] in brute:
            assert abs(r["cos_sim"] - brute[r["vec_id"]]) < 1e-9


def test_ivf_cells_as_partition_column_prune_probe_reads(spark, tmp_path):
    """Substantiates ivf_topk's scale claim ('the cell id is a
    write-time partition column; a probe reads IVF_NPROBE partitions'):
    write embeddings partitioned by their IVF cell, probe with a cell
    filter, and assert (a) partition filters fire in the plan and
    (b) the scan touches only the probed cells' files."""
    from pyspark.sql import functions as F
    from data_pipelines_course_spark import datasets
    from data_pipelines_course_spark.operators import similarity as sim
    from data_pipelines_course_spark.plans import analysis as pa

    emb = datasets.load(spark, SF_DIR, "embeddings")
    cent_rows = (emb.filter(F.col("vec_id") < sim.IVF_K)
                 .select("vec_id", "embedding").collect())
    cents = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in cent_rows}
    scores = F.array(*[
        F.struct(sim.cosine("embedding", sim._arr_sql(cents[c])).alias("s"),
                 F.lit(c).alias("c")) for c in sorted(cents)])
    best = F.element_at(F.sort_array(scores, asc=False), 1)["c"]
    path = str(tmp_path / "ivf_layout")
    (emb.withColumn("cell", best)
     .write.partitionBy("cell").parquet(path))

    probe_cells = [0, 3, 7, 11]
    probed = (spark.read.parquet(path)
              .filter(F.col("cell").isin(probe_cells)))
    # PartitionFilters on the scan = static partition pruning fires
    # (the same proof shape as test_partition_pruning_fires; a file-level
    # count isn't plan-visible pre-execution — inputFiles() lists the
    # unpruned relation).
    parts = pa.partition_filters(probed)
    assert any("cell" in p for p in parts), parts
    # and the probed read is row-identical to the unpartitioned filter
    n_src = (emb.withColumn("cell", best)
             .filter(F.col("cell").isin(probe_cells)).count())
    assert probed.count() == n_src


def test_ivf_pq_recall_and_exact_rerank(spark):
    """The composed IVF-PQ path: measured recall@10 = 1.0 on this
    corpus (floor 0.6 — bounded above by the IVF routing recall), and
    every returned score must be the exact brute-force cosine."""
    brute = {r["vec_id"]: r["cos_sim"]
             for r in all_queries()["knn_brute_force"](spark, SF_DIR).collect()}
    got = all_queries()["ivf_pq_topk"](spark, SF_DIR).collect()
    assert len(set(r["vec_id"] for r in got) & set(brute)) / len(brute) >= 0.6
    for r in got:
        if r["vec_id"] in brute:
            assert abs(r["cos_sim"] - brute[r["vec_id"]]) < 1e-9


def test_py_cos_zero_norm_sorts_below_every_real_centroid():
    """ADVICE r10/r11: a trained centroid CAN be the exact zero vector
    when a cell's member mean cancels (adversarial v/-v corpora — _unit
    returns zero vectors unchanged). The original fix returned 0.0,
    which still let the direction-less centroid outrank a NEGATIVELY
    correlated real cell and consume an IVF_NPROBE slot (ADVICE r11);
    -inf ranks it below every real centroid, matching the column-side
    NULL-last semantics (NULL sorts below -1 under the desc sort)."""
    from data_pipelines_course_spark.operators.similarity import _py_cos

    assert _py_cos([1.0, 0.0], [0.0, 0.0]) == float("-inf")
    assert _py_cos([0.0, 0.0], [1.0, 0.0]) == float("-inf")
    assert _py_cos([0.0, 0.0], [0.0, 0.0]) == float("-inf")
    # real vectors unaffected
    assert abs(_py_cos([1.0, 0.0], [1.0, 0.0]) - 1.0) < 1e-12
    assert abs(_py_cos([1.0, 0.0], [0.0, 1.0])) < 1e-12
    # routing sort order: zero-norm centroid loses to any positive-cos one
    cents = [[0.0, 0.0], [0.6, 0.8]]
    ranked = sorted(range(2), key=lambda c: -_py_cos([1.0, 0.0], cents[c]))
    assert ranked[0] == 1
    # ...and to a NEGATIVELY-correlated real one (the r11 finding: 0.0
    # put the zero centroid ahead of cos=-0.8 and stole its nprobe slot)
    cents = [[0.0, 0.0], [-0.6, -0.8]]
    ranked = sorted(range(2), key=lambda c: -_py_cos([1.0, 0.0], cents[c]))
    assert ranked[0] == 1


# ---------------------------------------------------------------------------
# ivf_route: the routing rule every IVF path and the referee share
# ---------------------------------------------------------------------------

def test_ivf_route_ties_go_to_the_lower_cell():
    from data_pipelines_course_spark.operators.similarity import ivf_route

    cents = {3: [1.0, 0.0], 1: [2.0, 0.0], 2: [0.0, 1.0]}
    assert ivf_route([1.0, 0.0], cents, nprobe=1) == [1]
    assert ivf_route([1.0, 0.0], cents, nprobe=2) == [1, 3]


def test_ivf_route_zero_centroid_ranks_below_negative_cosine():
    from data_pipelines_course_spark.operators.similarity import ivf_route

    cents = {0: [0.0, 0.0], 1: [-0.6, -0.8], 2: [0.6, 0.8]}
    assert ivf_route([1.0, 0.0], cents, nprobe=3) == [2, 1, 0]
    assert ivf_route([1.0, 0.0], cents, nprobe=2) == [2, 1]


def test_ivf_route_nprobe_at_least_k_returns_every_cell():
    from data_pipelines_course_spark.operators.similarity import ivf_route

    cents = {i: [float(i), 1.0] for i in range(5)}
    for nprobe in (5, 6, 100):
        got = ivf_route([1.0, 0.0], cents, nprobe=nprobe)
        assert sorted(got) == list(range(5))


def test_ivf_route_returns_the_dict_keys():
    """The untrained quantizer keys cells by vec_id, which need not be
    0..K-1: the route names those ids, not positions."""
    from data_pipelines_course_spark.operators.similarity import ivf_route

    cents = {7: [0.0, 1.0], 12: [1.0, 0.0], 40: [1.0, 1.0]}
    assert ivf_route([1.0, 0.1], cents, nprobe=2) == [12, 40]
    assert ivf_route([1.0, 0.1], cents, nprobe=3) == [12, 40, 7]


# ---------------------------------------------------------------------------
# knn_brute_force: the probe is computed inside the plan
# ---------------------------------------------------------------------------

def test_knn_brute_force_builds_without_jobs_and_matches_oracle(spark, duck):
    from data_pipelines_course_spark.queries import all_oracles

    from .conftest import assert_frames_match, count_jobs

    knn = all_queries()["knn_brute_force"]
    knn(spark, SF_DIR)  # first load of the file infers its schema
    df, jobs = count_jobs(spark, lambda: knn(spark, SF_DIR))
    assert jobs == 0
    assert_frames_match(df, duck.sql(all_oracles()["knn_brute_force"]),
                        "knn_brute_force")


def test_knn_brute_force_absent_probe_returns_no_rows(spark, tmp_path):
    from pyspark.sql import functions as F
    from data_pipelines_course_spark import datasets
    from data_pipelines_course_spark.operators.similarity import QUERY_VEC_ID

    src = str(tmp_path / "sfNOPROBE")
    (datasets.load(spark, SF_DIR, "embeddings")
     .filter(F.col("vec_id") != QUERY_VEC_ID)
     .write.parquet(f"{src}/embeddings.parquet"))
    df = all_queries()["knn_brute_force"](spark, src)
    assert df.dtypes == [("vec_id", "bigint"), ("label", "int"),
                         ("cos_sim", "double")]
    assert df.collect() == []


# ---------------------------------------------------------------------------
# lsh_batch_topk over a prebuilt index: overrides must match its parameters
# ---------------------------------------------------------------------------

def _probe0(spark):
    from pyspark.sql import functions as F
    from data_pipelines_course_spark.operators import similarity as sim

    return (sim._bucket_index(spark, SF_DIR)
            .filter(F.col("vec_id") == sim.QUERY_VEC_ID)
            .select(F.col("vec_id").alias("probe_id"),
                    F.col("embedding").alias("pv")))


def test_lsh_batch_topk_accepts_overrides_equal_to_prebuilt_index(spark):
    from data_pipelines_course_spark.operators import similarity as sim

    idx = sim._bucket_index(spark, SF_DIR)
    emb = idx.drop("buckets")
    probes = _probe0(spark)
    want = sorted(sim.lsh_batch_topk(emb, probes, emb_b=idx).collect())
    got = sorted(sim.lsh_batch_topk(
        emb, probes, n_tables=sim.N_TABLES,
        planes_per_table=sim.PLANES_PER_TABLE, emb_b=idx).collect())
    assert got == want and len(got) == sim.TOP_K


def test_lsh_batch_topk_rejects_overrides_differing_from_prebuilt_index(spark):
    from data_pipelines_course_spark.operators import similarity as sim

    idx = sim._bucket_index(spark, SF_DIR)
    emb, probes = idx.drop("buckets"), _probe0(spark)
    with pytest.raises(ValueError, match="would be ignored"):
        sim.lsh_batch_topk(emb, probes, n_tables=8, emb_b=idx)
    with pytest.raises(ValueError, match="would be ignored"):
        sim.lsh_batch_topk(emb, probes, planes_per_table=6, emb_b=idx)
    # An index built with other parameters states them in its metadata.
    other = emb.withColumn("buckets", sim.lsh_buckets(8, 6))
    assert sim._lsh_params(other) == (8, 6)
    sim.lsh_batch_topk(emb, probes, n_tables=8, planes_per_table=6,
                       emb_b=other)
    with pytest.raises(ValueError, match="would be ignored"):
        sim.lsh_batch_topk(emb, probes, emb_b=other, n_tables=16)


# ---------------------------------------------------------------------------
# Each vector-search step has one definition (engine and referee)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("literal, copies", [
    ("-_py_cos(", 1),                              # IVF routing order
    ('orderBy(F.desc("cos_sim"), "vec_id")', 1),   # single-probe top-k
    ("== QUERY_VEC_ID).head()", 1),                # probe fetch
    ("(x, y) -> cast(x as double) *", 1),          # the dot product
    ("def _ivf_cents", 0),                         # engine ivf_centroids
    ("def _ivf_best_cell", 0),                     # engine ivf_cell
])
def test_each_vector_search_step_is_defined_once(literal, copies):
    """The registered vector queries and ann_recall_referee.py share one
    definition of each search step, so recall is measured on the
    engine's own probe, routing, scoring and re-rank rules."""
    root = Path(__file__).resolve().parent.parent
    files = [*(root / "data_pipelines_course_spark").rglob("*.py"),
             root / "ann_recall_referee.py"]
    found = {str(p.relative_to(root)): p.read_text().count(literal)
             for p in files}
    assert sum(found.values()) == copies, {
        k: n for k, n in found.items() if n}
