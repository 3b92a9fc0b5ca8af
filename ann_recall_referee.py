"""Multi-probe ANN recall referee.

The ANN family's recall is measured in tests/test_similarity.py — but
only at sf0.01 (500 vectors) and only for the ONE registered probe
(QUERY_VEC_ID=0). That is a sample of size 10 on the smallest tier: the
index structures the 100 TB story rests on (16x4 LSH tables, IVF_K=16
cells, 8x16 PQ codebooks) are never recall-measured where they are
dense. This referee closes that gap the same way recall_referee.py
closed the LSH-dedup gap: a deterministic probe panel, an exact batch
ground truth, and the REGISTERED index parameters.

Method, per tier:

1. Probe panel: vec_id % mod == 0, usable as a direction (positive
   finite norm — the registered `_usable_probe` rule), ~100 probes.
   Deterministic: no sampling randomness, pinned by construction.
2. Exact GT: batch brute force — corpus x broadcast(probes), the same
   scoring expression as the registered `knn_brute_force` (sequential
   double dot, fround 1e-6, ties by vec_id), row_number <= TOP_K per
   probe. Probe 0's GT slice is pinned EQUAL to the registered
   single-probe query by tests/test_ann_recall_referee.py.
3. Each ANN path re-expressed in BATCH form over the identical index,
   calling the engine's own steps:
   - LSH: the registered `lsh_batch_topk` (`ann_batch_topk`'s body);
     candidates by (table, bucket) equi-join instead of a per-probe OR
     filter.
   - IVF: the engine's `ivf_centroids` / `ivf_cell` quantizer (or the
     trained `kmeans_train` / `_best_cell` one) and `ivf_route`
     routing; candidates by cell equi-join.
   - PQ / IVF-PQ: the same `_pq_codebooks` training, `_pq_encode_sql`
     codes and `adc_luts` tables; per-probe LUTs ride the broadcast
     probe frame as a flat array column, ADC = PQ_M element_at adds,
     re-scored with the engine's `rounded_cos`.
   Probe 0's batch top-k is pinned EQUAL to each registered
   single-probe query, so the batch referee provably measures the
   registered index, not a lookalike.

Recall@K = |batch_topk(path) ∩ batch_topk(GT)| / K per probe, reported
as mean/min/share>=0.8 plus candidate selectivity (fraction of the
corpus each path touches — the routing-efficiency half of the story).

The batch form is itself the 100 TB serving shape: probes are a
KB-sized broadcast, candidates come from equi-joins on precomputed
index columns (bucket/cell/codes are write-time columns at scale), and
ranking is one window per probe — no driver loop over probes.

Usage:
    python ann_recall_referee.py                          # sf0.1
    python ann_recall_referee.py --sf-dir=/tmp/spark_graft_sf1 --mod=200
    python ann_recall_referee.py --nprobe-sweep           # IVF knob map
    python ann_recall_referee.py --lsh-sweep              # (L, p) map
    python ann_recall_referee.py --refine-sweep           # PQ window cost
Prints one JSON line per invocation (artifacts: ANN_RECALL_r*.json).
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipelines_course_spark.datasets import load
from data_pipelines_course_spark.operators.similarity import (
    IVF_K, IVF_NPROBE, N_TABLES, PLANES_PER_TABLE, PQ_KSUB, PQ_M,
    PQ_REFINE, TOP_K,
    _best_cell, _normalized, _pq_codebooks, _pq_encode_sql,
    _pq_residual_codebooks, _residual_sql, adc_luts,
    ann_probe_panel, batch_ranked_topk, batch_score, dot, ivf_cell,
    ivf_centroids, ivf_route, kmeans_train, lsh_batch_topk,
    lsh_bucket_cols, norm, rounded_cos,
)


def batch_lsh(emb: DataFrame, probes: DataFrame,
              n_tables: int | None = None,
              planes: int | None = None) -> DataFrame:
    """The registered `ann_batch_topk` body (`lsh_batch_topk`), with the
    referee's historical (n_tables, planes) arg names for the sweep."""
    return lsh_batch_topk(emb, probes, n_tables=n_tables,
                          planes_per_table=planes)


def batch_ground_truth(emb: DataFrame, probes: DataFrame) -> DataFrame:
    """Exact top-K per probe — knn_brute_force semantics in batch form
    (self excluded, zero-norm candidates excluded)."""
    pairs = (emb.filter(norm("embedding") > 0)
             .crossJoin(F.broadcast(probes))
             .filter(F.col("vec_id") != F.col("probe_id")))
    return batch_ranked_topk(batch_score(pairs))


def _routes(spark: SparkSession, probes: DataFrame,
            cents: dict[int, list[float]],
            nprobe: int = IVF_NPROBE) -> DataFrame:
    """(probe_id, _cell): each panel probe's `ivf_route` cells, as a
    frame to broadcast-join against the cell column."""
    routes = [(int(r["probe_id"]), c) for r in probes.collect()
              for c in ivf_route([float(x) for x in r["pv"]], cents, nprobe)]
    return spark.createDataFrame(routes, "probe_id bigint, _cell int")


def batch_ivf(spark: SparkSession, emb: DataFrame,
              probes: DataFrame, nprobe: int = IVF_NPROBE) -> DataFrame:
    """ivf_topk in batch form: same quantizer, same `ivf_route` routing;
    per-probe cell lists become a broadcast (probe_id, cell) frame.
    `nprobe` defaults to the registered IVF_NPROBE; the sweep mode
    varies it to map the recall-vs-touched-fraction curve (nprobe=K
    must reproduce brute force exactly — a built-in sanity check)."""
    cents = ivf_centroids(emb)
    cands = (emb.withColumn("_cell", ivf_cell(cents).cast("int"))
             .join(F.broadcast(_routes(spark, probes, cents, nprobe)),
                   "_cell")
             .join(F.broadcast(probes), "probe_id")
             .filter((F.col("vec_id") != F.col("probe_id"))
                     & (norm("embedding") > 0)))
    return batch_ranked_topk(batch_score(cands))


def batch_ivf_kmeans(spark: SparkSession, emb: DataFrame,
                     probes: DataFrame, sf_dir: str) -> DataFrame:
    """The trained-router IVF twin: identical plan shape to batch_ivf,
    but the coarse quantizer is the registered `kmeans_train` output
    instead of the first-IVF_K-vectors stand-in. It is the batch twin
    of the registered `ivf_kmeans_topk` (its probe-0 slice is pinned
    equal in tests/test_ann_recall_referee.py); it measures how much
    routing recall the trained centroids buy at the same nprobe/K."""
    cents, _ = kmeans_train(spark, sf_dir)
    if not cents:
        return spark.createDataFrame([], "probe_id bigint, vec_id bigint,"
                                         " cos_sim double")
    cands = (_normalized(emb)
             .withColumn("_cell", _best_cell(cents)["c"].cast("int"))
             .join(F.broadcast(_routes(spark, probes, dict(enumerate(cents)))),
                   "_cell")
             .join(F.broadcast(probes), "probe_id")
             .filter(F.col("vec_id") != F.col("probe_id")))
    return batch_ranked_topk(batch_score(cands))


def _probe_luts(spark: SparkSession, emb: DataFrame, probes: DataFrame,
                books: list[list[list[float]]],
                cents: list[list[float]] | None = None) -> DataFrame:
    """(probe_id, nvp, lut[, cdots]): unit probe vector + flat ADC
    lookup table lut[m*PQ_KSUB + j] = q_m . c_mj — the registered
    per-probe LUT, one row per probe instead of one literal per query.
    With `cents` (the IVFADC path): cdots[c] = q . cents[c], the exact
    inner-product decomposition's per-cell term (the registered query's
    `cell_dots` literal, one array column per probe)."""
    rows = []
    for r in (_normalized(emb.join(F.broadcast(probes),
                                   emb.vec_id == probes.probe_id))
              .select("probe_id", "nv").collect()):
        nvp = [float(x) for x in r["nv"]]
        lut = [v for sub_lut in adc_luts(nvp, books) for v in sub_lut]
        row = [int(r["probe_id"]), nvp, lut]
        if cents is not None:
            row.append([sum(a * b for a, b in zip(nvp, c)) for c in cents])
        rows.append(tuple(row))
    schema = "probe_id bigint, nvp array<double>, lut array<double>"
    if cents is not None:
        schema += ", cdots array<double>"
    return spark.createDataFrame(rows, schema)


_ADC_SQL = " + ".join(
    f"element_at(lut, {m * PQ_KSUB} + element_at(codes, {m + 1}) + 1)"
    for m in range(PQ_M))


def batch_pq(spark: SparkSession, emb: DataFrame, probes: DataFrame,
             sf_dir: str, ivf_route: bool = False,
             residual: bool = False,
             refine: int = PQ_REFINE) -> DataFrame:
    """pq_topk (ivf_route=False) / ivf_pq_topk (True) in batch form:
    same `_pq_codebooks` training, same `_pq_encode_sql` codes; the ADC
    LUT is a column on the broadcast probe frame. Probe-0 parity pinned
    in tests/test_ann_recall_referee.py.

    residual=True (requires ivf_route): the MEASURED-AND-REJECTED IVFADC
    variant (see ivf_pq_topk's docstring) — codes quantize the residual
    nv − cents[_cell] (`_pq_residual_codebooks`), the LUT is over
    residual codebooks, and the exact inner-product decomposition's
    per-cell term q·cents[_cell] rides the probe frame as `cdots`. Kept
    as a referee-only panel so every artifact re-measures the negative
    result against the shipped raw path."""
    if residual and not ivf_route:
        # Without the guard, residual=True would silently run the raw
        # flat-PQ path and mislabel the panel.
        raise ValueError("residual=True requires ivf_route=True "
                         "(IVFADC quantizes cell residuals)")
    empty = "probe_id bigint, vec_id bigint, cos_sim double"
    if ivf_route:
        # Trained router: same kmeans_train centroids + _best_cell
        # assignment as the registered ivf_pq_topk / ivf_kmeans_topk.
        if residual:
            books, _, cents = _pq_residual_codebooks(spark, sf_dir)
        else:
            books, _ = _pq_codebooks(spark, sf_dir)
            cents, _ = kmeans_train(spark, sf_dir)
        if books is None or not cents:
            return spark.createDataFrame([], empty)
        dsub = len(books[0][0])
        # _cell, rv and codes depend ONLY on the corpus row, so they are
        # computed BEFORE the routes join: computed after it, Spark
        # evaluates the argmin-over-codebooks encode expression once per
        # (row x routed probe) instead of once per row — Catalyst does
        # not push computed projections below a join — which made the
        # sf1 panel 8.2x slower.
        coded = (_normalized(emb)
                 .withColumn("_cell", _best_cell(cents)["c"].cast("int")))
        if residual:
            coded = (coded
                     .withColumn("rv", F.expr(_residual_sql(cents)))
                     .withColumn("codes", F.expr(
                         _pq_encode_sql(books, dsub, vec="rv"))))
            adc_sql = "element_at(cdots, _cell + 1) + " + _ADC_SQL
        else:
            coded = coded.withColumn(
                "codes", F.expr(_pq_encode_sql(books, dsub)))
            adc_sql = _ADC_SQL
        coded = coded.join(
            F.broadcast(_routes(spark, probes, dict(enumerate(cents)))),
            "_cell")
        pairs = coded.join(
            F.broadcast(_probe_luts(spark, emb, probes, books,
                                    cents=cents if residual else None)),
            "probe_id")
    else:
        books, _ = _pq_codebooks(spark, sf_dir)
        if books is None:
            return spark.createDataFrame([], empty)
        dsub = len(books[0][0])
        coded = (_normalized(emb)
                 .withColumn("codes", F.expr(_pq_encode_sql(books, dsub))))
        pairs = coded.crossJoin(
            F.broadcast(_probe_luts(spark, emb, probes, books)))
        adc_sql = _ADC_SQL
    pairs = pairs.filter(F.col("vec_id") != F.col("probe_id"))
    adc_ranked = batch_ranked_topk(
        pairs.select("probe_id", "vec_id", "nv", "nvp",
                     F.expr(adc_sql).alias("adc_score")),
        refine * TOP_K, score="adc_score")
    return batch_ranked_topk(adc_ranked.select(
        "probe_id", "vec_id", rounded_cos(dot("nv", "nvp"))))


# -------------------------------------------------------------------------
# Scoring.
# -------------------------------------------------------------------------

def _collect_sets(df: DataFrame) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.select("probe_id", "vec_id").collect():
        out.setdefault(int(r["probe_id"]), set()).add(int(r["vec_id"]))
    return out


def recall_report(gt: dict[int, set[int]],
                  found: dict[int, set[int]]) -> dict:
    per = []
    for pid, truth in gt.items():
        if not truth:
            continue
        hit = len(found.get(pid, set()) & truth)
        per.append(hit / len(truth))
    per.sort()
    n = len(per)
    return {
        "n_probes": n,
        "mean": round(sum(per) / n, 4) if n else None,
        "min": round(per[0], 4) if n else None,
        "p10": round(per[max(0, n // 10 - 1)], 4) if n else None,
        "share_ge_0.8": round(sum(1 for r in per if r >= 0.8) / n, 4)
        if n else None,
    }


def _panel(spark: SparkSession, sf_dir: str, mod: int):
    """(emb, probes, gt, head): the cached corpus and probe panel, the
    exact ground truth, and the fields every artifact starts with."""
    emb = load(spark, sf_dir, "embeddings").cache()
    probes = ann_probe_panel(emb, mod).cache()
    head = {"sf_dir": sf_dir, "n_corpus": emb.count(), "mod": mod,
            "n_probes": probes.count(), "top_k": TOP_K}
    t0 = time.time()
    gt = _collect_sets(batch_ground_truth(emb, probes))
    head["gt_sec"] = round(time.time() - t0, 1)
    return emb, probes, gt, head


def _measure(gt: dict[int, set[int]], fn) -> dict:
    """recall_report of one batch path against gt, plus its seconds."""
    t0 = time.time()
    rep = recall_report(gt, _collect_sets(fn()))
    rep["sec"] = round(time.time() - t0, 1)
    return rep


def _lsh_cand_frac(emb: DataFrame, probes: DataFrame, head: dict,
                   n_tables: int = N_TABLES,
                   planes: int = PLANES_PER_TABLE) -> float:
    """Candidates the LSH path touches per probe, as a fraction of the
    corpus (the efficiency half of recall). Zero-norm vectors are
    excluded BEFORE the bucket explode, as the serving path does."""
    emb_b = (emb.filter(norm("embedding") > 0)
             .withColumn("buckets", F.array(*lsh_bucket_cols(n_tables,
                                                             planes))))
    probe_b = (emb_b.join(F.broadcast(probes),
                          emb_b.vec_id == probes.probe_id)
               .select("probe_id",
                       F.posexplode("buckets").alias("t", "qb")))
    corp_b = emb_b.select("vec_id", F.posexplode("buckets").alias("t", "b"))
    n_cand = (corp_b.join(F.broadcast(probe_b),
                          (corp_b.t == probe_b.t) & (corp_b.b == F.col("qb")))
              .select("probe_id", "vec_id").distinct().count())
    return round(n_cand / (head["n_probes"] * head["n_corpus"]), 4)


def run(spark: SparkSession, sf_dir: str, mod: int) -> dict:
    emb, probes, gt, head = _panel(spark, sf_dir, mod)
    runners = {
        "ann_lsh_topk": lambda: batch_lsh(emb, probes),
        "ivf_topk": lambda: batch_ivf(spark, emb, probes),
        "pq_topk": lambda: batch_pq(spark, emb, probes, sf_dir),
        "ivf_pq_topk": lambda: batch_pq(spark, emb, probes, sf_dir,
                                        ivf_route=True),
        # referee-only: the rejected IVFADC residual variant, re-measured
        # every run against the shipped raw path (see batch_pq)
        "ivf_pq_residual": lambda: batch_pq(spark, emb, probes, sf_dir,
                                            ivf_route=True, residual=True),
        "ivf_kmeans_topk": lambda: batch_ivf_kmeans(
            spark, emb, probes, sf_dir),
    }
    paths = {name: _measure(gt, fn) for name, fn in runners.items()}
    paths["ann_lsh_topk"]["cand_frac"] = _lsh_cand_frac(emb, probes, head)
    paths["pq_topk"]["cand_frac"] = 1.0  # ADC scans all codes
    for name in ("ivf_topk", "ivf_pq_topk", "ivf_pq_residual",
                 "ivf_kmeans_topk"):
        paths[name]["cand_frac"] = round(IVF_NPROBE / IVF_K, 4)
    return {**head, "paths": paths}


def run_nprobe_sweep(spark: SparkSession, sf_dir: str, mod: int) -> dict:
    """Recall-vs-nprobe curve for the registered IVF router: how much
    recall each additional touched cell buys. nprobe=IVF_K routes to
    every cell, so its recall MUST be 1.0 (brute force through the IVF
    plan) — the sweep's self-check."""
    emb, probes, gt, head = _panel(spark, sf_dir, mod)
    points = {}
    for nprobe in (2, 4, 8, IVF_K):
        rep = _measure(gt, lambda: batch_ivf(spark, emb, probes,
                                             nprobe=nprobe))
        rep["cand_frac"] = round(nprobe / IVF_K, 4)
        points[str(nprobe)] = rep
    return {"sweep": "ivf_nprobe", **head, "ivf_k": IVF_K, "points": points}


def run_refine_sweep(spark: SparkSession, sf_dir: str, mod: int) -> dict:
    """Recall-vs-cost curve for the PQ refine window. For refine in
    {8, 16, 32}, run the ivf_pq batch panel with that ADC candidate
    window and report recall + seconds. The window is provably
    monotone-nondecreasing in recall (a superset of ADC candidates
    exact-reranked), so the curve's only open question is the COST
    slope per tier."""
    emb, probes, gt, head = _panel(spark, sf_dir, mod)
    points = {str(refine): _measure(gt, lambda: batch_pq(
        spark, emb, probes, sf_dir, ivf_route=True, refine=refine))
        for refine in (8, 16, 32)}
    return {"sweep": "pq_refine", **head, "registered": PQ_REFINE,
            "points": points}


def run_lsh_param_sweep(spark: SparkSession, sf_dir: str,
                        mod: int) -> dict:
    """Recall-vs-touch curve for the LSH family across (L tables,
    p planes) — the retuning map for when the corpus regime changes
    (more planes sharpen buckets for strong-similarity corpora; more
    tables buy back recall). (16, 4) is the registered configuration
    and must reproduce the main run's numbers exactly."""
    emb, probes, gt, head = _panel(spark, sf_dir, mod)
    points = {}
    for L, p in ((16, 2), (16, 4), (8, 6), (16, 6), (32, 6), (16, 8)):
        rep = _measure(gt, lambda: batch_lsh(emb, probes, n_tables=L,
                                             planes=p))
        rep["cand_frac"] = _lsh_cand_frac(emb, probes, head, L, p)
        points[f"{L}x{p}"] = rep
    return {"sweep": "lsh_params", **head,
            "registered": [N_TABLES, PLANES_PER_TABLE], "points": points}


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    mod = 20
    sweep = "--nprobe-sweep" in sys.argv
    lsh_sweep = "--lsh-sweep" in sys.argv
    refine_sweep = "--refine-sweep" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--mod="):
            mod = int(a.split("=", 1)[1])
    from data_pipelines_course_spark.session import get_spark

    spark = get_spark()
    fn = (run_nprobe_sweep if sweep
          else run_lsh_param_sweep if lsh_sweep
          else run_refine_sweep if refine_sweep else run)
    print(json.dumps(fn(spark, sf_dir, mod)))


if __name__ == "__main__":
    main()
