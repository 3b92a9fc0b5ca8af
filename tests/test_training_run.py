"""End-to-end training-data RUN through the orchestration DSL
(plans/training_run.py): real stages, storage handoff, target-gated
idempotence, chord manifest."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_pipelines_course_spark.plans.training_run import training_run

SF_DIR = "/root/testdata/sf0.001"


def test_training_run_end_to_end_and_idempotent(spark, tmp_path):
    out = str(tmp_path / "run1")
    pipe = training_run(spark, SF_DIR, out)
    results = pipe.run()
    assert all(v == "ok" for v in pipe.status.values()), pipe.status

    # monotone funnel: every stage can only shrink the doc set
    m = results["manifest"]
    assert m["curated"] >= m["deduped"] >= m["decontaminated"]
    assert m["decontaminated"] <= m["split"] + m["curated"]  # sanity
    assert m["token_ids"] > m["packed"] > 0  # ids per token vs per doc

    # splits are disjoint and decontaminated (train only)
    split = spark.read.parquet(os.path.join(out, "split"))
    assert split.filter("split not in ('train','eval')").count() == 0
    # token_ids cover exactly the train docs
    ids = spark.read.parquet(os.path.join(out, "token_ids"))
    train_docs = {r["doc_id"] for r in
                  split.filter("split = 'train'").select("doc_id")
                  .collect()}
    assert ({r["doc_id"] for r in ids.select("doc_id").distinct()
             .collect()} <= train_docs)

    # run manifest mirrors the per-stage ledgers
    with open(os.path.join(out, "run_manifest.json")) as f:
        assert json.load(f) == m

    # shard export landed: one file per (source, bin), manifest matches
    import glob
    shard_dirs = glob.glob(os.path.join(out, "shards", "source=*", "bin=*"))
    shard_manifest = json.loads(open(
        os.path.join(out, "shards", "_shards.json")).read())
    assert len(shard_dirs) == len(shard_manifest) > 0
    assert all(len(glob.glob(f"{d}/*.parquet")) == 1 for d in shard_dirs)
    assert sum(s["docs"] for s in shard_manifest.values()) == m["packed"]

    # IDEMPOTENCE: a second run must skip every targeted stage
    pipe2 = training_run(spark, SF_DIR, out)
    pipe2.run()
    gated = [n for n, s in pipe2.status.items() if s == "gated"]
    assert set(gated) >= {"curate", "dedup", "decontaminate", "split",
                          "tokenize", "pack", "shards"}, pipe2.status


def test_decontaminate_stage_matches_duckdb(spark, duck, tmp_path):
    """The decontaminate stage keeps exactly the deduped train docs that
    corpus_curation_full's oracle CTEs (g, bench, contaminated) do not
    flag, computed by DuckDB over the run's own `deduped` table."""
    from data_pipelines_course_spark.operators.dedup import (
        _DUCK_CONTAMINATED_CTES)

    out = str(tmp_path / "run")
    training_run(spark, SF_DIR, out).run()
    deduped = os.path.join(out, "deduped", "*.parquet")
    ctes = _DUCK_CONTAMINATED_CTES.replace(
        "FROM documents", f"FROM read_parquet('{deduped}')")
    train = {r[0] for r in duck.sql(
        f"SELECT doc_id FROM read_parquet('{deduped}')"
        " WHERE doc_id % 10 <> 0").fetchall()}
    contaminated = {r[0] for r in duck.sql(
        f"WITH {ctes} SELECT doc_id FROM contaminated").fetchall()}
    got = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "decontaminated")).select("doc_id").collect()}
    assert contaminated and contaminated < train
    assert got == train - contaminated
