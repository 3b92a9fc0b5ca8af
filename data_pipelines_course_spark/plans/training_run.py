"""The capstone composition: a full training-data RUN wired through the
orchestration DSL — quality gate → exact dedup → benchmark
decontamination → stable split → tokenize-to-ids + sequence packing,
every stage landing as a ledgered parquet table with a `_SUCCESS`-gated
target, so a re-run skips completed stages (luigi semantics) and a
failed run resumes where it stopped.

This is the reference's pipeline story (luigi targets, airflow DAGs)
executed over THIS engine's operators: stages hand data to each other
through STORAGE (each reads its upstream's parquet), which is what makes
the target-gating meaningful — a stage is complete iff its table landed.
The tokenize/pack stages fan out from the split (C2), pack feeds the
shard EXPORT (one parquet file per (source, bin) shard + loader
manifest, sinks.writers.write_training_shards), and the final manifest
is a chord (C3) over the tokenize and shards branches.

At 100 TB: stage boundaries are where you want them — each stage is one
Catalyst plan whose output is a real table (restartability, audit,
debugging); fusing everything into one lazy plan (corpus_curation_full's
design) wins when you want a single pass and no intermediates. The
engine offers both; this module is the multi-stage variant.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import SparkSession, functions as F

from ..datasets import load
from .pipeline import Pipeline, Stage

SEQ_LEN = 512


def _stage_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, name)


def training_run(spark: SparkSession, sf_dir: str,
                 out_dir: str) -> Pipeline:
    """Build (not run) the pipeline; `pipeline.run()` executes it.
    Every stage fn reads its upstream from storage and lands a ledgered
    table, so stages are individually idempotent and restartable."""
    from ..operators.quality import gopher_quality_flags  # registry fns
    from ..sinks.writers import ledgered_write

    def curate(ctx: dict[str, Any]):
        docs = load(spark, sf_dir, "documents")
        keep = (gopher_quality_flags(spark, sf_dir)
                .filter(F.col("keep")).select("doc_id"))
        curated = docs.join(keep, "doc_id")  # doc_id-keyed semi shape
        return ledgered_write(curated, _stage_path(out_dir, "curated"))

    def dedup(ctx: dict[str, Any]):
        from pyspark.sql import Window

        curated = spark.read.parquet(_stage_path(out_dir, "curated"))
        keep_first = (curated
                      .withColumn("_h", F.md5("text"))
                      .withColumn("_rn", F.row_number().over(
                          Window.partitionBy("_h").orderBy("doc_id")))
                      .filter(F.col("_rn") == 1).drop("_h", "_rn"))
        return ledgered_write(keep_first, _stage_path(out_dir, "deduped"))

    def decontaminate(ctx: dict[str, Any]):
        from ..operators.dedup import contaminated_ids, gram_hashes

        deduped = spark.read.parquet(_stage_path(out_dir, "deduped"))
        # benchmark set: the deterministic holdout (doc_id % 10 == 0),
        # same convention and same digests as corpus_curation_full
        clean = (deduped.filter(F.col("doc_id") % 10 != 0)
                 .join(contaminated_ids(gram_hashes(deduped)), "doc_id",
                       "left_anti"))
        return ledgered_write(clean, _stage_path(out_dir, "decontaminated"))

    def split(ctx: dict[str, Any]):
        from ..operators.sampling import train_eval_split

        clean = spark.read.parquet(_stage_path(out_dir, "decontaminated"))
        return ledgered_write(train_eval_split(clean, "doc_id"),
                              _stage_path(out_dir, "split"))

    def tokenize(ctx: dict[str, Any]):
        from pyspark.sql import Window

        train = (spark.read.parquet(_stage_path(out_dir, "split"))
                 .filter(F.col("split") == "train"))
        toks = train.select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+"))
            .alias("pos", "token"))
        vocab = (toks.groupBy("token")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .withColumn("token_id",
                             F.row_number().over(
                                 Window.orderBy(F.desc("n"), "token"))
                             .cast("bigint"))
                 .select("token", "token_id"))
        ids = (toks.join(vocab, "token")
               .select("doc_id", F.col("pos").cast("bigint").alias("pos"),
                       "token_id"))
        return ledgered_write(ids, _stage_path(out_dir, "token_ids"))

    def pack(ctx: dict[str, Any]):
        from pyspark.sql import Window

        train = (spark.read.parquet(_stage_path(out_dir, "split"))
                 .filter(F.col("split") == "train"))
        counts = train.select(
            "doc_id", "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("bigint").alias("n_tokens"))
        w = (Window.partitionBy("source").orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, 0))
        binned = counts.withColumn(
            "bin",
            F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                    / F.lit(SEQ_LEN)).cast("bigint"))
        return ledgered_write(binned, _stage_path(out_dir, "packed"))

    def shards(ctx: dict[str, Any]):
        """Export: one parquet file per (source, bin) shard + manifest —
        what the data loader consumes (sinks.writers.write_training_shards)."""
        from ..sinks.writers import write_training_shards

        packed = spark.read.parquet(_stage_path(out_dir, "packed"))
        return write_training_shards(
            packed.select("doc_id", "source", "n_tokens", "bin"),
            _stage_path(out_dir, "shards"))

    def manifest(ctx: dict[str, Any]):
        """Chord over tokenize+pack: one run-level summary manifest.
        Ledger reads/writes go through the same Hadoop FS API as
        ledgered_write — plain local open() breaks on any non-local
        filesystem."""
        from ..sinks.writers import read_small_file, write_small_file

        stages = ["curated", "deduped", "decontaminated", "split",
                  "token_ids", "packed"]
        summary = {}
        for s in stages:
            ledger = os.path.join(_stage_path(out_dir, s), "_ledger.json")
            summary[s] = json.loads(
                read_small_file(spark, ledger).decode())["rows"]
        write_small_file(spark, os.path.join(out_dir, "run_manifest.json"),
                         json.dumps(summary, indent=1).encode())
        return summary

    return Pipeline(
        Stage("curate", curate, target=_stage_path(out_dir, "curated")),
        Stage("dedup", dedup, requires=("curate",),
              target=_stage_path(out_dir, "deduped")),
        Stage("decontaminate", decontaminate, requires=("dedup",),
              target=_stage_path(out_dir, "decontaminated")),
        Stage("split", split, requires=("decontaminate",),
              target=_stage_path(out_dir, "split")),
        Stage("tokenize", tokenize, requires=("split",),
              target=_stage_path(out_dir, "token_ids")),
        Stage("pack", pack, requires=("split",),
              target=_stage_path(out_dir, "packed")),
        Stage("shards", shards, requires=("pack",),
              target=_stage_path(out_dir, "shards")),
        Stage("manifest", manifest, requires=("tokenize", "shards")),
    )
