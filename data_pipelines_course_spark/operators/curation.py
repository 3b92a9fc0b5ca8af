"""End-to-end corpus curation — the composed training-data pipeline.

The reference's multi-stage pipelines materialize every edge (CSV →
SQLite → report, airflow/dags/twitter_airflow.py:101-141; file targets
between every Luigi task, luigi/taxi_data_import.py:37-57) because each
runtime executes one stage at a time. The engine's design (SURVEY §3.2)
collapses such chains into ONE lazy DataFrame plan, so Catalyst sees —
and optimizes across — the whole pipeline: the quality filter prunes the
scan, the dedup agg and the split expression run in the same job, and
nothing touches disk between stages.

`corpus_curation` is that story for the LLM-data surface: quality-filter
→ exact-dedup (canonical representative per content hash) → stable
train/eval split, one Catalyst plan, fully DuckDB-oracle-checked.
`lang_token_stats` is the corpus-report companion (per-language doc/token
tallies — the numbers a data-mix design starts from).

Scale: the curation plan is scan → filter (codegen) → one hash-shuffle on
md5(text) → split expression. The only exchange is the dedup groupBy;
at 100 TB that is the unavoidable content-hash shuffle, and AQE handles
hot fingerprints (mass-duplicated boilerplate) via skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datasets import load, widen_scan
from ..functions.scalar import fround
from ..queries import ORACLES, query
from ..staging import stage
from .dedup import (_DUCK_CONTAMINATED_CTES, _DUCK_WORDS, _WORDS,
                    contaminated_ids, gram_hashes)
from .sampling import _bucket_sql, hash_bucket
from .textops import (STOP_DE, STOP_EN, STOP_FR, _duck_hits, _hits_of_tk,
                      _spark_hits)

_MIN_TOKENS = 20

# Bigrams for the repetition report. Spark and DuckDB forms are kept
# structurally identical (dedup's lowercased whitespace words; bigrams by
# adjacent-position concat) so the per-doc values are bit-equal across
# engines.
_DUCK_BIGRAMS = (
    f"list_transform(range(1, len({_DUCK_WORDS})),"
    f" i -> {_DUCK_WORDS}[i] || ' ' || {_DUCK_WORDS}[i+1])"
)


def curate(docs: DataFrame, min_tokens: int = _MIN_TOKENS,
           eval_pct: int = 10) -> DataFrame:
    """quality-filter → exact-dedup → stable split, one plan.

    Keeps docs with >= min_tokens whitespace tokens and >= 1 English
    stopword hit (the text_quality 'keep' verdict); keeps the smallest
    doc_id per md5(text) as the canonical representative; assigns the
    deterministic md5-bucket split on the surviving doc_id."""
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    stop_hits = F.expr(_spark_hits(STOP_EN))
    kept = docs.filter((n_tokens >= min_tokens) & (stop_hits > 0))
    reps = (kept.groupBy(F.md5("text").alias("fp"))
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))
    return reps.select(
        "doc_id", "dup_count",
        F.when(hash_bucket(F.col("doc_id")) < eval_pct, F.lit("eval"))
        .otherwise(F.lit("train")).alias("split"))


@query(
    "corpus_curation",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, text FROM documents
        WHERE len(string_split_regex(trim(text), '\\s+')) >= {_MIN_TOKENS}
          AND {_duck_hits(STOP_EN)} > 0
    ),
    reps AS (
        SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        FROM kept GROUP BY md5(text)
    )
    SELECT doc_id, dup_count,
           CASE WHEN {_bucket_sql('doc_id')} < 10
                THEN 'eval' ELSE 'train' END AS split
    FROM reps
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline over the document corpus."""
    return curate(load(spark, sf_dir, "documents"))


@query(
    "lang_token_stats",
    oracle=f"""
    WITH scored AS (
        SELECT CASE
                 WHEN {_duck_hits(STOP_EN)} = 0 AND {_duck_hits(STOP_DE)} = 0
                      AND {_duck_hits(STOP_FR)} = 0 THEN 'unknown'
                 WHEN {_duck_hits(STOP_EN)} >= {_duck_hits(STOP_DE)}
                      AND {_duck_hits(STOP_EN)} >= {_duck_hits(STOP_FR)}
                      THEN 'en'
                 WHEN {_duck_hits(STOP_DE)} >= {_duck_hits(STOP_FR)} THEN 'de'
                 ELSE 'fr'
               END AS predicted_lang,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    )
    SELECT predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens
    FROM scored GROUP BY predicted_lang
    """,
)
def lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report: document and token tallies keyed by the
    lang_id heuristic — the input numbers for a data-mix recipe.

    Tokenizes once and branches on the hit ints (an inlined _spark_hits
    per CASE branch would re-run split(lower(text)) per branch), over a
    widened single-row-group scan. n_tokens keeps its own
    split(trim(text)) — trim and lower tokenize differently on edge
    whitespace, so the two arrays are not shared (2 tokenizations/row)."""
    docs = widen_scan(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        F.split(F.lower("text"), r"\s+").alias("tk"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long")
        .alias("n_tokens"))
    counted = toks.select(
        "n_tokens",
        _hits_of_tk(STOP_EN).alias("h_en"),
        _hits_of_tk(STOP_DE).alias("h_de"),
        _hits_of_tk(STOP_FR).alias("h_fr"))
    lang = (F.when((F.col("h_en") == 0) & (F.col("h_de") == 0)
                   & (F.col("h_fr") == 0), "unknown")
            .when((F.col("h_en") >= F.col("h_de"))
                  & (F.col("h_en") >= F.col("h_fr")), "en")
            .when(F.col("h_de") >= F.col("h_fr"), "de")
            .otherwise("fr"))
    return (counted.select(lang.alias("predicted_lang"), "n_tokens")
            .groupBy("predicted_lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("n_tokens").alias("min_tokens"),
                 F.max("n_tokens").alias("max_tokens")))


@query(
    "token_length_histogram",
    oracle="""
    SELECT CAST(floor(len(string_split_regex(trim(text), '\\s+')) / 10)
                * 10 AS INTEGER) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram in 10-token buckets — the length-
    distribution check every corpus intake runs (one scan, one agg on a
    derived int; bucket arithmetic identical on both engines because
    token counts are non-negative ints)."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    bucket = (F.floor(n_tokens / 10) * 10).cast("int")
    return (docs.groupBy(bucket.alias("bucket_start"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


@query(
    "repetition_ratio",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_DUCK_BIGRAMS}) AS BIGINT) AS n_bigrams,
           floor((1.0 - CAST(len(list_distinct({_DUCK_BIGRAMS})) AS DOUBLE)
                  / len({_DUCK_BIGRAMS})) * 10000 + 0.5) / 10000
               AS rep_ratio
    FROM documents
    WHERE len({_DUCK_WORDS}) >= 2
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram repetition ratio (1 - distinct/total adjacent
    word pairs) — the standard boilerplate/spam signal a quality filter
    thresholds on (high repetition ⇒ templated or degenerate text).
    Pure JVM array HOFs on the scan: no shuffle, no Python.

    The words and bigram arrays are STAGED through intermediate
    projections instead of inlined: inlining re-evaluates split() inside
    the transform lambda per element (O(tokens²) work per doc — measured
    4.6 s at sf0.1 vs 0.28 s staged, 16×). CollapseProject keeps the
    staging because each alias is non-cheap and referenced more than
    once, so each array is computed exactly once per row. The
    single-row-group scan is widened before the bigram HOF stage (the
    heavy-per-row-map rule); per-row outputs are placement-independent
    and the widen is a no-op at 100 TB."""
    docs = widen_scan(load(spark, sf_dir, "documents"), "doc_id")
    return (docs.select("doc_id", F.expr(_WORDS).alias("w"))
            .filter(F.size("w") >= 2)
            .select("doc_id",
                    F.expr("transform(sequence(1, size(w) - 1),"
                           " i -> concat_ws(' ', element_at(w, i),"
                           " element_at(w, i + 1)))").alias("bg"))
            .select("doc_id",
                    F.size("bg").cast("bigint").alias("n_bigrams"),
                    fround(F.lit(1.0)
                           - F.size(F.array_distinct("bg")).cast("double")
                           / F.size("bg"), 4)
                    .alias("rep_ratio")))


@query(
    "type_token_ratio_by_source",
    oracle=f"""
    WITH w AS (
        SELECT source, unnest({_DUCK_WORDS}) AS word FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT word) AS BIGINT) AS n_types,
           floor(CAST(count(DISTINCT word) AS DOUBLE) / count(*) * 10000
                 + 0.5) / 10000 AS ttr
    FROM w GROUP BY source
    """,
)
def type_token_ratio_by_source(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-source type/token ratio — vocabulary diversity per provenance
    bucket (low TTR ⇒ repetitive source worth down-weighting in a mix).
    One explode + one two-level aggregate; the distinct-count shuffles
    on (source, word), which is near-uniform — no skew key exists."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select("source",
                        F.explode(F.expr(_WORDS)).alias("word"))
    return (words.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.countDistinct("word").cast("bigint").alias("n_types"),
                 fround(F.countDistinct("word").cast("double")
                        / F.count(F.lit(1)), 4).alias("ttr")))


@query(
    "contamination_report",
    oracle=f"""
    WITH hits AS ({ORACLES['decontaminate_exact']})
    SELECT bench_id,
           CAST(count(*) AS BIGINT) AS n_contaminating,
           max(jaccard) AS max_jaccard
    FROM hits GROUP BY bench_id
    """,
)
def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-document contamination summary: how many training
    docs near-duplicate it and the worst overlap — the report a
    decontamination run is signed off on. Composes the exact
    decontamination query (its jaccard is already rounded identically on
    both engines, so max() agrees bit-for-bit)."""
    from .dedup import decontaminate_exact

    hits = decontaminate_exact(spark, sf_dir)
    return (hits.groupBy("bench_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminating"),
                 F.max("jaccard").alias("max_jaccard")))


@query(
    "duplicate_ratio_report",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           floor((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                  / count(*)) * 10000 + 0.5) / 10000 AS dup_ratio
    FROM documents
    """,
)
def duplicate_ratio_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report: exact-duplicate ratio by content
    hash — the first number a dedup pass is judged by (before/after)."""
    from ..functions.scalar import fround

    docs = load(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_distinct"),
        fround(F.lit(1.0) - F.countDistinct(F.md5("text")).cast("double")
               / F.count(F.lit(1)), 4).alias("dup_ratio"))


@query(
    "corpus_curation_full",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 10 <> 0
          AND len(string_split_regex(trim(text), '\\s+')) >= {_MIN_TOKENS}
          AND {_duck_hits(STOP_EN)} > 0
    ),
    reps AS (
        SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        FROM kept GROUP BY md5(text)
    ),
    {_DUCK_CONTAMINATED_CTES}
    SELECT r.doc_id, r.dup_count,
           CASE WHEN {_bucket_sql('r.doc_id')} < 10
                THEN 'eval' ELSE 'train' END AS split
    FROM reps r
    WHERE r.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def corpus_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data pipeline over the raw corpus, one lazy
    plan: quality filter → exact dedup (canonical rep per content hash)
    → benchmark decontamination (drop any surviving doc sharing a 5-gram
    with the held-out bench split) → stable train/eval assignment.

    Plan shape: the curation branch is scan → codegen filter → one
    md5-hash shuffle; the decontamination branch explodes the corpus
    into gram digests ONCE (staged; both the bench and train
    filters read the materialization), its bench gram set broadcasts,
    and the contaminated-id set is tiny, so the final LEFT ANTI lands
    as a broadcast join under AQE. At 100 TB the only unavoidable
    corpus shuffles remain the content-hash groupBy and the per-doc
    gram count — everything else is map-side."""
    docs = load(spark, sf_dir, "documents")
    curated = curate(docs.filter(F.col("doc_id") % 10 != 0))
    return curated.join(contaminated_ids(gram_hashes(docs)), "doc_id",
                        "left_anti")


@query(
    "curation_attrition_report",
    oracle=f"""
    WITH cand AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 10 <> 0),
    kept AS (
        SELECT doc_id, text, source FROM cand
        WHERE len(string_split_regex(trim(text), '\\s+')) >= {_MIN_TOKENS}
          AND {_duck_hits(STOP_EN)} > 0),
    reps AS (
        SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    reps_src AS (
        SELECT r.doc_id, k.source FROM reps r JOIN kept k USING (doc_id)),
    {_DUCK_CONTAMINATED_CTES},
    final AS (
        SELECT doc_id, source FROM reps_src
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    rc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
           FROM cand GROUP BY source),
    qc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_quality
           FROM kept GROUP BY source),
    uc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique
           FROM reps_src GROUP BY source),
    fc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final
           FROM final GROUP BY source)
    SELECT rc.source, rc.n_raw,
           coalesce(qc.n_quality, 0) AS n_quality,
           coalesce(uc.n_unique, 0) AS n_unique,
           coalesce(fc.n_final, 0) AS n_final,
           floor((CAST(coalesce(fc.n_final, 0) AS DOUBLE) / rc.n_raw)
                 * 10000 + 0.5) / 10000 AS survival_rate
    FROM rc
    LEFT JOIN qc USING (source)
    LEFT JOIN uc USING (source)
    LEFT JOIN fc USING (source)
    """,
)
def curation_attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ATTRITION through the full curation pipeline — the
    funnel report every dataset card leads with: candidates in, docs
    surviving the quality gate, canonical representatives after exact
    dedup, docs surviving benchmark decontamination, and the end-to-end
    survival rate. A source whose mass dies at one stage tells you WHAT
    to fix (a crawler emitting short pages dies at quality; a mirror
    dies at dedup; a benchmark-derived source dies at decontamination).

    Plan: the stage tables compute the SAME semantics as
    corpus_curation_full, but the two branches that feed multiple
    downstream counts are materialized ONCE as compact digests
    (the naive shape re-ran the quality filter 3× and the 5-gram
    explode 2×): `kept_small` = (doc_id, md5(text), source)
    after the quality gate — no raw text travels — feeds the n_quality
    count, the dedup groupBy, and the representative-source join;
    `gram_hashes` = (doc_id, xxhash64(gram)) after one explode feeds
    both the bench gram set and the contamination probe. Both are
    staged through the env-gated ``staging.stage()`` (lazy — first
    consumer materializes; O(rows × ~50 B) of digests), so the corpus
    text is scanned once per branch and the explode CPU is paid once. Measured honestly at sf0.1 the wall-clock
    is a wash (~1.9 s either shape — stage-scheduling overhead
    dominates 5k docs), but the corpus-scan count drops 6 → 3 and the
    explode runs once instead of twice, which is what matters when the
    scan is 100 TB. Representative attribution: a duplicate cluster
    counts toward the source of its KEPT (min doc_id) representative,
    matching what actually ships."""
    docs = load(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") % 10 != 0)
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    stop_hits = F.expr(_spark_hits(STOP_EN))
    kept_small = (cand.filter((n_tokens >= _MIN_TOKENS) & (stop_hits > 0))
                  .select("doc_id", F.md5("text").alias("h"), "source")
                  .transform(stage))
    reps = (kept_small.groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    reps_src = reps.join(kept_small.select("doc_id", "source"), "doc_id")
    contaminated = contaminated_ids(gram_hashes(docs))
    final = reps_src.join(contaminated, "doc_id", "left_anti")

    def by_src(df: DataFrame, alias: str) -> DataFrame:
        return (df.groupBy("source")
                .agg(F.count(F.lit(1)).cast("bigint").alias(alias)))

    report = (by_src(cand, "n_raw")
              .join(by_src(kept_small, "n_quality"), "source", "left")
              .join(by_src(reps_src, "n_unique"), "source", "left")
              .join(by_src(final, "n_final"), "source", "left"))
    return report.select(
        "source", "n_raw",
        F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.coalesce("n_final", F.lit(0)).alias("n_final"),
        fround(F.coalesce("n_final", F.lit(0)).cast("double")
               / F.col("n_raw"), 4).alias("survival_rate"))
