"""Mergeable sketch aggregates (Apache DataSketches HLL, built into
Spark) — the cardinality machinery a 100 TB pipeline actually ships.

`approx_distinct_count` (relational.py) already covers the one-shot
HyperLogLog++ estimate. What THESE operators add is mergeability: an
`hll_sketch_agg` produces a binary sketch that `hll_union_agg` can
combine later, so per-partition / per-day sketches roll up without ever
re-touching the raw data — count-distinct over any ad-hoc slice becomes
a metadata-sized merge instead of a full scan. That is the difference
between "approximate count" and "pre-aggregatable approximate count",
and at 100 TB only the second survives (daily sketch tables are the
standard design).

No SQL oracle: sketch bytes are engine-specific (rows-only driver check);
accuracy and merge-consistency are pytest-asserted against exact counts
(tests/test_sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datasets import load
from ..queries import query
from .dedup import _WORDS


@query("sketch_distinct_users_by_type")  # rows-only: sketch bytes not SQL
def sketch_distinct_users_by_type(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Distinct users per event type via HLL sketches, plus a grand
    total computed by UNIONING the per-type sketches — never re-scanning
    events. The union step consumes 5 sketch blobs (~KB), which is the
    entire point: at scale the per-type sketches would live in a rollup
    table and any cross-slice distinct count is a driver-sized merge."""
    ev = load(spark, sf_dir, "events")
    per_type = (ev.groupBy("event_type")
                .agg(F.hll_sketch_agg("user_id").alias("sk")))
    typed = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"))
    total = (per_type.agg(F.hll_union_agg("sk").alias("sk"))
             .select(F.lit("ALL").alias("event_type"),
                     F.hll_sketch_estimate("sk").cast("bigint")
                     .alias("approx_users")))
    return typed.unionAll(total).orderBy("event_type")


# ---------------------------------------------------------------------------
# Count-Min frequency sketches — the heavy-hitter companion to the HLL
# rollup above. Spark's `count_min_sketch` aggregate emits a mergeable
# binary sketch (org.apache.spark.util.sketch.CountMinSketch); per-slice
# sketches built with the SAME (eps, confidence, seed) share hash planes,
# so `mergeInPlace` is an exact cell-wise sum: merging per-source daily
# sketches answers "how often does token X appear corpus-wide" without
# re-touching the corpus. CMS error is ONE-SIDED: estimate >= true count,
# and estimate <= true + eps·N with probability >= confidence — both
# bounds are pytest-asserted against exact counts.
#
# Library + test surface (not a registered query): probing a sketch is a
# driver-side JVM call, not a Catalyst expression, so there is no honest
# (spark, sf_dir) -> DataFrame shape for it.
# ---------------------------------------------------------------------------

CMS_EPS = 0.001
CMS_CONFIDENCE = 0.99
CMS_SEED = 42


def _doc_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.explode(F.expr(_WORDS)).alias("tok"))


def cms_token_sketch(docs: DataFrame,
                     eps: float = CMS_EPS,
                     confidence: float = CMS_CONFIDENCE,
                     seed: int = CMS_SEED) -> bytes:
    """One mergeable Count-Min sketch over the document token stream.
    The aggregate is map-side partial (each task sketches its partition,
    partials merge cell-wise), so the full pass shuffles only KB-sized
    sketch blobs — the same shape the HLL rollup uses."""
    row = (_doc_tokens(docs)
           .agg(F.expr(f"count_min_sketch(tok, {eps}d, {confidence}d,"
                       f" {seed})").alias("s")).head())
    return bytes(row["s"])


def cms_read(spark: SparkSession, sketch: bytes):
    """Deserialize sketch bytes to the JVM CountMinSketch (driver-side)."""
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(sketch)
    return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)


def cms_merge(spark: SparkSession, sketches: list[bytes]):
    """Merge per-slice sketches (same eps/confidence/seed) into one JVM
    CountMinSketch — exact cell-wise sums, no data re-scan."""
    merged = cms_read(spark, sketches[0])
    for sk in sketches[1:]:
        merged.mergeInPlace(cms_read(spark, sk))
    return merged


def cms_estimate(cms, items: list[str]) -> dict[str, int]:
    return {it: int(cms.estimateCount(it)) for it in items}
