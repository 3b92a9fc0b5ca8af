"""Similarity search over the embeddings table (array<float>[64]).

Engine-surface additions for training-data pipelines (build brief):
- brute-force top-k cosine (the exactness baseline, oracle-checked),
- all-pairs near-duplicate cosine (oracle-checked ground truth),
- random-hyperplane LSH ANN (training-free bucketed search),
- IVF cells (routing; cells double as write-time partitions),
- spherical k-means (the trained coarse quantizer) + SemDeDup
  within-cell near-dup candidates,
- PQ/ADC (32x memory compression) and the composed IVF-PQ serving
  path (routing x compression x exact re-rank).
Every approximate path's recall is MEASURED against the exact twin in
tests/test_similarity.py, never asserted blind.

All vector math is JVM-side higher-order functions (zip_with + aggregate);
elements are upcast to double *before* summation and summed sequentially
per-array, which makes the result bit-identical to the DuckDB oracle's
list_transform/list_sum pipeline.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..datasets import load, session_cache, shuffle_width, widen_scan
from ..staging import stage
from ..functions.scalar import fround
from ..queries import query

QUERY_VEC_ID = 0  # fixed probe vector for the deterministic top-k queries
TOP_K = 10


def dot(a: str, b: str) -> Column:
    """Sequential double-precision dot product of two float-array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)")


def norm(a: str) -> Column:
    return F.sqrt(dot(a, a))


def finite_norm(a: str) -> Column:
    """The vector is usable as a DIRECTION: norm positive AND finite.
    A bare `norm > 0` does not exclude NaN — Spark ranks NaN largest in
    comparisons, so a NaN-component vector passes it and then poisons
    any centroid mean or unit-normalization built from it. Inf norms
    normalize to all-zero/NaN the same way. Serving-path FILTERS that
    only rank candidates keep the cheaper `norm > 0` (both engines
    agree on NaN cosines there); this guard is for anything that
    becomes driver-side state."""
    n = norm(a)
    return (n > 0) & ~F.isnan(n) & (n < F.lit(float("inf")))


def _usable_probe(qv) -> bool:
    """Driver-side probe check: non-zero AND all-finite (a NaN/Inf probe
    has no meaningful neighbors and its components would otherwise be
    broadcast as literals into every score expression)."""
    import math

    vs = [float(x) for x in qv]
    return any(v != 0.0 for v in vs) and all(math.isfinite(v) for v in vs)


def _probe_row(emb: DataFrame):
    """The QUERY_VEC_ID row, or None when it is absent (zero-row corpus)
    or not `_usable_probe` — either way the probe has no neighbors."""
    row = emb.filter(F.col("vec_id") == QUERY_VEC_ID).head()
    if row is None or not _usable_probe(row["embedding"]):
        return None
    return row


def _empty_topk(spark: SparkSession) -> DataFrame:
    """The empty result every single-probe ANN path degrades to when the
    probe vector is absent (zero-row corpus — an incremental pipeline's
    first run) or direction-less (zero norm), or nothing is trainable.
    Shared so every such path keeps knn_brute_force's empty schema."""
    return spark.createDataFrame(
        [], "vec_id bigint, label int, cos_sim double")


def cosine(a: str, b: str) -> Column:
    """NULL (not an ANSI divide-by-zero error) when either operand has
    zero norm — a zero embedding has no direction, and real corpora
    contain them (adversarial-corpus find). Queries that rank by
    similarity additionally FILTER zero-norm rows so cross-engine NULL
    ordering never enters the comparison.

    nullif, NOT when(den > 0, dot/den): the WHEN form evaluates the
    denominator twice (condition + value — two extra array dot
    products per row, measured ~3x on the brute-force scan), while
    nullif keeps the original 3-dot cost and division by NULL is NULL
    under ANSI."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def rounded_cos(score: Column) -> Column:
    """The registered score column: cosine rounded to 1e-6, with + 0.0
    folding -0.0 into 0.0 as the oracle's `floor(...) / 1e6 + 0.0`."""
    return (fround(score, 6) + F.lit(0.0)).alias("cos_sim")


def _topk(cands: DataFrame, score: Column) -> DataFrame:
    """Single-probe exact re-rank: (vec_id, label, cos_sim), top TOP_K
    by score descending, ties to the lower vec_id."""
    return (cands.select("vec_id", "label", rounded_cos(score))
            .orderBy(F.desc("cos_sim"), "vec_id")
            .limit(TOP_K))


# DuckDB equivalents, kept structurally identical (sequential double sums).
def _duck_dot(a: str, b: str) -> str:
    return (f"list_sum(list_transform(list_zip({a}, {b}),"
            f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")


def _duck_cos(a: str, b: str) -> str:
    return (f"({_duck_dot(a, b)} / (sqrt({_duck_dot(a, a)})"
            f" * sqrt({_duck_dot(b, b)})))")


# --------------------------------------------------------------------------
# Brute-force top-k cosine to a fixed query vector. The probe embedding is
# a broadcast one-row side of a cross join (the oracle's `FROM embeddings
# e, q`) — computed inside the plan, so construction starts no Spark job;
# on a cluster this is a broadcast of 64 floats, the scan stays one pass.
# --------------------------------------------------------------------------

@query(
    "knn_brute_force",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           floor(({_duck_cos('e.embedding', 'q.qv')}) * 1000000 + 0.5) / 1000000 + 0.0 AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
      AND {_duck_dot('e.embedding', 'e.embedding')} > 0
    ORDER BY cos_sim DESC, e.vec_id LIMIT {TOP_K}
    """,
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # An absent probe leaves q empty: no neighbors, like the oracle.
    q = (emb.filter(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("embedding").alias("qv")))
    return _topk(emb.filter(F.col("vec_id") != QUERY_VEC_ID)
                 .filter(norm("embedding") > 0)  # zero vectors: no direction
                 .crossJoin(F.broadcast(q)),
                 cosine("embedding", "qv"))


# --------------------------------------------------------------------------
# All-pairs near-duplicate cosine, top-20 pairs. Quadratic — this is the
# small-scale oracle-checked ground truth the LSH path is measured
# against; at 100 TB only the LSH variant runs.
# --------------------------------------------------------------------------

@query(
    "embedding_neardup_topk",
    scale_twin="semdedup_candidates",
    oracle=f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           floor(({_duck_cos('a.embedding', 'b.embedding')}) * 1000000 + 0.5) / 1000000 + 0.0 AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_duck_dot('a.embedding', 'a.embedding')} > 0
      AND {_duck_dot('b.embedding', 'b.embedding')} > 0
    ORDER BY cos_sim DESC, id1, id2 LIMIT 20
    """,
)
def embedding_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (load(spark, sf_dir, "embeddings")
           .filter(norm("embedding") > 0))  # zero vectors: no direction
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("id1"),
                     F.col("b.vec_id").alias("id2"),
                     F.col("a.embedding").alias("e1"),
                     F.col("b.embedding").alias("e2")))
    return (pairs.select("id1", "id2", rounded_cos(cosine("e1", "e2")))
            .orderBy(F.desc("cos_sim"), "id1", "id2")
            .limit(20))


# --------------------------------------------------------------------------
# LSH-bucketed approximate nearest neighbors (random hyperplanes).
# --------------------------------------------------------------------------

N_TABLES = 16         # independent hash tables (OR-amplification)
PLANES_PER_TABLE = 4  # sign bits per table (AND-amplification)
EMB_DIM = 64


def _hyperplanes(n_tables: int = N_TABLES,
                 planes_per_table: int = PLANES_PER_TABLE
                 ) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed xorshift stream →
    uniform in [-1, 1)); stable across runs, no runtime randomness.
    Defaults are the registered parameters; the args exist for the
    referee's parameter sweep (ann_recall_referee.py) — a different
    (L, p) draws a different prefix of the same fixed stream."""
    planes, state = [], 2463534242
    for _ in range(n_tables * planes_per_table):
        row = []
        for _ in range(EMB_DIM):
            state ^= (state << 13) & 0xFFFFFFFF
            state ^= state >> 17
            state ^= (state << 5) & 0xFFFFFFFF
            row.append(state / 2**31 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_cols(n_tables: int = N_TABLES,
                    planes_per_table: int = PLANES_PER_TABLE
                    ) -> list[Column]:
    """One bucket id per hash table: the sign-bit signature of the
    embedding against that table's PLANES_PER_TABLE fixed hyperplanes;
    pure JVM expressions over the array column.

    Multi-table (L × p) design: for a neighbor at angular similarity s,
    single-table collision is s^p but union-over-L recall is
    1 − (1 − s^p)^L. Parameters are calibrated to the corpus's similarity
    regime: the testdata probe's true top-10 sit at cos≈0.28-0.37
    (s≈0.6), where one 12-plane table recalls ~0.05 of true neighbors;
    16 tables × 4 planes lift that to ~0.91 theoretical / ≥0.6 asserted
    (tests/test_similarity.py). In a strong-similarity regime (near-dup
    mining, cos≥0.9) raise PLANES_PER_TABLE to sharpen buckets. In the
    (L, p) sweep (ANN_RECALL_r08.json), on the near-dup-rich sf1 corpus
    16×8 holds recall 0.909 touching only 7.4% of the corpus (12× better
    than random) and 8×6 gets 0.937 at 12.6%, while on the
    weak-similarity sf0.1 corpus every configuration pays near-linear
    recall-vs-touch (16×8: 0.287 at 7.4%) — the registered 16×4 is the
    right point for THAT regime.

    100-probe panel (ann_recall_referee.py, ANN_RECALL_r08.json): LSH is
    the ROBUST path across regimes — mean recall@10 0.881 / 0.921 /
    0.998 at sf0.01/sf0.1/sf1 — while cell routing collapses to ~0.48 in
    the weak-similarity regime (see ivf_topk). The honest physics: at
    cos≈0.3 every sublinear method pays near-linear recall-vs-touch (LSH
    touches ~63% here for its 0.92), and ANN's sublinearity is earned
    only where the corpus has real similarity structure (the
    near-dup-rich sf1 tier: 0.998 recall at the same 63% touch, IVF
    0.962 at 25%)."""
    planes = _hyperplanes(n_tables, planes_per_table)
    cols = []
    for t in range(n_tables):
        bucket = None
        for j in range(planes_per_table):
            d = dot("embedding", _arr_sql(planes[t * planes_per_table + j]))
            bit = (F.when(d > 0, F.lit(1 << j).cast("long"))
                   .otherwise(F.lit(0).cast("long")))
            bucket = bit if bucket is None else bucket + bit
        cols.append(bucket)
    return cols


def lsh_buckets(n_tables: int = N_TABLES,
                planes_per_table: int = PLANES_PER_TABLE) -> Column:
    """The `buckets` index column: `lsh_bucket_cols` as one array, its
    (n_tables, planes_per_table) recorded in the column metadata so a
    prebuilt index states the parameters it was built with."""
    return F.array(*lsh_bucket_cols(n_tables, planes_per_table)).alias(
        "buckets", metadata={"n_tables": n_tables,
                             "planes_per_table": planes_per_table})


def _lsh_params(emb_b: DataFrame) -> tuple[int, int]:
    """(n_tables, planes_per_table) of a bucket index; an index without
    the metadata is taken to use the registered parameters."""
    meta = emb_b.schema["buckets"].metadata
    return (meta.get("n_tables", N_TABLES),
            meta.get("planes_per_table", PLANES_PER_TABLE))


def _bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged registered-parameter LSH bucket index, one build per
    session: ann_lsh_topk and ann_batch_topk serve from the same
    (vec_id, label, embedding, buckets) table, the write-time index
    layout their docstrings promise. Referee knob sweeps (non-registered
    n_tables/planes) keep building theirs inline via lsh_batch_topk."""
    return session_cache(
        spark, sf_dir, ("embeddings",), ("lsh_buckets",),
        lambda: stage(widen_scan(load(spark, sf_dir, "embeddings"), "vec_id")
                      .withColumn("buckets", lsh_buckets())))


@query("ann_lsh_topk")  # rows-only: hyperplane hashing not SQL-oracle-able
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k for the fixed probe: candidates are the union of
    the probe's buckets across N_TABLES hash tables; exact cosine
    re-ranks the candidates. At scale: the bucket-array column is
    precomputed at write time; a probe turns into N_TABLES bucket
    lookups instead of a corpus scan.

    The bucket table is `_bucket_index`: widened (the 64 hyperplane HOF
    dots per row otherwise run serially in the one-row-group scan task)
    and staged, the write-time bucket column this docstring promises,
    built once per session and shared with ann_batch_topk.
    `SPARK_GRAFT_STAGING=none` re-derives it from raw lineage."""
    emb = _bucket_index(spark, sf_dir)
    probe = _probe_row(emb)
    if probe is None:
        return _empty_topk(spark)
    collide = None
    for t, qb in enumerate(probe["buckets"]):
        c = F.col("buckets")[t] == F.lit(int(qb))
        collide = c if collide is None else (collide | c)
    return _topk(emb.filter(collide & (F.col("vec_id") != QUERY_VEC_ID)
                            & (norm("embedding") > 0)),  # no direction
                 cosine("embedding", _arr_sql(probe["embedding"])))


# --------------------------------------------------------------------------
# Batch ANN serving — the 100 TB query shape. A probe PANEL replaces the
# single fixed probe: the per-probe OR-over-tables bucket filter becomes
# one (table, bucket) equi-join against the bucket index, and ranking is
# ONE window over (probe_id), not a driver loop over probes. Measured by
# ann_recall_referee.py at three tiers (panel recall@10 0.881 / 0.921 /
# 0.998 at sf0.01/0.1/1, ANN_RECALL_r08.json) and pinned equal to the
# registered single-probe `ann_lsh_topk` when the panel is restricted to
# QUERY_VEC_ID (tests/test_ann_recall_referee.py).
# --------------------------------------------------------------------------

PROBE_MOD = 50  # registered panel rule: vec_id % PROBE_MOD == 0


def ann_probe_panel(emb: DataFrame, mod: int = PROBE_MOD) -> DataFrame:
    """Deterministic probe panel: every vec_id divisible by ``mod`` that
    is usable as a direction (positive finite norm — the registered
    single-probe rule). Columns: (probe_id, pv)."""
    return (emb.filter((F.col("vec_id") % mod == 0)
                       & finite_norm("embedding"))
            .select(F.col("vec_id").alias("probe_id"),
                    F.col("embedding").alias("pv")))


def batch_score(df: DataFrame) -> DataFrame:
    """The registered score column over (embedding, pv), batch form —
    bit-identical to the single-probe queries."""
    return df.select("probe_id", "vec_id",
                     rounded_cos(cosine("embedding", "pv")))


def batch_ranked_topk(scored: DataFrame, k: int = TOP_K,
                      score: str = "cos_sim") -> DataFrame:
    """Top-k per probe under the registered tie rule (score desc, then
    vec_id asc) — one window partitioned by probe_id; the batch
    equivalent of orderBy(...).limit(k)."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("probe_id").orderBy(
        F.desc(score), F.asc("vec_id"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def lsh_batch_topk(emb: DataFrame, probes: DataFrame,
                   n_tables: int | None = None,
                   planes_per_table: int | None = None,
                   emb_b: DataFrame | None = None) -> DataFrame:
    """`ann_lsh_topk` semantics over a probe panel: bucket both sides
    with identical `lsh_bucket_cols()` signatures, equi-join on
    (table, bucket), dedup candidates, exact-cosine re-rank per probe.
    Either LSH parameter may be overridden alone — the other defaults
    to the registered value. ``emb_b`` lets the caller supply a
    pre-built (…, buckets) index table — the registered query passes
    the staged write-time index (see ann_batch_topk); referee knob
    sweeps keep building theirs inline.

    At 100 TB: `buckets` is a write-time index column, the panel is
    broadcast (panels are small by construction), and the only wide
    exchange is the per-probe window — partitioned by probe_id, so it
    scales with panel size, not corpus size.

    The deduped candidate set is hash-repartitioned on vec_id BEFORE
    the corpus join-back, so the exact-cosine scoring stage runs at the
    configured width — otherwise AQE coalesces the few-MB distinct
    output to ONE partition locally, serializing ~51k interpreted
    64-dim cosines behind it (about 3x slower warm at sf0.1). The
    exchange carries 16 B/row (probe_id, vec_id) — narrower than both
    the scored rows and the index rows — and at scale it stands where
    the join-back's own vec_id shuffle would be; the per-probe window
    exchange still carries scored rows only."""
    if emb_b is None:
        emb_b = emb.withColumn("buckets", lsh_buckets(
            N_TABLES if n_tables is None else n_tables,
            PLANES_PER_TABLE if planes_per_table is None
            else planes_per_table))
    else:
        # A prebuilt index carries its own LSH parameters: an override
        # that differs from them would be silently ignored, so it raises;
        # one that equals them is harmless.
        built = _lsh_params(emb_b)
        asked = (built[0] if n_tables is None else n_tables,
                 built[1] if planes_per_table is None else planes_per_table)
        if asked != built:
            raise ValueError(
                f"emb_b was built with (n_tables, planes_per_table)="
                f"{built}; the override {asked} would be ignored")
    probe_b = (emb_b.join(F.broadcast(probes),
                          emb_b.vec_id == probes.probe_id)
               .select("probe_id",
                       F.posexplode("buckets").alias("t", "qb")))
    corp_b = emb_b.select(
        "vec_id", F.posexplode("buckets").alias("t", "b"))
    cand_ids = (corp_b.join(F.broadcast(probe_b),
                            (corp_b.t == probe_b.t)
                            & (corp_b.b == F.col("qb")))
                .select("probe_id", "vec_id").distinct())
    n = shuffle_width(emb.sparkSession)
    cands = (cand_ids.repartition(n, F.col("vec_id"))
             .join(emb_b.drop("buckets").filter(norm("embedding") > 0),
                   "vec_id")
             .join(F.broadcast(probes), "probe_id")
             .filter(F.col("vec_id") != F.col("probe_id")))
    return batch_ranked_topk(batch_score(cands))


@query("ann_batch_topk")  # rows-only: hyperplane hashing not SQL-oracle-able
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN top-k: LSH-bucketed approximate top-10 for EVERY panel
    probe (vec_id % PROBE_MOD == 0) in one plan. This is the serving
    shape a 100 TB similarity deployment actually runs — N probes
    amortize one pass over the bucket index — whereas `ann_lsh_topk`
    is its single-probe restriction (pinned equal on probe 0).
    Columns: (probe_id, vec_id, cos_sim), top-10 per probe.
    Recall measured by ann_recall_referee.py.

    Serves from the same staged `_bucket_index` as ann_lsh_topk: built
    inline, both join branches (the norm-filtered corpus side and the
    probe panel) recompute the 16-table hyperplane signatures per
    execution, serially in the one-row-group scan task. One checkpoint
    per session serves both queries; `SPARK_GRAFT_STAGING=none`
    re-derives full lineage."""
    emb = load(spark, sf_dir, "embeddings")
    emb_b = _bucket_index(spark, sf_dir)
    return lsh_batch_topk(emb, ann_probe_panel(emb_b), emb_b=emb_b)


# --------------------------------------------------------------------------
# Centroid per label — grouped vector aggregation (the "IVF coarse
# quantizer" building block: at scale, probes search nearest centroids'
# inverted lists first). Element-wise mean via posexplode + regroup.
# --------------------------------------------------------------------------

@query(
    "label_centroid_norms",
    oracle="""
    WITH comp AS (
        SELECT label, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, i, avg(v) AS c FROM comp GROUP BY label, i
    )
    SELECT label, floor((sqrt(sum(c * c))) * 1000000 + 0.5) / 1000000 AS centroid_norm,
           count(*) AS dim
    FROM cent GROUP BY label
    """,
)
def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "v_raw"),
    ).select("label", (F.col("i0") + 1).alias("i"),
             F.col("v_raw").cast("double").alias("v"))
    cent = comp.groupBy("label", "i").agg(F.avg("v").alias("c"))
    return (cent.groupBy("label")
            .agg(fround(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6)
                 .alias("centroid_norm"),
                 F.count(F.lit(1)).alias("dim")))


@query(
    "embedding_norm_stats",
    oracle=f"""
    WITH norms AS (
        SELECT label,
               floor(sqrt({_duck_dot('embedding', 'embedding')}) * 1000000
                     + 0.5) / 1000000 AS nrm
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           min(nrm) AS min_norm,
           max(nrm) AS max_norm,
           floor(avg(nrm) * 10000 + 0.5) / 10000 AS avg_norm
    FROM norms GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm stats — the first health check on an
    embedding column (un-normalized or collapsed vectors show up here
    before any similarity search is worth running). Per-row norms are
    sequential double sums (bit-identical across engines, rounded 1e-6);
    min/max commute with rounding, the group avg re-rounds at 1e-4. One
    scan + one tiny exchange on label."""
    emb = load(spark, sf_dir, "embeddings")
    norms = emb.select("label", fround(norm("embedding"), 6).alias("nrm"))
    return (norms.groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 F.min("nrm").alias("min_norm"),
                 F.max("nrm").alias("max_norm"),
                 fround(F.avg("nrm"), 4).alias("avg_norm")))


# --------------------------------------------------------------------------
# IVF-bucketed approximate nearest neighbors (the second ANN scale path,
# complementing the LSH variant: IVF wins on clustered corpora, LSH needs
# no training data at all).
# --------------------------------------------------------------------------

IVF_K = 16       # coarse-quantizer cells
IVF_NPROBE = 4   # cells searched per probe


def _dlit(v: float) -> str:
    """A double literal that parses for EVERY double: repr(nan)/repr(inf)
    are bare words ('nan') that Spark's SQL parser resolves as column
    names — one NaN centroid component then kills the whole query with
    UNRESOLVED_COLUMN."""
    if v != v:
        return "cast('NaN' as double)"
    if v == float("inf"):
        return "cast('Infinity' as double)"
    if v == float("-inf"):
        return "cast('-Infinity' as double)"
    return f"cast({v!r} as double)"


def _arr_sql(vs: list[float]) -> str:
    return "array(" + ", ".join(_dlit(v) for v in vs) + ")"


def _py_cos(a: list[float], b: list[float]) -> float:
    import math

    # -inf (not a ZeroDivisionError) when either operand has zero norm:
    # a trained centroid CAN be the zero vector when a cell's member
    # mean cancels exactly (adversarial v/-v corpora — _unit returns
    # zero vectors unchanged), and routing must rank such a
    # direction-less centroid below EVERY real one — including real
    # centroids with negative cosine to the probe (0.0 would let it
    # outrank a negatively-correlated real cell and consume an
    # IVF_NPROBE slot). -inf matches the column-side NULL-last
    # semantics exactly (NULL sorts below -1 under the desc sort).
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    if na == 0.0 or nb == 0.0:
        return float("-inf")
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


def ivf_route(qv: list[float], cents: dict[int, list[float]],
              nprobe: int = IVF_NPROBE) -> list[int]:
    """The probe's `nprobe` nearest cells by `_py_cos`: a stable sort
    over the sorted cell ids, so equal cosines route to the lower id."""
    return sorted(sorted(cents),
                  key=lambda c: -_py_cos(qv, cents[c]))[:nprobe]


def ivf_centroids(emb: DataFrame) -> dict[int, list[float]]:
    """The untrained coarse quantizer: {vec_id: embedding} of the first
    IVF_K vectors usable as a direction (a zero-norm centroid has no
    direction; finite_norm also keeps NaN/Inf out of the literals)."""
    rows = (emb.filter((F.col("vec_id") < IVF_K) & finite_norm("embedding"))
            .select("vec_id", "embedding").collect())
    return {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in rows}


def ivf_cell(cents: dict[int, list[float]]) -> Column:
    """The cell of `embedding` under an untrained quantizer: argmax of
    the cosine to each centroid literal, ties to the higher cell id."""
    scores = F.array(*[
        F.struct(cosine("embedding", _arr_sql(cents[c])).alias("s"),
                 F.lit(c).alias("c")) for c in sorted(cents)])
    return F.element_at(F.sort_array(scores, asc=False), 1)["c"]


@query("ivf_topk")  # rows-only: argmax-over-centroids is not oracle SQL
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: assign every vector to its nearest of
    IVF_K fixed coarse centroids, then search only the probe's IVF_NPROBE
    nearest cells, exact-cosine re-ranked.

    The coarse quantizer is the first IVF_K corpus vectors (deterministic;
    a production build would k-means them — the plan shape is identical).
    Centroids are driver-collected once (IVF_K·64 floats) and inlined as
    literals, so cell assignment is a pure JVM projection over the scan —
    no join, no shuffle. Recall@10 = 1.0 for the registered probe at
    sf0.01 (tests/test_similarity.py) — but the 100-probe panel
    (ann_recall_referee.py / ANN_RECALL_r08.json) shows that number is
    probe-specific, not the router's: panel mean 0.488/0.482 at
    sf0.01/sf0.1 (weak-similarity regime, true neighbors at cos≈0.3),
    0.962 at the near-dup-rich sf1 tier. The nprobe sweep (same
    artifact) maps the knob at sf0.1 — nprobe 2/4/8/16 → recall
    0.30/0.48/0.76/1.00, i.e. near-linear recall-vs-touch: routing
    carries little signal at cos≈0.3 (a kmeans-trained router lifts
    the panel to 0.558-0.592 at the same 25% touch, see
    ann_recall_referee.batch_ivf_kmeans). Regime rule: prefer LSH on
    weak-similarity corpora; IVF's 4×-fewer-touched-rows wins where
    similarity structure is real (sf1-like near-dup corpora).

    At 100 TB: the cell id is a write-time partition column; a probe
    reads IVF_NPROBE partitions (partition pruning) instead of the
    corpus — the classic IVF index expressed as Spark table layout.
    Locally the cell column (IVF_K HOF cosines per row, serial in the
    one-row-group scan task) is widened and staged, built once in the
    cold pass; `SPARK_GRAFT_STAGING=none` re-derives from raw lineage.
    """
    emb = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb)
    qrow = _probe_row(emb)
    if qrow is None or not cents:
        return _empty_topk(spark)
    qv = [float(x) for x in qrow["embedding"]]
    celled = stage(widen_scan(emb, "vec_id")
                   .withColumn("_cell", ivf_cell(cents)))
    return _topk(celled.filter(F.col("_cell").isin(ivf_route(qv, cents))
                               & (F.col("vec_id") != QUERY_VEC_ID)
                               & (norm("embedding") > 0)),  # no direction
                 cosine("embedding", _arr_sql(qv)))


# --------------------------------------------------------------------------
# Spherical k-means trainer — the coarse quantizer ivf_topk promises
# ("a production build would k-means them"). Driver-loop Lloyd iterations,
# the MLlib KMeans shape re-expressed on the DataFrame API:
#   broadcast K·dim centroid literals -> one scan assigns cells (pure JVM
#   projection, no join) -> one map-side-combinable aggregate produces
#   K×(dim avgs) rows -> driver normalizes and re-broadcasts.
# Per iteration exactly one shuffle of K rows; the input is persisted once
# across iterations (the only multi-pass operator in the registry, which
# is what Lloyd's algorithm *is* — each pass is a new plan, so this is a
# driver loop by nature, not an accident).
# --------------------------------------------------------------------------

KMEANS_K = IVF_K
KMEANS_MAX_ITER = 8
KMEANS_TOL = 1e-7  # max centroid movement (1 - cos(old, new)) to stop


def _unit(v: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0.0 else list(v)


def _normalized(emb: DataFrame) -> DataFrame:
    """Stage unit-norm double vectors as a real column (computed once per
    row, reused by every centroid dot product in the same projection)."""
    # Zero-norm vectors are dropped: they cannot be unit-normalized and
    # carry no direction for any cosine-based assignment.
    return (emb.withColumn("_nrm", norm("embedding"))
            # finite AND positive: NaN passes a bare `> 0` (Spark ranks
            # NaN largest) and an Inf norm normalizes to zeros/NaN —
            # either way one hostile vector would poison every centroid
            # trained from this frame.
            .filter((F.col("_nrm") > 0) & ~F.isnan("_nrm")
                    & (F.col("_nrm") < F.lit(float("inf"))))
            .withColumn("nv", F.transform(
                "embedding", lambda x: x.cast("double") / F.col("_nrm")))
            .drop("_nrm"))


def _best_cell(cents: list[list[float]]) -> Column:
    """struct(s=cos to nearest centroid, c=its index) — argmax over the
    broadcast centroid literals, ties to the higher index (deterministic)."""
    scores = F.array(*[
        F.struct(dot("nv", _arr_sql(c)).alias("s"), F.lit(i).alias("c"))
        for i, c in enumerate(cents)])
    return F.element_at(F.sort_array(scores, asc=False), 1)


def kmeans_train(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    max_iter: int = KMEANS_MAX_ITER,
) -> tuple[list[list[float]], list[float]]:
    """Train unit-sphere centroids; returns (centroids, per-iteration mean
    cosine history). Init is the first k vectors by vec_id (deterministic,
    same seed rule as ivf_topk's untrained quantizer). Empty cells keep
    their previous centroid. The history is the spherical-k-means objective
    measured at each assignment step — monotone non-decreasing by Lloyd's
    argument, asserted in tests/test_similarity.py.

    Training is deterministic and its result is a KB-sized driver
    object, so its consumers (embedding_kmeans, semdedup_candidates,
    the IVF routers and any interactive reuse) share ONE training run
    per session through `session_cache`."""
    return session_cache(
        spark, sf_dir, ("embeddings",), ("kmeans", k, max_iter),
        lambda: _lloyd_kmeans(spark, sf_dir, k, max_iter))


def _lloyd_kmeans(spark: SparkSession, sf_dir: str, k: int, max_iter: int
                  ) -> tuple[list[list[float]], list[float]]:
    # widen_scan: each Lloyd iteration evaluates K HOF dots per row
    # over this persisted frame; on the one-row-group local file all
    # iterations ran in a single task. No-op at 100 TB (see widen_scan).
    base = _normalized(widen_scan(load(spark, sf_dir, "embeddings"),
                                  "vec_id")).select("vec_id", "nv")
    base = base.persist()
    try:
        first = base.head()
        if first is None:  # no trainable vectors (zero-row / all-zero)
            return [], []
        dim = len(first["nv"])
        init = {int(r["vec_id"]): [float(x) for x in r["nv"]]
                for r in base.filter(F.col("vec_id") < k).collect()}
        cents = [init[i] for i in sorted(init)]
        history: list[float] = []
        for _ in range(max_iter):
            best = _best_cell(cents)
            agg = (base.withColumn("_b", best)
                   .select(F.col("_b")["c"].alias("cell"),
                           F.col("_b")["s"].alias("sc"), "nv")
                   .groupBy("cell")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("sc").alias("sum_cos"),
                        *[F.avg(F.col("nv")[i]).alias(f"d{i}")
                          for i in range(dim)]))
            rows = agg.collect()
            new_cents = [list(c) for c in cents]
            tot_n, tot_cos = 0, 0.0
            for r in rows:
                c, n = int(r["cell"]), int(r["n"])
                new_cents[c] = _unit([float(r[f"d{i}"]) for i in range(dim)])
                tot_n += n
                tot_cos += float(r["sum_cos"])
            history.append(tot_cos / tot_n)
            shift = max(1.0 - sum(a * b for a, b in zip(o, w))
                        for o, w in zip(cents, new_cents))
            cents = new_cents
            if shift < KMEANS_TOL:
                break
        return cents, history
    finally:
        base.unpersist()


@query("ivf_kmeans_topk")  # rows-only: trained routing is not oracle SQL
def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the TRAINED coarse quantizer: identical serving plan to
    `ivf_topk` — assign cells as a pure JVM projection over broadcast
    centroid literals, search the probe's IVF_NPROBE nearest cells,
    exact-cosine re-rank — but the centroids are `kmeans_train`'s
    spherical-k-means output instead of the first-IVF_K-vectors
    stand-in.

    Why it exists: the 100-probe referee panel measured the trained
    router at 0.558-0.592 recall@10 vs 0.482 for the untrained one at
    IDENTICAL 25% corpus touch (ANN_RECALL_r08.json) — training the
    router is free recall at serving time. Training cost is paid once
    per session (kmeans_train's cache; same policy as embedding_kmeans /
    semdedup_candidates — and like those, this query is excluded from
    bench EXTRA because construction-time training would be
    mis-attributed to the serving plan).

    At 100 TB: the trained cell id is a write-time partition column
    exactly as in ivf_topk; a probe reads IVF_NPROBE partitions.
    Probe-0 parity with the referee's batch twin is pinned in
    tests/test_ann_recall_referee.py."""
    emb = load(spark, sf_dir, "embeddings")
    cents, _ = kmeans_train(spark, sf_dir)
    qrow = _probe_row(emb)
    if qrow is None or not cents:
        return _empty_topk(spark)
    qv = [float(x) for x in qrow["embedding"]]
    # The trained-cell column comes from the staged probe-independent
    # serving index (write-time partition column; zero-norm rows already
    # dropped by its _normalized stage).
    cells = ivf_route(qv, dict(enumerate(cents)))
    return _topk(_serving_index(spark, sf_dir, None, cents)
                 .filter(F.col("_cell").isin(cells)
                         & (F.col("vec_id") != QUERY_VEC_ID)),
                 cosine("embedding", _arr_sql(qv)))


@query("embedding_kmeans")  # rows-only: iterative training is not oracle SQL
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell summary of the trained spherical-k-means quantizer: size,
    mean and min cosine of members to their centroid. This is the training
    half of the IVF index (ivf_topk documents the serving half); the same
    cells double as SemDeDup-style partitions for within-cell near-dup
    search. Final assignment is one scan; training cost is
    KMEANS_MAX_ITER scans of a persisted (vec_id, nv) projection.

    At 100 TB: identical loop — centroid literals are KB-sized broadcasts,
    the per-iteration aggregate returns K rows regardless of corpus size,
    and the persisted projection is the only thing that scales.

    The summary reads the shared staged serving index (`_serving_index`
    — the same (nv, _cell) table ivf_kmeans_topk serves from, one build
    per session) instead of re-running the KMEANS_K-dot argmax per row
    per execution, and recomputes only the SELECTED cell's dot:
    dot(nv, cents[_cell]) is the argmax's own score, same
    zip_with/aggregate fold over the same literals, so the value is
    bit-identical to _best_cell's "s". `SPARK_GRAFT_STAGING=none`
    re-derives lineage."""
    cents, _ = kmeans_train(spark, sf_dir)
    if not cents:  # nothing trainable: no cells
        return spark.createDataFrame(
            [], "cell int, n_vecs bigint, avg_cos double, min_cos double")
    idx = _serving_index(spark, sf_dir, None, cents)
    cent_arr = "array(" + ", ".join(_arr_sql(c) for c in cents) + ")"
    sc = dot("nv", f"element_at({cent_arr}, _cell + 1)")
    return (idx.select(F.col("_cell").alias("cell"), sc.alias("sc"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 fround(F.avg("sc"), 4).alias("avg_cos"),
                 fround(F.min("sc"), 4).alias("min_cos"))
            .orderBy("cell"))


# --------------------------------------------------------------------------
# SemDeDup-style within-cell near-duplicate candidates — the scale path
# for embedding-cosine dedup (embedding_neardup_topk is the O(n²) exact
# twin). Abbas et al., "SemDeDup" (arXiv:2303.09540): k-means the corpus,
# search pairs only inside each cluster. Soft top-2 assignment halves the
# miss rate at the cluster boundary for 2× candidate rows.
# --------------------------------------------------------------------------

SEMDEDUP_SOFT = 2       # each vector joins its top-N cells
SEMDEDUP_CELL_CAP = 4096  # skew guard: cells above this are sub-split


@query("semdedup_candidates")  # rows-only: k-means cells are not oracle SQL
def semdedup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 near-dup pairs found WITHIN trained k-means cells (soft
    top-2 assignment), exact-cosine scored — same output shape as the
    exact twin embedding_neardup_topk, so recall is directly measurable:
    tests/test_similarity.py records 13/20 on this isotropic corpus whose
    'top pairs' sit at cos≈0.45-0.51 (the hardest case for any
    partition-based method — these are not duplicates, just the least
    dissimilar random pairs). For actual duplicates (cos→1) both members'
    argmax centroid coincides and co-location probability →1, which is
    the regime SemDeDup targets.

    At 100 TB: the quadratic stage is bounded per cell (skew guard
    sub-splits cells over SEMDEDUP_CELL_CAP rows by a hash of vec_id —
    recall within the split is sacrificed, the standard cap tradeoff);
    one shuffle by cell id; centroids stay a KB broadcast."""
    cents, _ = kmeans_train(spark, sf_dir)
    if not cents:  # nothing trainable: no candidate pairs
        return spark.createDataFrame(
            [], "id1 bigint, id2 bigint, cos_sim double")
    # Widen the assignment stage and STAGE the finished (cell, vec_id,
    # nv) side table — unstaged, the self-join consumes the whole
    # assignment pipeline TWICE (exchange reuse cannot cross the counts
    # broadcast boundary: K·SOFT dots, sort_array, explode, skew-split
    # re-key per side per execution, with the lazy `nv` alias
    # additionally collapsing into each centroid lambda — the
    # _serving_index hazard). Staged, both sides scan one materialized
    # table; at 100 TB that table IS the write-time cell layout the
    # docstring promises. `SPARK_GRAFT_STAGING=none` re-derives full
    # lineage.
    emb = _normalized(widen_scan(load(spark, sf_dir, "embeddings"),
                                 "vec_id"))
    scores = F.array(*[
        F.struct(dot("nv", _arr_sql(c)).alias("s"), F.lit(i).alias("c"))
        for i, c in enumerate(cents)])
    cells = F.slice(F.sort_array(scores, asc=False), 1, SEMDEDUP_SOFT)
    assigned = emb.select(
        "vec_id", "nv",
        F.explode(F.transform(cells, lambda x: x["c"])).alias("cell"))
    # Skew guard: sub-split any cell above the cap into ceil(n/cap)
    # hash sub-buckets (pairs straddling sub-buckets are sacrificed —
    # the documented cap tradeoff; inert on this corpus, every cell
    # far below the cap). The per-cell count table is K·SOFT rows —
    # a broadcast, never a shuffle of the corpus side.
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    side = stage(assigned
                 .join(F.broadcast(counts), on="cell")
                 .withColumn("_splits",
                             F.ceil(F.col("_n") / SEMDEDUP_CELL_CAP))
                 .withColumn("cell", F.concat_ws(
                     "#", F.col("cell"),
                     F.pmod(F.xxhash64("vec_id"),
                            F.col("_splits")).cast("int")))
                 .drop("_n", "_splits"))
    a = side.select(F.col("cell"), F.col("vec_id").alias("id1"),
                    F.col("nv").alias("nv1"))
    b = side.select(F.col("cell"), F.col("vec_id").alias("id2"),
                    F.col("nv").alias("nv2"))
    pairs = (a.join(b, on="cell")
             .filter(F.col("id1") < F.col("id2"))
             .select("id1", "id2",
                     fround(dot("nv1", "nv2"), 6).alias("cos_sim"))
             .groupBy("id1", "id2")
             .agg(F.first("cos_sim").alias("cos_sim")))
    return pairs.orderBy(F.desc("cos_sim"), "id1", "id2").limit(20)


# --------------------------------------------------------------------------
# Product-quantization ANN (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — the MEMORY scale path: a
# 64-dim float vector (256 B) compresses to PQ_M codebook indices
# (8 B at 16 codes/subspace), so the candidate scan reads byte codes,
# not floats — the 32× that makes billion-vector serving fit a cluster.
# Complements the two routing paths (LSH needs no training; IVF routes
# to cells): PQ compresses WITHIN whatever cells routing picked.
# --------------------------------------------------------------------------

PQ_M = 8          # subspaces (64-dim -> 8 x 8-dim)
PQ_KSUB = 16      # sub-centroids per subspace (4-bit codes)
PQ_TRAIN_N = 256  # training sample: vec_id < N (deterministic)
PQ_REFINE = 16    # ADC candidates = PQ_REFINE * TOP_K, exact re-ranked
# (16, not 8: the one ADC-quality knob that is monotone-nondecreasing
# at every tier — see ivf_pq_topk's docstring for the measured knob
# curve and the rejected residual/codebook alternatives)


def _pq_sample(spark: SparkSession, sf_dir: str):
    """(x, qv): the deterministic PQ training sample — vec_id <
    PQ_TRAIN_N of the unit-normalized corpus as an ndarray sorted by
    vec_id — plus the unit probe vector, which rides along from the
    same collect (QUERY_VEC_ID < PQ_TRAIN_N), saving a second Spark job
    at construction. Cached and shared by raw (`_pq_codebooks`) and
    residual (`_pq_residual_codebooks`) training. (None, None) when the
    probe is absent (zero-row corpus) or direction-less (zero norm,
    dropped by _normalized): nothing to train toward, no neighbors."""
    def build():
        import numpy as np

        emb = _normalized(load(spark, sf_dir, "embeddings"))
        rows = (emb.filter(F.col("vec_id") < PQ_TRAIN_N)
                .select("vec_id", "nv").collect())
        by_id = {int(r["vec_id"]): [float(v) for v in r["nv"]] for r in rows}
        if QUERY_VEC_ID not in by_id:
            return None, None
        return (np.array([by_id[i] for i in sorted(by_id)]),
                by_id[QUERY_VEC_ID])
    return session_cache(spark, sf_dir, ("embeddings",), ("pq_sample",),
                         build)


def _lloyd_books(x) -> list[list[list[float]]]:
    """Per-subspace codebooks via driver-side Lloyd over the sample
    matrix (raw vectors for `pq_topk`, residuals for `ivf_pq_topk`).
    numpy, fixed init (first PQ_KSUB sample rows), 10 iterations,
    empty cells keep their previous centroid: deterministic across
    runs. Output is PQ_M * PQ_KSUB * (dim/PQ_M) floats — KB-sized, a
    driver/broadcast object by design (same rule as the k-means
    centroid literals)."""
    dim = x.shape[1]
    dsub = dim // PQ_M
    books: list[list[list[float]]] = []
    for m in range(PQ_M):
        sub = x[:, m * dsub:(m + 1) * dsub]
        cents = sub[:PQ_KSUB].copy()
        for _ in range(10):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(PQ_KSUB):
                mask = assign == j
                if mask.any():
                    cents[j] = sub[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _pq_codebooks(spark: SparkSession, sf_dir: str
                  ) -> tuple[list[list[list[float]]], list[float]]:
    """(codebooks, query_vector): raw-vector per-subspace codebooks
    (see _pq_sample / _lloyd_books), cached per session like
    kmeans_train."""
    def build():
        x, qv = _pq_sample(spark, sf_dir)
        return (None, None) if x is None else (_lloyd_books(x), qv)
    return session_cache(spark, sf_dir, ("embeddings",), ("pq",), build)


def _pq_residual_codebooks(spark: SparkSession, sf_dir: str):
    """(codebooks, query_vector, coarse_centroids): RESIDUAL-encoded PQ
    training — the FAISS IVFADC design (Jégou et al., TPAMI 2011 §IV:
    quantize the residual r = x − c(x) of each vector from its assigned
    coarse centroid, not the raw vector). Residuals concentrate near
    the origin with far smaller variance than raw vectors, so the same
    PQ_KSUB sub-centroids spend their resolution on a tighter
    distribution — the intended fix for the ADC-error gap the raw-PQ
    sf0.1 panel exposed (recall 0.500 at 100% touch, ANN_RECALL_r10:
    true neighbors barely above background cos drown in quantization
    noise). At IVF_K=16 it measured worse than raw PQ (see ivf_pq_topk);
    the referee keeps it as a measured negative.

    Training: assign each sample vector to its nearest trained coarse
    centroid (kmeans_train — the same quantizer that routes at serving
    time; dot on unit vectors, ties to the higher index, matching
    _best_cell's sort_array rule), subtract, Lloyd the residuals
    per-subspace. Cached like the raw books; returns (None, None,
    None) when the corpus is untrainable or the probe absent."""
    def build():
        import numpy as np

        cents, _ = kmeans_train(spark, sf_dir)
        x, qv = _pq_sample(spark, sf_dir)
        if not cents or x is None:
            return None, None, None
        C = np.array(cents)
        d = x @ C.T
        # argmax with ties to the HIGHER index (_best_cell's rule: struct
        # sort descends on (score, cell), so equal scores pick the larger c)
        assign = (d.shape[1] - 1) - np.argmax(d[:, ::-1], axis=1)
        return _lloyd_books(x - C[assign]), qv, cents
    return session_cache(spark, sf_dir, ("embeddings",), ("pq_res",), build)


def _pq_encode_sql(books: list[list[list[float]]], dsub: int,
                   vec: str = "nv") -> str:
    """codes: array<int> of length PQ_M — per subspace, the index of the
    nearest sub-centroid (squared-L2 over a slice of the `vec` column:
    the unit vector `nv` for raw PQ, the residual `rv` for IVFADC), as
    an argmin via array_sort over (distance, index) structs.

    Emitted as ONE UNROLLED SQL string so construction is a single
    parse on the JVM: building the same 8x16 tree through Column
    operators cost ~5 s of py4j round-trips per construction (measured;
    execution was fine). The tempting alternative — nested
    transform()s over a literal 3-D codebook array — parses fast but
    REBUILDS the 1024-literal array per lambda element at runtime
    (CreateArray under a lambda escapes constant folding): measured
    3x slower execution. Unrolled text keeps each candidate's codebook
    row a small foldable literal. Still zero UDF, still codegen."""
    subs = []
    for m, book in enumerate(books):
        sub = f"slice({vec}, {m * dsub + 1}, {dsub})"
        cands = ",".join(
            f"struct(aggregate(zip_with({sub}, {_arr_sql(c)}, "
            f"(x, y) -> (x - y) * (x - y)), 0.0D, (a, v) -> a + v) AS d, "
            f"{j} AS j)"
            for j, c in enumerate(book))
        subs.append(f"element_at(array_sort(array({cands})), 1).j")
    return "array(" + ",".join(subs) + ")"


def _residual_sql(cents: list[list[float]]) -> str:
    """rv: the vector's residual from its assigned coarse centroid,
    nv − cents[_cell] — the quantity IVFADC's codebooks encode. A CASE
    over _cell (not element_at into a 2-D literal array): CASE
    evaluates only the matched branch's 64-literal centroid per row,
    where a literal array-of-arrays would rebuild all K·dim literals
    per row (the same constant-folding escape _pq_encode_sql documents
    for nested codebook literals)."""
    branches = " ".join(
        f"WHEN {i} THEN zip_with(nv, {_arr_sql(c)}, (x, y) -> x - y)"
        for i, c in enumerate(cents))
    return f"CASE _cell {branches} END"


# The serving index is staged and cached per session because, built
# inline, the PQ/IVF serving queries recomputed their probe-INDEPENDENT
# index columns — unit-norm `nv`, trained-cell `_cell`, PQ `codes` — on
# every execution, serially in the one-row-group scan task; worse, the
# lazy `nv` alias collapses into each consumer lambda so the norm
# aggregate re-evaluated per element per centroid/codeword (the
# dedup.py `ngrams_of_w` hazard, here at 64 els × 16 cells × 8
# subspaces). At 100 TB these columns are WRITE-TIME table layout (the
# pq_topk/ivf_pq_topk docstrings' stated design: cells are the partition
# column, codes a stored column); locally the staged digest is that
# layout, built once per session in the cold pass (OPTIMIZATION_r12.md
# has the timings). Values are identical: staging is pure
# materialization, and `SPARK_GRAFT_STAGING=none` re-derives from raw
# lineage.


def _serving_index(spark: SparkSession, sf_dir: str,
                   books, cents) -> DataFrame:
    """The staged (vec_id, label, embedding, nv[, _cell][, codes])
    serving-index table — probe-independent columns only, so every probe
    query over the same trained state shares one build. ``books`` /
    ``cents`` are the cached deterministic training outputs (or
    None/[] when a consumer does not need that column)."""
    def build():
        idx = _normalized(widen_scan(load(spark, sf_dir, "embeddings"),
                                     "vec_id"))
        if cents:
            idx = idx.withColumn("_cell", _best_cell(cents)["c"].cast("int"))
        if books is not None:
            dsub = len(books[0][0])  # sub-vector width
            idx = idx.withColumn("codes", F.expr(_pq_encode_sql(books, dsub)))
        return stage(idx)
    # Keyed by the trained VALUES, not only their shapes: a caller
    # retraining with different hyperparameters (same k) in one session
    # must not be served a stale _cell/codes column. repr() of Python
    # floats round-trips exactly, so equal training outputs key
    # identically and any value drift forces a fresh build.
    digest = hashlib.md5(repr((books, cents)).encode()).hexdigest()
    return session_cache(spark, sf_dir, ("embeddings",),
                         ("serving_index", digest), build)


def adc_luts(qv: list[float], books: list[list[list[float]]]
             ) -> list[list[float]]:
    """Query-side ADC lookup tables: lut[m][j] = q_m . c_mj, the probe's
    m-th sub-vector dotted with codeword j of subspace m (dot on
    unit-normalized vectors ~ cosine, reconstructed additively across
    subspaces)."""
    dsub = len(books[0][0])
    return [[sum(a * b for a, b in zip(qv[m * dsub:(m + 1) * dsub], c))
             for c in book] for m, book in enumerate(books)]


def _adc_topk(coded: DataFrame, qv: list[float],
              books: list[list[list[float]]]) -> DataFrame:
    """The PQ serving tail over a (filtered) serving-index frame: the
    ADC score is PQ_M element_at() lookups into literal LUT arrays,
    the top PQ_REFINE*TOP_K candidates by it are exact-cosine
    re-ranked on their unit vectors."""
    adc_sql = " + ".join(
        f"element_at({_arr_sql(lut)}, element_at(codes, {m + 1}) + 1)"
        for m, lut in enumerate(adc_luts(qv, books)))
    cands = (coded.select("vec_id", "label", "nv",
                          F.expr(adc_sql).alias("adc_score"))
             .orderBy(F.desc("adc_score"), "vec_id")
             .limit(PQ_REFINE * TOP_K))
    return _topk(cands, dot("nv", _arr_sql(qv)))


@query("pq_topk")  # rows-only: trained codebooks are not oracle SQL
def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k: encode the corpus to PQ_M 4-bit codes, score by
    asymmetric distance (query-side lookup tables, one add per
    subspace), exact-cosine re-rank the top PQ_REFINE*TOP_K.

    Plan: encoding is a scan-side projection (argmin over literal
    codebooks); the ADC score is PQ_M element_at() lookups into literal
    LUT arrays + adds — no join, no shuffle until the final top-k
    (TakeOrderedAndProject). Exact re-rank touches only the surviving
    candidates' float vectors. At 100 TB the codes are a WRITE-TIME
    column (8 B/vector beside the 256 B vector): the serving scan reads
    (vec_id, codes) only — 32× less I/O — and composes with IVF cell
    partitioning (route, then ADC-scan the routed partitions).
    Recall@10 vs knn_brute_force is measured in
    tests/test_similarity.py (registered probe) and across 100-probe
    panels in ANN_RECALL_r08.json: mean 0.785/0.500/0.912 at
    sf0.01/sf0.1/sf1 — the sf0.1 dip is the ADC-error regime (when
    true neighbors sit barely above the background cos, impostors
    within quantization error crowd the PQ_REFINE window; the sf1
    near-dup corpus restores 0.91 because the neighbor gap dwarfs the
    quantization noise)."""
    books, qv = _pq_codebooks(spark, sf_dir)
    if books is None:  # untrainable corpus / absent probe
        return _empty_topk(spark)
    # codes come from the staged probe-independent serving index
    # (write-time column — see _serving_index)
    coded = _serving_index(spark, sf_dir, books, [])
    return _adc_topk(coded.filter(F.col("vec_id") != QUERY_VEC_ID), qv, books)


@query("ivf_pq_topk")  # rows-only: trained quantizers are not oracle SQL
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS billion-scale serving architecture composed
    from this module's pieces: IVF cells ROUTE the probe to IVF_NPROBE
    cells (partition pruning at scale), PQ codes SCORE the routed
    candidates by ADC (8 B/vector instead of 256 B), and exact cosine
    re-ranks the survivors. Memory × routing compose multiplicatively:
    the probe touches nprobe/K of the corpus AND reads 32× fewer bytes
    per touched vector.

    Plan: one scan; cell assignment and PQ codes are both scan-side
    projections (literal centroids / codebooks, unrolled-SQL form —
    see _pq_encode_sql for why); the cell filter cuts the scan output
    before ADC ranks it; TakeOrderedAndProject twice (ADC candidates,
    then exact top-k). Zero exchanges, zero Python. At 100 TB: cells
    are the partition column, codes a stored column — the serving scan
    reads (vec_id, codes) from nprobe partitions only. Recall vs brute
    force measured in tests/test_similarity.py (routing recall bounds
    it above by the routing path's).

    The coarse quantizer is TRAINED: routing reuses `kmeans_train`'s
    spherical-k-means centroids exactly as `ivf_kmeans_topk` does,
    because the untrained first-IVF_K-vectors router was the weakest
    registered ANN path (panel recall 0.369 at sf0.1 vs 0.558 for the
    trained router at identical nprobe/K touch, ANN_RECALL_r09.json)
    and FAISS-style IVF-PQ is precisely where a trained coarse
    quantizer pays most: the PQ_REFINE window can only rescue
    candidates the router actually routed to.

    Residual encoding (FAISS's IVFADC) was MEASURED AND REJECTED: with
    IVF_K=16 cells on the weak-similarity sf0.1 corpus, residuals are
    a 16-mode mixture that quantizes WORSE than raw unit vectors
    (referee panel 0.371 vs 0.405 raw at sf0.1; pooled-residual,
    per-cell-residual, and 32-code/1024-sample variants all lose at
    one tier or another — per-cell 0.50/refine=8, ksub=32 0.9175 vs
    0.960 at sf1, numpy sim over the exact pipeline). Residuals
    concentrate only when nlist is large; at nlist=16 the coarse
    quantizer explains too little variance. The machinery stays
    (`_pq_residual_codebooks`, `_residual_sql`) and the referee
    publishes the residual panel as the measured negative
    (ANN_RECALL_r11 `ivf_pq_residual`). What DID close the gap, and is
    provably monotone-nondecreasing at every tier (a superset of ADC
    candidates exact-reranked can only raise recall@10): widening the
    refine window — PQ_REFINE 8 -> 16 lifts the sf0.1 panel 0.405 ->
    ~0.54 against a 0.59 routing ceiling (knob curve: 8/16/32 ->
    0.445/0.5375/0.5775 sim, ceiling 0.59). Training is cached per
    session (kmeans_train / _pq_codebooks cache); the serving plan
    shape is one scan, literal centroids/codebooks/LUTs, zero
    exchanges, zero Python."""
    books, qv = _pq_codebooks(spark, sf_dir)
    if books is None:  # untrainable corpus / absent probe
        return _empty_topk(spark)
    # trained coarse quantizer (unit-norm centroids; qv from
    # _pq_sample is the unit-normalized probe); zero-norm vectors were
    # already dropped by _normalized — they have no direction to route
    cents, _ = kmeans_train(spark, sf_dir)
    if not cents:
        return _empty_topk(spark)
    # _cell and codes come from the staged probe-independent serving
    # index (the write-time partition column and stored codes column of
    # the 100 TB layout), shared with pq_topk/ivf_kmeans_topk
    cells = ivf_route(qv, dict(enumerate(cents)))
    routed = (_serving_index(spark, sf_dir, books, cents)
              .filter(F.col("_cell").isin(cells)
                      & (F.col("vec_id") != QUERY_VEC_ID)))
    return _adc_topk(routed, qv, books)
