"""Connected components — near-duplicate CLUSTERS from pair graphs.

Pairwise dedup output (ngram/MinHash/SimHash pairs) is not yet a dedup
decision: duplicates are transitive (A~B, B~C ⇒ {A,B,C} is one group even
if A,C never paired), so corpus dedup keeps ONE representative per
CONNECTED COMPONENT of the pair graph. This module closes that gap.

Algorithm: iterative min-label propagation — every node starts labeled
with itself; each round takes the min of its own and its neighbors'
labels; fixpoint = every node carries its component's minimum id, which
doubles as the representative. Rounds needed = graph diameter, and
near-dup components are overwhelmingly tiny cliques (diameter 1-2), so
convergence is 2-3 joins in practice with a hard iteration cap.

Scale notes: this is the driver-loop-with-converged-check shape that
GraphX/GraphFrames CC uses internally — per-round cost is one shuffle
join on node id + one aggregate; `localCheckpoint` truncates lineage each
round so plan depth stays constant instead of growing per iteration (at
iteration k an un-checkpointed plan replays all k-1 prior joins). The
driver-side `.count()` per round is a scalar convergence probe, not a
data collect.

These loop checkpoints are deliberately NOT routed through the
env-gated `staging.stage()`: the loops NEED lineage
truncation — under persist the plan would deepen every round and the
fixpoint's analysis cost would explode. The executor-loss exposure is
therefore accepted here and bounded: each round's state is a K-row
label table, so a lost localCheckpoint block fails only the in-flight
build, which restarts from the (cheap) edge list — not a 100 TB rescan.
On dynamically-allocated clusters, keep executors holding loop state
alive across rounds (`spark.dynamicAllocation.cachedExecutorIdleTimeout`
above the loop's wall-clock) or disable dynamic allocation for the CC
job; the converged RESULT is then cached per session (below) so the
loop runs once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datasets import load, session_cache
from ..queries import query
from .dedup import _DUCK_WORDS, JACCARD_T, duck_ngrams


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_iter: int = 25) -> DataFrame:
    """(node, cluster_id) for every node in `edges`; cluster_id is the
    smallest node id in the component (the canonical representative).
    Nodes with no edges are not emitted — a doc with no near-dup pair is
    its own trivial cluster and needs no row."""
    # Checkpoint the edge list BEFORE symmetrizing: the union's two
    # branches would otherwise each re-run the (possibly expensive)
    # upstream pair computation — checkpoint first and the swap reads the
    # materialized edges twice instead (measured 2× on the jaccard graph).
    edges = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .localCheckpoint())
    sym = (edges.unionAll(edges.select(F.col("b").alias("a"),
                                       F.col("a").alias("b")))
           .localCheckpoint())
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .select("node", F.col("node").alias("label"))
              .localCheckpoint())
    from pyspark.sql import Observation

    changed = -1
    for _ in range(max_iter):
        nbr = (sym.join(labels, sym["b"] == labels["node"])
               .groupBy(sym["a"].alias("node"))
               .agg(F.min("label").alias("nbr_min")))
        # The convergence probe rides the SAME job that materializes the
        # round's labels: min-labels only ever decrease, so changed =
        # (new < old), summed via an Observation that localCheckpoint's
        # materialization triggers (verified empirically) — one job per
        # round instead of checkpoint + a second labels⋈labels count.
        # Local wall-clock is a wash on this corpus's ~200-node graphs
        # (3.16 s vs 3.07 s median at sf0.1 — the count join was never
        # the cost here); the win is structural: per-round scheduling
        # halves, and the deleted join's cost grew with node count.
        new_label = F.least(F.col("l.label"),
                            F.coalesce(F.col("r.nbr_min"),
                                       F.col("l.label")))
        obs = Observation()
        new_labels = (labels.alias("l")
                      .join(nbr.alias("r"), "node", "left")
                      .select(F.col("node"), new_label.alias("label"),
                              (new_label < F.col("l.label")).alias("_chg"))
                      .observe(obs, F.sum(
                          F.when(F.col("_chg"), 1).otherwise(0))
                          .alias("changed"))
                      .drop("_chg")
                      .localCheckpoint())
        changed = int(obs.get["changed"] or 0)
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Exiting via the cap means labels have NOT reached the fixpoint:
        # some nodes still carry a non-minimal label and the returned
        # cluster ids would be silently wrong. Min-label propagation needs
        # `diameter` rounds, so hitting 25 implies a pathological chain
        # graph, not a near-dup clique — surface it instead of guessing.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter for "
            f"graphs with diameter > {max_iter}")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def _cached_clusters(spark: SparkSession, sf_dir: str, cc) -> DataFrame:
    """`cc` (a connected-components algorithm) over the exact-Jaccard
    pair graph, built once per session: both algorithms converge
    eagerly, so repeat constructions reuse the checkpoint-backed
    result instead of re-running the driver loop."""
    from .dedup import ngram_jaccard_threshold

    return session_cache(
        spark, sf_dir, ("documents",), (cc.__name__,),
        lambda: cc(ngram_jaccard_threshold(spark, sf_dir)
                   .select("doc1", "doc2"), "doc1", "doc2"))


# Shared recursive-CTE oracle prefix: exact-Jaccard edges (J >= 0.6)
# over 3-gram shingles -> symmetric closure -> transitive reachability.
# Split at the edge list: _DUCK_EDGE_CTES is the
# polynomial part (shingle self-join), reusable by the driver_sim
# union-find referee; the recursive `reach` closure appended below is
# what explodes at sf>=1 (~26 min per sibling query at sf1 for ~25 s of
# Spark work). The concatenation keeps every registered oracle string
# byte-identical to the pre-split form.
_DUCK_EDGE_CTES = f"""
    WITH RECURSIVE
    sh AS (
        SELECT doc_id, unnest({duck_ngrams(3)}) AS shingle
        FROM documents WHERE len({_DUCK_WORDS}) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter_cnt
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT i.doc1, i.doc2
        FROM inter i
        JOIN sizes s1 ON i.doc1 = s1.doc_id
        JOIN sizes s2 ON i.doc2 = s2.doc_id
        WHERE CAST(i.inter_cnt AS DOUBLE) / (s1.n + s2.n - i.inter_cnt)
              >= {JACCARD_T}
    )"""

_DUCK_CC_CTES = _DUCK_EDGE_CTES + """,
    sym AS (SELECT doc1 AS a, doc2 AS b FROM edges
            UNION ALL SELECT doc2, doc1 FROM edges),
    reach(node, r) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
    )"""


@query(
    "dedup_clusters",
    oracle=_DUCK_CC_CTES + """
    SELECT node AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the exact-Jaccard pair graph (J >= 0.6):
    every clustered doc labeled with its component's min doc_id — the doc
    to KEEP. The oracle computes the same components by recursive
    transitive closure (tractable at oracle scale; the Spark side's
    label propagation is the 100 TB path).

    Cached per session: label propagation converges eagerly (the driver
    loop materializes each round), and its three registered consumers
    (this query, dedup_keep_best, dedup_cluster_size_histogram) would
    each re-trigger the full build. The converged frame is
    localCheckpoint-backed — K rows pinned on executors — so reuse
    costs one block read, not a propagation run."""
    return _cached_clusters(spark, sf_dir, connected_components)


@query(
    "dedup_keep_best",
    oracle=_DUCK_CC_CTES + """
    , clusters AS (
        SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT c.cluster_id, c.doc_id,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY len(d.text) DESC, c.doc_id) AS rn,
               count(*) OVER (PARTITION BY c.cluster_id) AS n
        FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, doc_id AS keep_doc_id, n - 1 AS dropped
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization — the dedup DECISION the cluster labels exist
    for: per near-dup cluster keep the longest member (ties -> lowest
    doc_id; truncated copies are the common near-dup, so longest is the
    information-preserving representative), count the rest as dropped.

    One aggregate past dedup_clusters: the cluster table joins documents
    on doc_id (co-partitioned with the corpus scan's natural key), then
    a single max_by hash-aggregate on cluster_id — partial map-side, no
    window, no second shuffle of the corpus. The oracle ranks the same
    clusters with a window; max_by(doc_id, struct(tl, -doc_id)) encodes
    the identical (length DESC, doc_id ASC) order."""
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", F.length("text").alias("tl")))
    clusters = dedup_clusters(spark, sf_dir)
    return (clusters.join(docs, "doc_id")
            .groupBy("cluster_id")
            .agg(F.expr("max_by(doc_id, struct(tl, -doc_id))")
                 .alias("keep_doc_id"),
                 (F.count(F.lit(1)) - F.lit(1)).cast("bigint")
                 .alias("dropped")))


def connected_components_twostar(edges: DataFrame, src: str, dst: str,
                                 max_iter: int = 20) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the O(log n)-round algorithm for HIGH-DIAMETER graphs,
    complementing `connected_components`' min-label propagation (which
    needs O(diameter) rounds: right for near-dup cliques of diameter
    1-2, hopeless on a million-node chain).

    Each round rewires the edge set toward a star per component:
      large-star: every node's LARGER neighbors re-attach to the
        minimum of its neighborhood (incl. itself);
      small-star: every node's smaller-or-equal neighbors re-attach to
        that minimum.
    Both are one groupBy(node) aggregate + one re-emit join per
    half-round; the edge set provably shrinks toward (node, root) pairs
    where root = component minimum. Convergence check = "did any edge
    change" (a count, like the propagation loop); localCheckpoint
    truncates lineage per round.

    Returns (doc_id, cluster_id) for every non-isolated node, identical
    contract to `connected_components` — the chain-graph test shows the
    round-count separation (diameter-64 path: 2-star converges in ~6
    rounds; propagation's cap of 25 would need 64)."""
    e = (edges.select(F.col(src).cast("long").alias("a"),
                      F.col(dst).cast("long").alias("b"))
         .filter(F.col("a") != F.col("b"))
         .select(F.greatest("a", "b").alias("u"),
                 F.least("a", "b").alias("v"))
         .distinct().localCheckpoint())

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhood of u = {v | (u,v) or (v,u)}; m = min(nbrs ∪ {u})
        sym = e.unionAll(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
        m = (sym.groupBy("u")
             .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        joined = sym.join(m, "u")
        if large:  # strictly-larger neighbors attach to m
            out = (joined.filter(F.col("v") > F.col("u"))
                   .select(F.col("v").alias("u"), F.col("m").alias("v")))
        else:      # smaller-or-equal neighbors AND the node itself
            out = (joined.filter(F.col("v") <= F.col("u"))
                   .select(F.col("v").alias("u"), F.col("m").alias("v"))
                   .unionAll(m.select(F.col("u"), F.col("m").alias("v"))))
        return (out.filter(F.col("u") != F.col("v"))
                .select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
                .distinct())

    from pyspark.sql import Observation

    def _materialize(edges_df: DataFrame):
        """(checkpointed edges, (count, hash-sum) set signature) in ONE
        job: the signature rides the checkpoint via an Observation."""
        obs = Observation()
        ck = (edges_df
              .observe(obs,
                       F.count(F.lit(1)).alias("n"),
                       # decimal(38,0) accumulator: a BIGINT sum of
                       # xxhash64 values overflows under ANSI
                       F.sum(F.xxhash64("u", "v")
                             .cast("decimal(38,0)")).alias("h"))
              .localCheckpoint())
        got = obs.get
        return ck, (got["n"], got["h"])

    e, sig = _materialize(e)
    for _ in range(max_iter):
        nxt, nsig = _materialize(_star(_star(e, large=True), large=False))
        # Cheap per-round probe: (count, xxhash64-sum) signature equality
        # — one aggregate riding the materialization job, vs two
        # exceptAll joins per round. A hash-sum collision could fake
        # convergence (~2^-64), so equality is CONFIRMED with the exact
        # set compare once, at the apparent fixpoint only.
        if nsig == sig and (nxt.exceptAll(e).limit(1).count()
                            + e.exceptAll(nxt).limit(1).count()) == 0:
            e = nxt
            break
        e, sig = nxt, nsig
    else:
        raise RuntimeError(
            f"two-star CC did not converge in {max_iter} rounds")
    # fixpoint: every edge is (node, root) with root = component min
    roots = e.select(F.col("u").alias("doc_id"),
                     F.col("v").alias("cluster_id"))
    # roots themselves are cluster members too
    self_rows = (e.select(F.col("v").alias("doc_id"))
                 .distinct()
                 .withColumn("cluster_id", F.col("doc_id")))
    return roots.unionByName(self_rows).distinct()


@query(
    "dedup_clusters_twostar",
    oracle=_DUCK_CC_CTES + """
    SELECT node AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters' exact semantics through the two-star algorithm —
    SAME recursive-CTE oracle, so both CC implementations are hash-
    checked against the same ground truth. Kept as a registered twin
    because the right algorithm is graph-shape-dependent: propagation
    wins on near-dup cliques (2-3 rounds), two-star on chain-heavy
    graphs (O(log n) rounds regardless of diameter).

    Cached per session like dedup_clusters."""
    return _cached_clusters(spark, sf_dir, connected_components_twostar)


@query(
    "dedup_cluster_size_histogram",
    oracle=_DUCK_CC_CTES + """
    , clusters AS (
        SELECT node AS doc_id, min(r) AS cluster_id
        FROM reach GROUP BY node),
    csizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM clusters GROUP BY cluster_id)
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM csizes GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size profile — the audit view a dedup run gets
    judged by (a corpus whose histogram has a fat tail of giant clusters
    signals boilerplate or a broken similarity threshold, not genuine
    near-dups; DataComp/FineWeb-style dedup reports lead with exactly
    this table). Two K-row aggregates past dedup_clusters: cluster count
    then histogram — the corpus never reshuffles."""
    clusters = dedup_clusters(spark, sf_dir)
    sizes = (clusters.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters")))
