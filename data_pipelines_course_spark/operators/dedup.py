"""Deduplication operators over the documents table: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Engine-surface additions for large-scale training-data pipelines (build
brief): none exist in the reference, but they generalize its tokenizer
surface (A6/F1-F2) to the dedup shapes a 100 TB corpus needs.

Scale design:
- Exact dedup: one hash-aggregate on md5(text) — a single shuffle keyed by
  a uniformly distributed 128-bit hash; no skew.
- n-gram Jaccard: exact pairwise similarity restricted to pairs sharing at
  least one shingle (the shingle self-join IS the candidate filter).
  Quadratic in the worst case — used as the small-scale oracle-checked
  ground truth for the LSH paths.
- MinHash+LSH: shingle → 32 min-hashes → 8 bands × 4 rows → band-bucket
  self-join. Cost is O(n · bands) plus the bucket joins: only documents
  agreeing on a full band ever meet, so at 100 TB nothing quadratic
  happens. All hashing is xxhash64 + affine permutations in int64 range
  (a < 2^31, h masked to 32 bits ⇒ a*h+b < 2^63, no overflow).
- SimHash: 64-bit signature from per-token hash sign sums; near-dup =
  Hamming ≤ 3 found by pigeonhole banding on 4×16-bit chunks.

No SQL oracle for the LSH/SimHash paths (hash-permutation semantics are
not expressible in DuckDB's function set); they get rows-only driver
checks plus pytest ground-truth tests against planted duplicates.

DIGEST STAGING / cluster resilience: every multiply-consumed digest
table in this module (shingle hashes, signatures, band tables, simhash
chunks, gram hashes) is materialized through ``staging.stage()``,
because exchange reuse does not fire across a BroadcastExchange
boundary and each consumer would otherwise re-run the digest pipeline.
The default strategy is ``localCheckpoint(eager=False)`` — fastest, but
it stores blocks on executors WITHOUT lineage fallback: on a real
cluster, losing ONE executor (spot kill, dynamic-allocation idle reap)
makes the checkpointed partitions unrecoverable and fails the job. Set
``SPARK_GRAFT_STAGING=persist`` on preemptible/dynamic clusters —
MEMORY_AND_DISK keeps lineage, so lost blocks recompute instead of
failing; values are identical in every mode. See ``staging.py`` for the
full trade-off matrix, including ``none`` for plan audits.

TEXT DIGESTS: how a document becomes a digest is defined once, here —
the word split (``_WORDS``/``_DUCK_WORDS``), distinct word n-grams
(``ngrams_of_w``/``duck_ngrams``/``ngram_arrays``), hashed shingles
(``sized_shingle_hashes``), 5-gram hashes and the benchmark
contamination sets (``gram_hashes``/``bench_grams``/
``contaminated_ids``), and MinHash band keys and estimates
(``minhash_bands``/``sig_agreement``). The curation, quality, graph,
streaming and training-run modules build on these builders.

PRECONDITION (whole module, and the similarity/kNN family): doc_id is a
unique document identity. Digests (shingle sets, signatures, span
hashes) are computed PER ROW, so a duplicated doc_id carrying two
different texts makes every doc_id-keyed result ambiguous. Violations
are an upstream data fault — detect with audit.key_uniqueness_report
(registered as the `key_uniqueness_report` query, which runs this gate
over lineitem's composite PK — the one the driver generator violates) or
heal with dedup_exact/keep-first BEFORE these operators (PK-violation
axis, tests/test_adversarial.py axis 9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..datasets import load, shuffle_width, widen_scan
from ..functions.scalar import fround
from ..queries import query
from ..staging import stage


def _fanout(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition by join key with an EXPLICIT partition count.

    The similarity self-joins below expand a few MB of (doc_id, key) rows
    into millions of candidate pairs — tiny shuffle bytes, heavy CPU. AQE
    sizes partitions by shuffle bytes, so it coalesces these stages down
    to ONE partition and serializes the whole pair-expansion (36.8 s in a
    single task at sf0.1). An explicit numPartitions repartition
    (REPARTITION_BY_NUM) is exempt from AQE coalescing, pins the join
    stage's parallelism, and — being keyed on the join columns — lets
    Catalyst reuse a single exchange for both sides of the self-join, so
    shingling/banding is computed once, not twice."""
    n = shuffle_width(df.sparkSession)
    return df.repartition(n, *[F.col(c) for c in cols])


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy).
# --------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id,
           count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (docs.groupBy(F.md5("text").alias("fp"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))


# --------------------------------------------------------------------------
# Text digests: lowercase whitespace words → distinct word n-grams, distinct
# per document. Pure HOF expressions; one Spark and one DuckDB form each.
# --------------------------------------------------------------------------

_WORDS = "split(lower(trim(text)), '\\\\s+')"
_DUCK_WORDS = "string_split_regex(lower(trim(text)), '\\s+')"


def ngrams_of_w(n: int) -> str:
    """Spark SQL for the distinct word n-grams of a STAGED words column
    `w` (n >= 2). Never inline _WORDS into the lambda body: the lambda
    re-evaluates the split per element, turning the per-doc cost
    O(tokens²) (16× on repetition_ratio's identical shape). The staging
    projections survive CollapseProject because each alias is non-cheap
    and referenced more than once."""
    words = ", ".join(["element_at(w, i)"]
                      + [f"element_at(w, i + {k})" for k in range(1, n)])
    return (f"array_distinct(transform(sequence(1, size(w) - {n - 1}),"
            f" i -> concat_ws(' ', {words})))")


def duck_ngrams(n: int) -> str:
    """DuckDB twin of `ngrams_of_w` over the raw `text` column."""
    words = " || ' ' || ".join([f"{_DUCK_WORDS}[i]"]
                               + [f"{_DUCK_WORDS}[i+{k}]" for k in range(1, n)])
    return (f"list_distinct(list_transform(range(1, len({_DUCK_WORDS})"
            f" - {n - 2}), i -> {words}))")


def ngram_arrays(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, grams): the distinct word n-gram array per document;
    documents with < n words dropped. split() runs once per row, on a
    widened scan (the HOF stage is the heavy per-row map)."""
    return (widen_scan(docs, "doc_id")
            .select("doc_id", F.expr(_WORDS).alias("w"))
            .filter(F.size("w") >= n)
            .select("doc_id", F.expr(ngrams_of_w(n)).alias("grams")))


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct 3-gram pairs; documents with <3 words
    dropped."""
    return (ngram_arrays(docs, 3)
            .select("doc_id", F.explode("grams").alias("shingle")))


def sized_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, n, h): per-doc distinct-shingle count carried inline with
    each 64-bit shingle hash, fanned out on h and staged.

    Two deliberate scale moves: (a) the set size n is computed from the
    shingle ARRAY before exploding, so no separate sizes aggregation (and
    no extra shuffle) is ever needed downstream; (b) the join key is
    xxhash64(shingle), 8 bytes, instead of the ~25-byte shingle string —
    at 100 TB the shingle self-join's shuffle volume drops ~3× for a
    collision risk of ~(distinct shingles)²/2⁶⁴, which is negligible
    against the LSH paths' intrinsic approximation. Both consumers
    self-join it on h, so the table is staged: otherwise the self-join's
    broadcast build side re-runs the whole tokenize+shingle pipeline."""
    hashed = (ngram_arrays(docs, 3)
              .select("doc_id", F.size("grams").alias("n"),
                      F.explode("grams").alias("shingle"))
              .select("doc_id", "n", F.xxhash64("shingle").alias("h")))
    return _fanout(hashed, "h").transform(stage)


# --------------------------------------------------------------------------
# Exact n-gram Jaccard similarity — top-20 most similar pairs. The shingle
# self-join restricts to pairs with ≥1 shared shingle; |A∩B| is the join
# match count and |A∪B| = |A|+|B|−|A∩B|. Integer counts → the jaccard
# double is bit-identical on both engines.
# --------------------------------------------------------------------------

def _pair_jaccard(docs: DataFrame) -> DataFrame:
    """(doc1, doc2, jaccard) for every pair sharing ≥1 shingle.

    One self-join on the 8-byte shingle hash with set sizes carried
    inline (see sized_shingle_hashes) — |A∩B| is the per-pair match count
    and |A∪B| = n1 + n2 − |A∩B|, so the whole computation is join → agg,
    with no sizes re-join. Integer counts → the jaccard double is
    bit-identical on both engines."""
    sh = sized_shingle_hashes(docs)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc1"),
                     F.col("b.doc_id").alias("doc2"),
                     F.col("a.n").alias("n1"), F.col("b.n").alias("n2"))
             .groupBy("doc1", "doc2")
             .agg(F.count(F.lit(1)).alias("inter_cnt"),
                  F.max("n1").alias("n1"), F.max("n2").alias("n2")))
    return inter.select(
        "doc1", "doc2",
        (F.col("inter_cnt").cast("double")
         / (F.col("n1") + F.col("n2") - F.col("inter_cnt"))).alias("_jac"))


@query(
    "ngram_jaccard_topk",
    scale_twin="ngram_jaccard_threshold_prefix",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({duck_ngrams(3)}) AS shingle
        FROM documents WHERE len({_DUCK_WORDS}) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter_cnt
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc1, i.doc2,
           floor((CAST(i.inter_cnt AS DOUBLE)
                 / (s1.n + s2.n - i.inter_cnt)) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM inter i
    JOIN sizes s1 ON i.doc1 = s1.doc_id
    JOIN sizes s2 ON i.doc2 = s2.doc_id
    ORDER BY jaccard DESC, doc1, doc2 LIMIT 20
    """,
)
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pair_jaccard(load(spark, sf_dir, "documents"))
    return (pairs
            .select("doc1", "doc2", fround(F.col("_jac"), 6).alias("jaccard"))
            .orderBy(F.desc("jaccard"), "doc1", "doc2")
            .limit(20))


# --------------------------------------------------------------------------
# MinHash + LSH near-dup candidate pairs.
# --------------------------------------------------------------------------

NUM_PERM = 32
BANDS = 8
ROWS_PER_BAND = NUM_PERM // BANDS
_MERSENNE_P = 4294967311  # smallest prime > 2^32
_MASK32 = 0xFFFFFFFF


def _perm_params(n: int = NUM_PERM) -> list[tuple[int, int]]:
    """Deterministic affine permutation params via a fixed LCG (no runtime
    randomness — signatures are stable across runs and engines)."""
    params, state = [], 88172645463325252
    for _ in range(n):
        pair = []
        for _ in range(2):
            # xorshift64 — deterministic, well-mixed
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            pair.append(state % (2**31 - 1) + 1)
        params.append((pair[0], pair[1]))
    return params


PERMS = _perm_params()


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<bigint>[NUM_PERM]) minhash signature table.

    One shuffle: groupBy(doc_id) with NUM_PERM min() partial aggregates —
    Catalyst's map-side partials keep the shuffle narrow at scale.
    """
    sh = shingle_sets(docs)
    # Mask xxhash64 to 32 bits so a*h+b stays within int64.
    hashed = sh.select(
        "doc_id",
        (F.xxhash64("shingle").bitwiseAND(F.lit(_MASK32))).alias("h"),
    )
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MERSENNE_P))
        .alias(f"s{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    agg = hashed.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id",
        F.array(*[F.col(f"s{i}") for i in range(NUM_PERM)]).alias("sig"))


def minhash_bands(sigs: DataFrame, id_col: str, bands: int = BANDS,
                  rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """(id_col, band, band_hash): one LSH band key per signature band —
    the hash of `rows_per_band` consecutive components of `sig`. The one
    band definition every batch and streaming MinHash path joins on.

    Slim on purpose: carrying the 32-long sig through the band explosion
    and the candidate join would multiply shuffle volume by ~2 KB/doc,
    so callers re-attach signatures per candidate pair instead."""
    return sigs.select(
        F.col("doc_id").alias(id_col),
        F.posexplode(F.expr(
            f"transform(sequence(0, {bands - 1}),"
            f" b -> hash(slice(sig, b * {rows_per_band} + 1,"
            f" {rows_per_band})))"))
        .alias("band", "band_hash"))


def sig_agreement(sig1: Column, sig2: Column) -> Column:
    """Fraction of agreeing signature components — the MinHash estimate
    of the two documents' shingle Jaccard."""
    matches = F.size(F.filter(F.zip_with(sig1, sig2, lambda x, y: x == y),
                              lambda v: v))
    return matches / F.lit(NUM_PERM).cast("double")


# LSH skew guard: a bucket of m docs yields m(m-1)/2 candidate pairs, so
# one adversarial bucket (boilerplate/templated text all agreeing on a
# band) turns the linear banding plan quadratic. Buckets above this
# ceiling are dropped before the self-join — the standard LSH guard.
# Recall impact: only pairs whose EVERY agreeing band is oversized are
# lost; members of such mega-clusters are near-identical and already
# collapsed by dedup_exact / represented via dedup_clusters. The current
# corpus' largest bucket is 4 docs (measured, sf0.1), so at test SF the
# guard changes nothing (asserted by the recall-floor test).
MAX_BUCKET = 256


@query("minhash_lsh_pairs")  # rows-only: hash permutations not SQL-oracle-able
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs with signature-estimated Jaccard.

    LSH banding: docs land in a bucket per (band, hash of 4 signature
    rows); only same-bucket docs are joined. est_jaccard = fraction of
    agreeing signature components; pairs below 0.5 are dropped.

    Recall contract (measured by recall_referee.py): 8 bands x 4 rows
    puts the banding s-curve's midpoint at (1/b)^(1/r) = 0.595 ~=
    JACCARD_T — the textbook operating point for t=0.6 (MMDS ch.3),
    which means recall at exactly J=t is definitionally ~0.67 for ANY
    correctly tuned banding, rising to 0.985 at J=0.8 and ~1 at
    J>=0.9. The HARD contract is the J>=0.8 bands: measured recall 1.0
    at every tier (sf1 27/27 + 271/271; sf10-docs 2/2 + 86/86), suite
    floor >= 0.9. Below J=0.8 the s-curve is not an expected LOWER
    bound: the est-Jaccard >= 0.5 output cutoff drops
    co-bucketed pairs whose 32-sample estimate reads under 0.5 — a
    loss the banding model omits — so measured sits near theory within
    binomial noise, judged by per-band Wilson 95% CIs in the referee
    (measured spread: sf10 [0.6,0.7) 0.857 ABOVE theory 0.740, sf10
    [0.7,0.8) 0.75 on n=16 vs theory 0.933 — CI [0.51,0.90], the
    cutoff + noise, not a banding bug; sf1 aggregate 0.88 because 46%
    of truth pairs sit in [0.6,0.7) where the s-curve pays its
    designed ~0.75). Aggregate recall is therefore a corpus-
    distribution fact; the implementation gate is the J>=0.8 floor
    plus CI-consistency below it (recall_referee.py).

    Skew guard: buckets larger than MAX_BUCKET are excluded via a window
    count over (band, band_hash) — the window's hash partitioning is the
    self-join's key, so the guard reuses the `_fanout` exchange and adds
    zero extra shuffles.
    """
    return _lsh_banding_pairs(spark, sf_dir, BANDS, ROWS_PER_BAND)


# The measured high-recall banding split (recall_referee.py): 16 bands x 2
# rows over the SAME 32-perm signatures.
HR_BANDS = 16
HR_ROWS_PER_BAND = NUM_PERM // HR_BANDS


@query("minhash_lsh_pairs_highrecall")  # rows-only: same reason as above
def minhash_lsh_pairs_highrecall(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """`minhash_lsh_pairs` at the measured HIGH-RECALL banding knob:
    16 bands x 2 rows over the same NUM_PERM=32 signatures (same
    shingles, same permutations, same est-Jaccard >= 0.5 output cutoff
    — only the band/row split changes).

    Why it exists as registered product surface: a [0.7,0.8)-band
    triage measured, on the same signatures at
    sf10-docs (500k docs), that the 16x2 split lifts band recall
    0.75 -> 1.0 in [0.7,0.8) and 0.85 -> 0.94 in [0.6,0.7), at a 63x
    candidate-volume cost (474k -> 29.8M candidate pairs). That is
    exactly the recall-vs-compute decision a 100 TB dedup run makes —
    the s-curve midpoint (1/b)^(1/r) drops from 0.595 to 0.25, so far
    more sub-threshold pairs co-bucket and the est-cutoff does the
    precision work. Keeping it registered (instead of a docstring
    constant) keeps the knob driver-checked and lets the
    recall referee publish its per-band panel next to the default's
    (recall_referee.py measures BOTH against the same sampled GT).

    Scale shape is identical to the default: bucketed banding, MAX_BUCKET
    skew guard, digest-only shuffles — the 63x is candidate volume, not
    a plan change."""
    return _lsh_banding_pairs(spark, sf_dir, HR_BANDS, HR_ROWS_PER_BAND)


def _lsh_banding_pairs(spark: SparkSession, sf_dir: str,
                       bands_n: int, rows_per_band: int) -> DataFrame:
    """Shared LSH banding pipeline, parameterized by the band/row split
    (the only degree of freedom between the registered default and the
    high-recall twin). See `minhash_lsh_pairs` for the plan notes."""
    docs = load(spark, sf_dir, "documents")
    # Staged: three branches consume the signatures (the band table and
    # both per-pair re-attach joins), and exchange reuse does not fire
    # across the self-join's BroadcastExchange boundary, so without it
    # the full tokenize+minhash pipeline ran up to twice more. (doc_id,
    # sig) is ~260 B/doc of digests.
    sigs = minhash_signatures(docs).transform(stage)
    bands = _fanout(minhash_bands(sigs, "doc_id", bands_n, rows_per_band),
                    "band", "band_hash")
    bucket_w = Window.partitionBy("band", "band_hash")
    bands = (bands
             .withColumn("bucket_n", F.count(F.lit(1)).over(bucket_w))
             .filter(F.col("bucket_n") <= MAX_BUCKET)
             .drop("bucket_n"))
    # Staged too: the self-join's small side goes through a
    # BroadcastExchange, so _fanout's shared exchange would not be reused
    # and the plan would run Generate→Exchange→Sort→Window once per join
    # side. (doc_id, band, band_hash) is ≈ 20 B/row × bands_n — write-time
    # layout at scale.
    bands = stage(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc1"),
                    F.col("b.doc_id").alias("doc2"))
            .dropDuplicates(["doc1", "doc2"]))
    # Attach via join CONDITIONS on alias-qualified columns rather than
    # pre-renamed projections: both attach joins then share a canonically
    # identical `sigs` subtree, so the broadcast exchange is built once
    # and reused (pre-renaming made the subtrees differ and re-computed
    # the whole signature pipeline per side).
    s1 = sigs.alias("s1")
    s2 = sigs.alias("s2")
    est = sig_agreement(F.col("s1.sig"), F.col("s2.sig"))
    return (cand.join(s1, F.col("doc1") == F.col("s1.doc_id"))
            .join(s2, F.col("doc2") == F.col("s2.doc_id"))
            .select("doc1", "doc2", fround(est, 4).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= 0.5))


# --------------------------------------------------------------------------
# SimHash near-dup: 64-bit signature; Hamming ≤ HAM_T via pigeonhole
# banding on 4 × 16-bit chunks.
# --------------------------------------------------------------------------

SIMHASH_BITS = 64
HAM_T = 3


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint). Per-token xxhash64; bit i of the signature
    is the sign of Σ_tokens (±count) for that bit. 64 conditional-sum
    aggregates in one hash-aggregate pass."""
    tokens = (widen_scan(docs, "doc_id")
              .select("doc_id", F.explode(F.expr(_WORDS)).alias("tok"))
              .filter(F.col("tok") != "")
              .groupBy("doc_id", "tok")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .select("doc_id", "cnt", F.xxhash64("tok").alias("h")))
    bit_sums = [
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                     F.col("cnt")).otherwise(-F.col("cnt"))).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tokens.groupBy("doc_id").agg(*bit_sums)
    # Assemble signature bitwise-OR of (b_i > 0) << i; shiftleft runs
    # JVM-side so bit 63 never materializes as an (overflowing) literal.
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0,
                      F.shiftleft(F.lit(1).cast("long"), i)
                      ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


@query("simhash_pairs")  # rows-only: bit-level hashing not SQL-oracle-able
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with Hamming(simhash1, simhash2) ≤ HAM_T. By pigeonhole, any
    such pair agrees exactly on at least one of 4 16-bit chunks — the
    chunk-equality join is the candidate filter (no quadratic scan).

    Semantics note (measured by recall_referee.py): Hamming ≤ 3 on a
    64-bit profile is a NEAR-EXACT duplicate detector (Charikar'02 /
    Manku et al. WWW'07 use it for crawl near-dups), not a
    Jaccard-threshold scan — vs the exact J≥0.6 truth set it recovers
    ~0.67 of J≥0.9 pairs and almost nothing below 0.8 at sf1/sf10-docs.
    For threshold-Jaccard dedup use minhash_lsh_pairs; simhash's niche
    is boilerplate/template pages with tiny edits, at about half
    minhash's cost (8.1 s vs 14.0 s at 500k docs)."""
    docs = load(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)
    chunks = sigs.select(
        "doc_id", "simhash",
        F.posexplode(F.expr(
            "transform(sequence(0, 3),"
            " c -> (simhash >> (c * 16)) & 65535)")).alias("chunk", "ckey"),
    )
    chunks = _fanout(chunks, "chunk", "ckey")
    # Same skew guard as minhash_lsh_pairs: m identical docs share ALL four chunks, so one boilerplate
    # mega-cluster costs 4·m(m-1)/2 candidate rows. The window count
    # partitions on the join key, so the guard reuses the _fanout
    # exchange — zero extra shuffles. Recall impact mirrors minhash's:
    # only pairs whose EVERY agreeing chunk bucket is oversized are
    # lost, and such mega-clusters are dedup_exact/dedup_clusters'
    # job, not a pairwise scan's.
    bucket_w = Window.partitionBy("chunk", "ckey")
    chunks = (chunks
              .withColumn("bucket_n", F.count(F.lit(1)).over(bucket_w))
              .filter(F.col("bucket_n") <= MAX_BUCKET)
              .drop("bucket_n"))
    # Staged: the self-join's broadcast build side otherwise recomputes
    # the whole signature pipeline (two full tokenize+64-bitsum passes —
    # exchange reuse does not fire across the BroadcastExchange
    # boundary). The table is 4 rows/doc x ~24 B of (doc_id, simhash,
    # chunk, ckey) digests.
    chunks = chunks.transform(stage)
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.ckey") == F.col("b.ckey"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc1"),
                    F.col("b.doc_id").alias("doc2"),
                    F.col("a.simhash").alias("h1"),
                    F.col("b.simhash").alias("h2"))
            .dropDuplicates(["doc1", "doc2"]))
    hamming = F.expr("bit_count(h1 ^ h2)")
    return (cand.select("doc1", "doc2", hamming.alias("hamming"))
            .filter(F.col("hamming") <= HAM_T))


# --------------------------------------------------------------------------
# Exact threshold Jaccard via prefix filtering (AllPairs/PPJoin-style,
# Bayardo et al. WWW'07 / Xiao et al. WWW'08 — the scale path for EXACT
# similarity dedup, complementing the approximate LSH paths).
# --------------------------------------------------------------------------

JACCARD_T = 0.6


@query(
    "ngram_jaccard_threshold",
    scale_twin="ngram_jaccard_threshold_prefix",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({duck_ngrams(3)}) AS shingle
        FROM documents WHERE len({_DUCK_WORDS}) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter_cnt
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc1, i.doc2,
           floor((CAST(i.inter_cnt AS DOUBLE)
                 / (s1.n + s2.n - i.inter_cnt)) * 1000000 + 0.5) / 1000000
               AS jaccard
    FROM inter i
    JOIN sizes s1 ON i.doc1 = s1.doc_id
    JOIN sizes s2 ON i.doc2 = s2.doc_id
    WHERE CAST(i.inter_cnt AS DOUBLE) / (s1.n + s2.n - i.inter_cnt)
          >= {JACCARD_T}
    """,
)
def ngram_jaccard_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with exact Jaccard ≥ JACCARD_T — shared-shingle join plan.

    Same join→agg pipeline as the top-k query with a threshold filter
    instead of a sort. Chosen over the prefix-filtered plan (next query)
    for the bench corpus: in a template-heavy/duplicate-heavy corpus
    nearly every candidate a prefix filter admits ALSO shares dozens of
    shingles, so prefix pruning removes little while paying a frequency
    pass and a verification join — measured 1.5 s vs 4.5 s at sf0.1.
    See ngram_jaccard_threshold_prefix for when that tradeoff flips.
    """
    pairs = _pair_jaccard(load(spark, sf_dir, "documents"))
    return (pairs.filter(F.col("_jac") >= JACCARD_T)
            .select("doc1", "doc2", fround(F.col("_jac"), 6).alias("jaccard")))


@query(
    "ngram_jaccard_threshold_prefix",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({duck_ngrams(3)}) AS shingle
        FROM documents WHERE len({_DUCK_WORDS}) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter_cnt
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc1, i.doc2,
           floor((CAST(i.inter_cnt AS DOUBLE)
                 / (s1.n + s2.n - i.inter_cnt)) * 1000000 + 0.5) / 1000000
               AS jaccard
    FROM inter i
    JOIN sizes s1 ON i.doc1 = s1.doc_id
    JOIN sizes s2 ON i.doc2 = s2.doc_id
    WHERE CAST(i.inter_cnt AS DOUBLE) / (s1.n + s2.n - i.inter_cnt)
          >= {JACCARD_T}
    """,
)
def ngram_jaccard_threshold_prefix(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Same answer via AllPairs/PPJoin-style prefix filtering (Bayardo
    et al. WWW'07; Xiao et al. WWW'08) — the scale path for DIVERSE
    corpora, where pairs sharing ≥1 shingle vastly outnumber pairs with
    J ≥ t and the full shared-shingle join is quadratic-ish.

    Regime boundary (measured on the sf10-docs tier): prefix
    filtering's pruning power comes from the RARE end of the shingle
    frequency spectrum. On a shingle-SATURATED corpus — distinct
    shingles stop growing while the corpus grows, so every shingle's
    frequency scales with N (the sf10-docs tier: ~30k distinct shingles
    at 5k/50k/500k docs; naive candidate pairs 1.3M → 127M → 12.3B) —
    the prefix buckets are as hot as everything else and this twin is
    candidate-bound like the ground truth (both >300 s at 500k docs,
    parity ~20 s at 50k). Past that boundary the registered path is
    sketch-based LSH (`minhash_lsh_pairs`: 23 s at 500k docs), whose
    cost scales with docs × bands, not shingle-frequency squared.
    Boilerplate-heavy crawl corpora at 100 TB sit in exactly that
    regime for their hot families.

    Prefix filtering: order every doc's shingles by one consistent
    global order — here ascending global frequency (rarest first), the
    strongest pruning order — then if J(A,B) ≥ t, A and B must collide
    within their first |x| − ⌈t·|x|⌉ + 1 shingles. Only those prefixes
    are self-joined, so candidate generation touches the rare end of the
    frequency spectrum where buckets are small.

    Plan shape (all barriers deliberate):
    1. one exchange of the hashed-shingle relation keyed on h, reused by
       the frequency aggregation AND the freq re-join (ReusedExchange);
    2. groupBy(doc_id): per-doc sorted (freq, h) arrays — an in-memory
       sort_array per doc replaces a global window sort; the SAME pass
       emits the sorted full hash array used for verification;
    3. prefix explode + self-join on h (small);
    4. verification joins candidates back to the per-doc sorted arrays
       and computes |A∩B| via array_intersect — JVM-side, no explode,
       no re-aggregation; AQE demotes both joins to broadcast since
       candidates ≪ corpus.
    """
    docs = load(spark, sf_dir, "documents")
    # Both digests are staged: `sh` feeds the frequency aggregate AND the
    # freq re-join; `docsets` feeds the prefix explode AND both
    # verification attach joins — without materialization the shingle
    # pipeline re-ran per consumer (broadcast boundaries defeat exchange
    # reuse).
    sh = sized_shingle_hashes(docs)
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    plen = (F.col("n") - F.ceil(F.lit(JACCARD_T) * F.col("n"))
            + F.lit(1)).cast("int")
    docsets = (sh.join(freq, "h")
               .groupBy("doc_id")
               .agg(F.first("n").alias("n"),
                    F.sort_array(F.collect_list(F.struct("freq", "h")))
                    .alias("by_freq"))
               .select(
                   "doc_id", "n",
                   F.sort_array(F.transform("by_freq", lambda x: x["h"]))
                   .alias("arr"),
                   F.transform(F.slice("by_freq", F.lit(1), plen),
                               lambda x: x["h"]).alias("pref"))
               .transform(stage))
    # Carry n through the prefix explode and apply the AllPairs LENGTH
    # filter inside the candidate join ("reduce before you
    # shuffle/verify"): J(A,B) = |∩|/|∪| <= min(n1,n2)/max(n1,n2), so
    # J >= t requires t*n1 <= n2 AND t*n2 <= n1 — pairs of very
    # different sizes are pruned BEFORE the dedup aggregate and the two
    # verification joins, for one extra int per prefix row (candidates
    # 299,377 -> 193,148 at sf0.1).
    #
    # PPJoin's POSITIONAL filter on top (same principle, sharper bound).
    # A collision at 1-based prefix positions
    # (p1, p2) bounds the overlap: every common token sits at position
    # >= p1 in doc1's frequency-sorted set and >= p2 in doc2's, so
    # |∩| <= 1 + min(n1-p1, n2-p2); and J >= t forces
    # |∩| >= ceil(t*(n1+n2)/(1+t)). Lossless: a true pair's FIRST
    # common token always satisfies the bound, so at least one of its
    # collision rows survives, and verification recomputes exact
    # Jaccard from the full sets anyway. One more int per prefix row;
    # candidates 193,148 -> 68,594 at sf0.1 (2.8x less dedup/verify
    # volume).
    prefix = _fanout(
        docsets.select("doc_id", "n",
                       F.posexplode("pref").alias("p0", "h"))
        .select("doc_id", "n", (F.col("p0") + 1).alias("p"), "h"), "h")
    a, b = prefix.alias("a"), prefix.alias("b")
    t = F.lit(JACCARD_T)
    alpha = F.ceil(t / (1 + JACCARD_T) * (F.col("a.n") + F.col("b.n")))
    cand = (a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (t * F.col("a.n") <= F.col("b.n"))
                   & (t * F.col("b.n") <= F.col("a.n"))
                   & (1 + F.least(F.col("a.n") - F.col("a.p"),
                                  F.col("b.n") - F.col("b.p")) >= alpha))
            .select(F.col("a.doc_id").alias("doc1"),
                    F.col("b.doc_id").alias("doc2"))
            .dropDuplicates(["doc1", "doc2"]))
    # AQE coalesces the few-MB deduped candidate set to ONE partition,
    # so the array_intersect verifications would run serially behind it.
    # Repartition the 16 B/row (doc1, doc2) pairs to the configured width
    # before the verification joins — at scale this narrow exchange
    # stands exactly where the attach join's own doc1 shuffle would be
    # (and is reused by it).
    cand = cand.repartition(shuffle_width(docs.sparkSession),
                            F.col("doc1"))
    s1, s2 = docsets.alias("s1"), docsets.alias("s2")
    inter = (cand
             .join(s1, F.col("doc1") == F.col("s1.doc_id"))
             .join(s2, F.col("doc2") == F.col("s2.doc_id"))
             .select("doc1", "doc2",
                     F.size(F.array_intersect(F.col("s1.arr"),
                                              F.col("s2.arr")))
                     .alias("inter_cnt"),
                     F.col("s1.n").alias("n1"), F.col("s2.n").alias("n2")))
    jac = (F.col("inter_cnt").cast("double")
           / (F.col("n1") + F.col("n2") - F.col("inter_cnt")))
    return (inter.filter(jac >= JACCARD_T)
            .select("doc1", "doc2", fround(jac, 6).alias("jaccard")))


# --------------------------------------------------------------------------
# Decontamination — cross-SET near-dup detection: find training documents
# that are near-duplicates of a held-out/benchmark set. The defining LLM
# training-data hygiene operation (remove eval contamination from the
# training corpus). Unlike the self-join dedups above, the two sides are
# different (and wildly different-sized) relations: at 100 TB the
# benchmark side is typically 10^4-10^6 docs vs 10^9+ train docs, so the
# benchmark's shingle/signature table broadcasts and the train side never
# shuffles at all — detection is a map-side join over the train scan.
# --------------------------------------------------------------------------

def cross_set_jaccard_split(docs: DataFrame, bench_pred,
                            threshold: float = JACCARD_T) -> DataFrame:
    """Same answer when both sets are a PREDICATE split of ONE corpus:
    run the (already-tuned) SELF-join once and post-filter to cross-set
    pairs, orienting columns so the train doc is always `train_id`.

    Why not filter the two sides before a cross join? Catalyst pushes the
    split predicates below the shingle transform (plus an inferred
    isnotnull(shingles) that re-evaluates the whole HOF array in the
    filter), so the corpus gets shingled once per side from the raw scan
    — measured 10.0 s at sf0.1 vs 2.3 s for this plan, which shingles and
    shuffles once and pays only the (small at J≥t) extra self-pairs that
    the post-filter discards."""
    pairs = _pair_jaccard(docs).filter(F.col("_jac") >= threshold)
    # bench_pred is a function doc_id_col -> BooleanColumn so the split
    # rule is evaluated on both pair columns without re-joining docs.
    is_b1, is_b2 = bench_pred(F.col("doc1")), bench_pred(F.col("doc2"))
    return (pairs.filter(is_b1 != is_b2)
            .select(F.when(is_b1, F.col("doc2")).otherwise(F.col("doc1"))
                    .alias("train_id"),
                    F.when(is_b1, F.col("doc1")).otherwise(F.col("doc2"))
                    .alias("bench_id"),
                    fround(F.col("_jac"), 6).alias("jaccard")))


def _split_docs(docs: DataFrame):
    """Deterministic stand-in split for the registered query: every 10th
    doc_id plays the benchmark set, the rest are the training corpus."""
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return train, bench


@query(
    "decontaminate_exact",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({duck_ngrams(3)}) AS shingle
        FROM documents WHERE len({_DUCK_WORDS}) >= 3
    ),
    sized AS (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM sh
    ),
    inter AS (
        SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
               max(a.n) AS n1, max(b.n) AS n2, count(*) AS inter_cnt
        FROM sized a JOIN sized b ON a.shingle = b.shingle
        WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        GROUP BY 1, 2
    )
    SELECT train_id, bench_id,
           floor((CAST(inter_cnt AS DOUBLE) / (n1 + n2 - inter_cnt))
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM inter
    WHERE CAST(inter_cnt AS DOUBLE) / (n1 + n2 - inter_cnt) >= {JACCARD_T}
    """,
)
def decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs that near-duplicate a benchmark doc (exact Jaccard
    >= 0.6) — the oracle ground truth for the LSH decontamination path.
    Uses the self-join + post-filter plan (one shingle pass, one
    exchange) since both sets live in one table."""
    docs = load(spark, sf_dir, "documents")
    return cross_set_jaccard_split(docs, lambda c: c % 10 == 0)


@query("decontaminate_lsh")  # rows-only: banded MinHash not SQL-expressible
def decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: band the benchmark set's MinHash signatures and join
    train bands against them. Bench bands/signatures are tiny →
    broadcast; the train side is bounded by its own banding fan-out (8
    rows/doc), never a cross product. Returns candidate (train_id,
    bench_id, est_jaccard >= 0.5) pairs; recall vs the exact path is
    asserted in tests/test_dedup_recall.py.

    Deliberately NO MAX_BUCKET guard here (unlike the self-join paths):
    a hot band costs |train_bucket| x |bench_bucket| rows — bounded by
    the small bench side, so it degrades linearly, and dropping hot
    bands would lose recall on exactly the most-contaminated material,
    the opposite of what decontamination is for."""
    train, bench = _split_docs(load(spark, sf_dir, "documents"))

    # Each signature table feeds its band explode AND a per-pair
    # re-attach join — staged once, same rationale as minhash_lsh_pairs.
    tsig = minhash_signatures(train).transform(stage)
    bsig = minhash_signatures(bench).transform(stage)
    # The BENCH-side band table is staged too: the band explode over bsig
    # sits behind a BroadcastExchange, so exchange reuse never fires and
    # every execution would re-run the banding from the staged
    # signatures. The digest is benchmark-bounded (|bench| x BANDS rows
    # of 16 B). The TRAIN side stays live: its banding is map-side work
    # feeding _fanout's shuffle and never re-executes within a run.
    cand = (_fanout(minhash_bands(tsig, "train_id"), "band", "band_hash")
            .join(F.broadcast(stage(minhash_bands(bsig, "bench_id"))),
                  ["band", "band_hash"])
            .select("train_id", "bench_id")
            .dropDuplicates(["train_id", "bench_id"]))
    s1, s2 = tsig.alias("s1"), bsig.alias("s2")
    est = sig_agreement(F.col("s1.sig"), F.col("s2.sig"))
    return (cand.join(s1, F.col("train_id") == F.col("s1.doc_id"))
            .join(F.broadcast(s2), F.col("bench_id") == F.col("s2.doc_id"))
            .select("train_id", "bench_id", fround(est, 4).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= 0.5))


def rowwise_minhash_sig(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) via per-ROW array HOFs — no explode, no groupBy.

    Bit-identical to minhash_signatures (same shingles, same 32-bit mask,
    same affine permutations, asserted by test), but expressed as
    array_min over a transform per permutation, so it is STATELESS: legal
    on a streaming DataFrame ahead of a join, and shuffle-free in batch.
    The batch path keeps the groupBy form because partial-aggregate min()
    is codegen while HOF lambdas are interpreted; the shingle and hash
    arrays are staged through projections so each is computed once per
    row (inlined per permutation they were recomputed 16 times per doc,
    on top of the per-element split)."""
    sig = F.array(*[
        F.expr(f"array_min(transform(harr,"
               f" h -> ({a}L * h + {b}L) % {_MERSENNE_P}L))")
        for a, b in PERMS
    ])
    return (ngram_arrays(docs, 3)
            .select("doc_id",
                    F.expr(f"transform(grams,"
                           f" s -> xxhash64(s) & {_MASK32}L)").alias("harr"))
            .select("doc_id", sig.alias("sig")))


# --------------------------------------------------------------------------
# N-gram-overlap decontamination (the GPT-3 appendix-C style): a training
# document is contaminated if it shares ANY word n-gram with the benchmark
# set — no similarity threshold, the strictest leakage rule. Complements
# decontaminate_exact/lsh (whole-doc Jaccard): n-gram hits catch a
# benchmark QUOTED INSIDE an otherwise-different train doc, which
# document-level Jaccard misses.
# --------------------------------------------------------------------------

_NGRAM_N = 5  # GPT-3 used 13-grams; the synthetic docs are short


def gram_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, gh): xxhash64 of every distinct word 5-gram of every
    document, staged. The benchmark and train sides are disjoint filters
    of this one explode, so its 8-byte digests are materialized once
    instead of exploding the corpus per branch."""
    return (ngram_arrays(docs, _NGRAM_N)
            .select("doc_id", F.explode("grams").alias("gram"))
            .select("doc_id", F.xxhash64("gram").alias("gh"))
            .transform(stage))


def bench_grams(gh: DataFrame) -> DataFrame:
    """The benchmark split's distinct gram hashes, staged: the set is
    the broadcast build side of every contamination probe, and exchange
    reuse cannot cross the broadcast boundary, so unstaged it would
    re-run the gh scan + distinct per execution. Bounded by the
    benchmark corpus."""
    _, bench = _split_docs(gh)
    return stage(bench.select("gh").distinct())


def contaminated_ids(gh: DataFrame) -> DataFrame:
    """(doc_id): the distinct train documents sharing >= 1 5-gram with
    the benchmark split. The train-side distinct stays: it bounds the
    right side of the anti-join that drops these documents. The probe is
    a left-semi join, which the staged (opaque) bench set no longer lets
    the optimizer infer from its distinctness: as an inner join its size
    estimate is a product of both sides, and the anti-join downstream
    would plan as a sort-merge join."""
    train, _ = _split_docs(gh)
    return (train.join(F.broadcast(bench_grams(gh)), "gh", "left_semi")
            .select("doc_id").distinct())


# DuckDB twins of gram_hashes + bench_grams (the `g` and `bench` CTEs)
# and of contaminated_ids (the `contaminated` CTE).
_DUCK_BENCH_GRAM_CTES = f"""g AS (
        SELECT doc_id, unnest({duck_ngrams(_NGRAM_N)}) AS gram
        FROM documents WHERE len({_DUCK_WORDS}) >= {_NGRAM_N}
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0)"""
_DUCK_CONTAMINATED_CTES = _DUCK_BENCH_GRAM_CTES + """,
    contaminated AS (
        SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 10 <> 0
    )"""


@query(
    "decontaminate_ngram_hit",
    oracle=f"""
    WITH {_DUCK_BENCH_GRAM_CTES}
    SELECT g.doc_id AS train_id, count(DISTINCT g.gram) AS hit_ngrams
    FROM g JOIN bench USING (gram)
    WHERE g.doc_id % 10 <> 0
    GROUP BY 1
    """,
)
def decontaminate_ngram_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(train_id, hit_ngrams): every training doc sharing >= 1 distinct
    5-gram with the benchmark split (doc_id % 10 == 0), with how many of
    its distinct 5-grams are contaminated.

    Scale design mirrors decontaminate_lsh's asymmetry: the benchmark's
    distinct-gram table is bounded by the benchmark corpus (10^4-10^6
    docs), hashed to 8-byte keys and BROADCAST — the train side is a
    map-side hash probe over the scan, never shuffled for the join; the
    only exchange is the per-doc count of the (tiny) hit set. Both
    branches filter the one staged gram digest (gram_hashes). At 100 TB the bench gram
    set outgrowing the broadcast ceiling is the signal to switch to a
    bloom-filter pre-probe + shuffled semi-join — same answer, one more
    exchange."""
    gh = gram_hashes(load(spark, sf_dir, "documents"))
    train, _ = _split_docs(gh)
    return (train.join(F.broadcast(bench_grams(gh)), "gh")
            .groupBy(F.col("doc_id").alias("train_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("hit_ngrams")))


# --------------------------------------------------------------------------
# Exact duplicated-SPAN detection (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): document-level dedup
# misses the common case of long passages copied between otherwise
# distinct documents (licenses, boilerplate, quoted text). The suffix-
# array formulation is replaced by its standard distributed
# approximation: fixed-width token windows (W=10, stride 1) — a
# duplicated substring of length >= W is detected exactly, shorter ones
# are ignored by design.
# --------------------------------------------------------------------------

_SPAN_W = 10
# Windows over a STAGED words column `w` (same staging rule as
# ngrams_of_w): (pos, md5-of-window) structs. md5, not xxhash64, so
# the DuckDB oracle computes identical keys; the 100 TB swap is
# xxhash64 (8-byte shuffle keys, ~4x smaller than the hex digest) once
# cross-engine parity is no longer the contract.
_SPAN_WINS_OF_W = (
    f"transform(sequence(1, size(w) - {_SPAN_W - 1}),"
    f" i -> struct(i AS pos,"
    f" md5(concat_ws(' ', slice(w, i, {_SPAN_W}))) AS wh))"
)


_DUCK_SPAN_CTES = f"""
    WITH w AS (
        SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(
                   list_slice(ws, i, i + {_SPAN_W - 1}), ' ')) AS wh
        FROM w, unnest(generate_series(1, len(ws) - {_SPAN_W - 1})) AS t(i)
        WHERE len(ws) >= {_SPAN_W})"""


def _span_frames(docs: DataFrame):
    """(base, wins) for the duplicated-span family: base stages the words
    array once; wins explodes the stride-1 window hashes off it. The ONE
    copy both dup_span_report and dup_span_trim build on (Spark side of
    _DUCK_SPAN_CTES).

    base is a LAZY checkpoint: trim consumes it three times (window
    hashes, token explode, per-doc word counts) and report twice, so
    the split otherwise re-tokenizes the corpus per consumer. Unlike
    the digest checkpoints elsewhere in this module this materializes
    the TOKENIZED CORPUS (~text-sized on executor storage, not a
    digest) — the standard tokenized-intermediate tradeoff: storage
    ~doubles during the query, each downstream pass saves a scan+split."""
    base = (widen_scan(docs, "doc_id")
            .select("doc_id", F.expr(_WORDS).alias("w"))
            .transform(stage))
    wins = (base.filter(F.size("w") >= _SPAN_W)
            .select("doc_id", F.explode(F.expr(_SPAN_WINS_OF_W)).alias("x"))
            .select("doc_id", F.col("x.pos").alias("pos"),
                    F.col("x.wh").alias("wh")))
    return base, wins


@query(
    "dup_span_report",
    oracle=_DUCK_SPAN_CTES + f""",
    dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
    marked AS (
        SELECT doc_id, pos, pos + {_SPAN_W - 1} AS e,
               max(pos + {_SPAN_W - 1}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_e
        FROM wins JOIN dup USING (wh)),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
               CAST(sum(greatest(0,
                   e - greatest(pos - 1, coalesce(prev_e, 0))))
                   AS BIGINT) AS dup_tokens
        FROM marked GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
           coalesce(p.n_dup_windows, 0) AS n_dup_windows,
           coalesce(p.dup_tokens, 0) AS dup_tokens
    FROM documents d
    JOIN w USING (doc_id)
    LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-PASSAGE report: how many stride-1 10-word
    windows occur at >= 2 positions corpus-wide, and how many token
    positions those windows cover (exact interval union, so overlapping
    windows of one long copied passage count each token once). The doc-
    level twin is `duplicate_ratio_report`; this is the sub-document
    granularity that catches shared boilerplate between non-duplicate
    documents.

    Plan: the windows pass stages the words array once, explodes the
    stride-1 windows (O(tokens x W) pure codegen, no Python), and takes
    the duplicate decision as `count() over (partition by wh)` — the
    WINDOW form, not aggregate-then-join, for exactly
    ngram_novelty_report's reason: window hashes are near-unique (flat
    keys, no skew) and their "count table" is nearly instance-sized, so
    at scale the join form shuffles both sides on wh anyway AND
    re-evaluates the explode subtree (its plan shows TWO Generate nodes
    over two scans; no exchange reuse). Measured honestly at sf0.1 the
    two forms are within noise (join 1.8 s vs window 2.0 s warm) — but
    only because AQE broadcasts the local dup table, a crutch that
    vanishes when the duplicated-window set outgrows the broadcast
    ceiling; the window form's single explode + single wh exchange is
    the shape that survives. Marked windows then shuffle once on doc_id
    for the interval-union sweep, whose per-row state is one running
    max (gaps-and-islands, never a per-doc array). A second light scan
    (doc_id + text) supplies the full doc list so every doc keeps a row
    (zeros when clean) — the report is a complete audit table."""
    base, wins = _span_frames(load(spark, sf_dir, "documents"))
    wh_w = Window.partitionBy("wh")
    end = F.col("pos") + F.lit(_SPAN_W - 1)
    prev_w = (Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    marked = (wins.withColumn("cnt", F.count(F.lit(1)).over(wh_w))
              .filter(F.col("cnt") >= 2)
              .select("doc_id", "pos", end.alias("e"))
              .withColumn("prev_e", F.max("e").over(prev_w)))
    new_cov = F.greatest(
        F.lit(0),
        F.col("e") - F.greatest(F.col("pos") - 1,
                                F.coalesce("prev_e", F.lit(0))))
    per_doc = (marked.groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_windows"),
                    F.sum(new_cov).cast("bigint").alias("dup_tokens")))
    return (base.select("doc_id", F.size("w").cast("bigint").alias("n_words"))
            .join(per_doc, "doc_id", "left")
            .select("doc_id", "n_words",
                    F.coalesce("n_dup_windows", F.lit(0)).cast("bigint")
                    .alias("n_dup_windows"),
                    F.coalesce("dup_tokens", F.lit(0)).cast("bigint")
                    .alias("dup_tokens")))


@query(
    "dup_span_trim",
    oracle=_DUCK_SPAN_CTES + f""",
    dup AS (
        SELECT wh, min(doc_id * 4294967296 + pos) AS canon
        FROM wins GROUP BY wh HAVING count(*) >= 2),
    noncanon AS (
        SELECT v.doc_id, v.pos
        FROM wins v JOIN dup d USING (wh)
        WHERE v.doc_id * 4294967296 + v.pos <> d.canon),
    cut AS (
        SELECT DISTINCT doc_id, p
        FROM noncanon,
             unnest(generate_series(pos, pos + {_SPAN_W - 1})) AS t(p)),
    toks AS (
        SELECT doc_id, i, ws[i] AS tok
        FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
    cleaned AS (
        SELECT t.doc_id,
               string_agg(t.tok, ' ' ORDER BY t.i)
                   FILTER (WHERE c.p IS NULL) AS clean_text,
               CAST(count(*) FILTER (WHERE c.p IS NOT NULL) AS BIGINT)
                   AS n_removed
        FROM toks t
        LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.i = c.p
        GROUP BY t.doc_id)
    -- LEFT JOIN from w, not FROM cleaned: a NULL-text document has no
    -- token rows, but the audit contract is one row per document
    -- (clean_text '', nothing removed)
    SELECT w.doc_id, coalesce(c.clean_text, '') AS clean_text,
           coalesce(c.n_removed, 0) AS n_removed
    FROM w LEFT JOIN cleaned c ON w.doc_id = c.doc_id
    """,
)
def dup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION to dup_span_report's audit — Lee et al. (2022) exact
    substring dedup applied: every duplicated 10-word window keeps its
    FIRST occurrence (minimum (doc_id, pos) corpus-wide) and every
    other occurrence's tokens are cut from their documents; the cleaned
    text is reassembled in token order. Keep-first (not drop-all)
    preserves one copy of legitimately repeated passages — the
    dedup_keep_best decision at sub-document granularity.

    Plan ("decide with small rows, move big rows once"): windows
    explode once (window-form count + min over the SAME wh partition —
    one shuffle+sort serves both the duplicate decision and the
    canonical choice); non-canonical windows expand to their covered
    token positions (bounded x{_SPAN_W} fanout of the DUPLICATED subset
    only) and aggregate to ONE cut-position ARRAY per affected doc —
    pure int metadata, bounded by the doc's own length. The rebuild then
    joins that tiny table back to the staged words array and drops cut
    positions with an indexed array `filter` HOF: the corpus tokens
    never explode and never shuffle (posexploding every token,
    anti-joining on (doc_id, pos) and re-assembling docs through a
    collect_list aggregate would shuffle the token payload to decide
    with int positions). AQE broadcasts the cut table (no hint: if the
    duplicated set ever outgrows the broadcast ceiling the join degrades
    to ONE corpus-array shuffle, still strictly less than an
    explode+rebuild). Canonical key packs (doc_id, pos) as
    doc_id*2^32+pos — exact while docs stay under 4.3e9 tokens, which
    the Gopher-style length gates upstream
    guarantee."""
    base, wins = _span_frames(load(spark, sf_dir, "documents"))
    key = F.col("doc_id") * F.lit(4294967296) + F.col("pos")
    wh_w = Window.partitionBy("wh")
    noncanon = (wins
                .withColumn("cnt", F.count(F.lit(1)).over(wh_w))
                .withColumn("canon", F.min(key).over(wh_w))
                .filter((F.col("cnt") >= 2) & (key != F.col("canon")))
                .select("doc_id", "pos"))
    cuts = (noncanon
            .select("doc_id",
                    F.explode(F.sequence(
                        F.col("pos"),
                        F.col("pos") + F.lit(_SPAN_W - 1))).alias("p"))
            .groupBy("doc_id")
            .agg(F.collect_set("p").alias("cut")))
    joined = (base.join(cuts, "doc_id", "left")
              .select("doc_id", "w",
                      F.coalesce("cut", F.array()).alias("cut")))
    # 1-based positions (i is 0-based in the HOF); NULL-text docs have
    # w NULL -> kept NULL -> coalesce to the ('', 0) audit row.
    kept = F.expr("filter(w, (x, i) -> NOT array_contains(cut, i + 1))")
    return (joined.select(
                "doc_id",
                F.coalesce(F.concat_ws(" ", kept), F.lit(""))
                .alias("clean_text"),
                (F.coalesce(F.size("w").cast("bigint"), F.lit(0))
                 - F.coalesce(F.size(kept).cast("bigint"), F.lit(0)))
                .cast("bigint").alias("n_removed")))
