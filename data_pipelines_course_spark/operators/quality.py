"""Corpus quality gates and memorization-risk reports for training data.

Curation signals real LLM-data pipelines run before training, each
oracle-checkable:

- ``gopher_quality_flags`` — the rule-based document filter popularized by
  Gopher/MassiveText (word-count bounds, mean-word-length bounds, minimum
  stopword evidence). All thresholds are evaluated in INTEGER arithmetic
  (``3*n <= sum_len`` instead of ``sum_len/n >= 3.0``) so the keep/drop
  decision is bit-identical across engines — a float division at the
  boundary could flip a flag between Spark and the oracle.
- ``unigram_logprob_score`` — a corpus-self-trained unigram language
  model scoring every document by mean token log-probability (the CCNet
  move of ranking documents by LM perplexity, collapsed to order-0). Rare
  -token gibberish scores low; boilerplate scores high.
- ``ngram_novelty_report`` — per-document fraction of distinct 5-grams
  that occur in NO other document. Low novelty = heavily duplicated
  content (memorization risk); the per-doc complement of the corpus-wide
  ``duplicate_ratio_report``.
- ``vocab_typo_pairs`` / ``vocab_typo_pairs_symspell`` — rare-variant
  typo detection over the vocabulary (blocked fuzzy self-join, plus the
  SymSpell deletion-neighborhood equi-join scale twin).
- ``quality_mixture_sample`` — the curriculum data mix: LM-score bands
  × per-band deterministic keep rates.

Reference lineage: the course's quality gates are row-level filters in
the Dask/pandas notebooks (dask-pipeline/Dask-Pipeline.ipynb: dropna/
str-length masks); these queries are the at-scale generalization of that
"filter before you aggregate" stage.

Scale notes: every query is one documents scan plus hash aggregates on
bounded keys (token / 5-gram vocabularies grow sublinearly in corpus
size). The unigram join keys on the token string — Zipf-skewed, but the
count table is vocabulary-sized and AQE picks a broadcast at any
realistic vocab/corpus ratio; no hint is hard-coded (hints only on
fixed-cardinality sides). Token arrays are STAGED through
a projection before any lambda touches them (the measured O(tokens²)
re-split trap documented in dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datasets import load, widen_scan
from ..functions.scalar import fround, fround_sql
from ..queries import query
from .dedup import _DUCK_WORDS, _WORDS, duck_ngrams, ngram_arrays
from .sampling import _bucket_sql

# Gopher-style thresholds, integer-exact on both engines.
MIN_WORDS, MAX_WORDS = 10, 100_000
MIN_MEAN_LEN, MAX_MEAN_LEN = 3, 10  # mean chars/word bounds
MIN_STOP_HITS = 2                   # "contains at least 2 stopwords"

_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is")


@query(
    "gopher_quality_flags",
    oracle=f"""
    SELECT doc_id, n_words,
           {fround_sql('CAST(sum_len AS DOUBLE) / n_words', 4)}
               AS mean_word_len,
           stop_hits,
           (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
            AND {MIN_MEAN_LEN} * n_words <= sum_len
            AND sum_len <= {MAX_MEAN_LEN} * n_words
            AND stop_hits >= {MIN_STOP_HITS}) AS keep
    FROM (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(w, x -> length(x)))
                    AS BIGINT) AS sum_len,
               CAST(len(list_filter(w, x -> x IN
                    {tuple(_STOPWORDS)!r})) AS BIGINT) AS stop_hits
        FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents))
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText rule-based document filter: word-count bounds,
    mean-word-length bounds, minimum stopword evidence, and the combined
    keep decision. Pure HOF expressions over ONE staged token array —
    zero shuffles, zero Python; the whole query is a map over the scan
    and at 100 TB runs at parquet-read speed. Thresholds compare in
    integer space (``3*n <= sum_len``) so keep/drop never depends on
    float rounding.

    The single-row-group scan is widened before the HOF stage — the
    tokenize + aggregate/filter lambdas are the heavy-per-row-map
    profile; per-row outputs are placement-independent. No-op at
    100 TB (the zero-shuffle claim above still holds there)."""
    docs = widen_scan(load(spark, sf_dir, "documents"), "doc_id")
    stops = ", ".join(f"'{s}'" for s in _STOPWORDS)
    staged = docs.select(
        "doc_id", F.expr(_WORDS).alias("w"))
    stats = staged.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_words"),
        F.expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")
            .alias("sum_len"),
        F.expr(f"size(filter(w, x -> x IN ({stops})))")
            .cast("bigint").alias("stop_hits"),
    )
    keep = (F.col("n_words").between(MIN_WORDS, MAX_WORDS)
            & (F.lit(MIN_MEAN_LEN) * F.col("n_words") <= F.col("sum_len"))
            & (F.col("sum_len") <= F.lit(MAX_MEAN_LEN) * F.col("n_words"))
            & (F.col("stop_hits") >= MIN_STOP_HITS))
    return stats.select(
        "doc_id", "n_words",
        fround(F.col("sum_len").cast("double") / F.col("n_words"), 4)
            .alias("mean_word_len"),
        "stop_hits", keep.alias("keep"))


@query(
    "unigram_logprob_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents),
    counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY token),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts)
    SELECT doc_id,
           -- same decomposition as the Spark side (sum(ln c)/n − ln T),
           -- not avg(ln c − ln t): differing float summation could flip
           -- the half-up rounding at a 4th-decimal boundary
           {fround_sql('sum(ln(c)) / count(*) - ln(any_value(t))', 4)}
               AS avg_logprob
    FROM toks JOIN counts USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-0 LM quality score: mean ln p(token) per document under the
    corpus's own unigram distribution (CCNet's perplexity ranking with
    the model collapsed to unigrams — no external LM needed).

    Plan (the oracle's join-on-every-token-instance is the spec; this is
    the 100 TB shape): the scoring join attaches vocab counts to token
    instances WITHOUT shuffling the corpus — the count table is
    vocabulary-sized (sublinear in corpus), so AQE broadcasts it; a
    window `count() over (partition by token)` would instead shuffle
    every token instance on a Zipf-skewed key ("the" lands in one task).
    avg(ln c − ln T) is decomposed as sum(ln c)/n − ln(T) so the corpus
    total T comes from a LIGHT third branch (sum of array sizes — no
    explode, no token shuffle, 1-row broadcast) instead of a second
    explode→aggregate chain; identical to 4 decimals. The per-doc
    aggregate is the only corpus-sized shuffle, keyed on doc_id.

    (a) The corpus total T is read off the vocab count table (sum of c
    == token instances, i.e. sum(size(w))) instead of a third
    scan+tokenize of the corpus. (b) The count table is staged: it feeds
    the broadcast build AND the total, and exchange reuse does not cross
    a broadcast boundary, so the tokenize+explode+aggregate pipeline
    would run once per consumer; the checkpoint is vocab-sized
    (sublinear — a digest, not the corpus). Staging the corpus-sized
    token table instead was measured slower (0.342 vs 0.303 s) and
    rejected. (c) widen_scan ahead of the tokenize (the heavy-per-row-
    map rule)."""
    from ..staging import stage

    docs = widen_scan(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(_WORDS)).alias("token"))
    counts = stage(toks.groupBy("token")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    total = counts.agg(F.sum("c").cast("double").alias("t"))
    per_doc = (toks.join(counts, "token")
               .groupBy("doc_id")
               .agg(F.sum(F.log("c")).alias("sum_ln_c"),
                    F.count(F.lit(1)).cast("double").alias("n")))
    return (per_doc.crossJoin(F.broadcast(total))
            .select("doc_id",
                    fround(F.col("sum_ln_c") / F.col("n") - F.log("t"), 4)
                    .alias("avg_logprob")))


@query(
    "ngram_novelty_report",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, unnest(g) AS gram
        FROM (SELECT doc_id, {duck_ngrams(5)} AS g
              FROM documents
              WHERE len({_DUCK_WORDS}) >= 5)),
    gram_docs AS (
        SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
        FROM grams GROUP BY gram)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE n_docs = 1) AS BIGINT)
               AS novel_grams,
           {fround_sql(
               'CAST(count(*) FILTER (WHERE n_docs = 1) AS DOUBLE)'
               ' / count(*)', 4)} AS novelty
    FROM grams JOIN gram_docs USING (gram)
    GROUP BY doc_id
    """,
)
def ngram_novelty_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document memorization risk: the fraction of a document's
    distinct 5-grams found in no other document (grams are distinct per
    doc, so corpus occurrence count == document count). Low novelty =
    near-duplicate of something else in the corpus — the per-doc view
    of ``duplicate_ratio_report``.

    Plan: ONE scan, ONE explode, gram frequency as a window count over
    the (doc_id, gram) pairs, then the per-doc aggregate. The window
    partitions on the gram — a deliberate contrast with
    ``unigram_logprob_score``, which REJECTS the window form: token
    keys are Zipf-skewed and the token vocab is tiny (broadcast join
    wins there), while distinct 5-grams are near-unique (flat keys, no
    skew) and their "vocabulary" is nearly instance-sized — a count
    table that can never broadcast at 100 TB, which would force the
    aggregate-then-join form into shuffling BOTH sides on the gram
    anyway, plus a second corpus scan. Measured 1.8x over the
    join form at sf0.1 (1.11 s vs 1.96 s). The gram arrays come from a
    widened scan (dedup.ngram_arrays); counts are placement-
    independent."""
    from pyspark.sql import Window

    grams = (ngram_arrays(load(spark, sf_dir, "documents"), 5)
             .select("doc_id", F.explode("grams").alias("gram")))
    gram_w = Window.partitionBy("gram")
    ann = grams.withColumn("n_docs", F.count(F.lit(1)).over(gram_w))
    novel = F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0)).cast("bigint")
    n_grams = F.count(F.lit(1)).cast("bigint")
    return (ann.groupBy("doc_id")
            .agg(n_grams.alias("n_grams"),
                 novel.alias("novel_grams"),
                 fround(novel.cast("double") / n_grams, 4).alias("novelty")))


@query(
    "vocab_typo_pairs",
    scale_twin="vocab_typo_pairs_symspell",
    oracle=f"""
    WITH vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_DUCK_WORDS}) AS token FROM documents)
        GROUP BY token)
    SELECT a.token AS token, b.token AS variant, a.n AS token_n,
           b.n AS variant_n
    FROM vocab a JOIN vocab b
      ON substring(a.token, 1, 1) = substring(b.token, 1, 1)
     AND abs(length(a.token) - length(b.token)) <= 1
     AND a.token <> b.token
     AND levenshtein(a.token, b.token) = 1
    WHERE a.n >= 10 * b.n
    """,
)
def vocab_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/variant detection over the corpus vocabulary — the entity-
    resolution shape (blocked fuzzy self-join) applied to tokens: pairs
    at edit distance 1 where one spelling is >=10x more frequent (the
    classic 'rare variant of a common word' typo signal, the vocab-
    cleanup step before id assignment).

    Scale design: the join is on the VOCABULARY (sublinear in corpus),
    never on token instances, and is BLOCKED — equality on the first
    character plus a +/-1 length band — so Catalyst gets an equi-join
    key and plans a hash join instead of a cartesian levenshtein sweep;
    the quadratic edit-distance work only runs inside (first_char)
    blocks. Pairs are oriented by FREQUENCY (a = the >=10x-more-common
    spelling), not lexicographically — a lexicographic orientation
    silently drops every typo that happens to sort before its common
    form (found by the planted-typo unit test); the 10x skew makes the
    orientation unique, so no pair emits twice."""
    docs = load(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(F.expr(_WORDS)).alias("token"))
             .groupBy("token")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    a = vocab.alias("a")
    b = vocab.alias("b")
    return (a.join(
                b,
                (F.expr("substring(a.token, 1, 1)")
                 == F.expr("substring(b.token, 1, 1)"))
                & (F.abs(F.length("a.token") - F.length("b.token")) <= 1)
                & (F.col("a.token") != F.col("b.token"))
                & (F.levenshtein("a.token", "b.token") == 1))
            .filter(F.col("a.n") >= 10 * F.col("b.n"))
            .select(F.col("a.token").alias("token"),
                    F.col("b.token").alias("variant"),
                    F.col("a.n").alias("token_n"),
                    F.col("b.n").alias("variant_n")))


@query(
    "vocab_typo_pairs_symspell",
    oracle=f"""
    WITH vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_DUCK_WORDS}) AS token FROM documents)
        GROUP BY token)
    SELECT a.token AS token, b.token AS variant, a.n AS token_n,
           b.n AS variant_n
    FROM vocab a JOIN vocab b
      ON abs(length(a.token) - length(b.token)) <= 1
     AND a.token <> b.token
     AND levenshtein(a.token, b.token) = 1
    WHERE a.n >= 10 * b.n
    """,
)
def vocab_typo_pairs_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for typo detection — SymSpell-style deletion
    neighborhoods (Garbe 2012): every token emits itself plus its
    length-1 deletion variants as join keys; any two tokens at
    Levenshtein distance 1 provably share a key (substitution → same
    deletion at the edit position; insert/delete → the shorter token IS
    a deletion of the longer), so candidates come from one EQUI-join on
    an 8-byte key hash — linear in vocab × word length — and the exact
    levenshtein==1 filter runs only on candidates. Two advantages over
    the blocked quadratic twin (`vocab_typo_pairs`): no per-block
    O(block²) sweep at 10^7-token vocabularies, and no first-character
    block, so first-letter typos ('table'→'able') are not silently
    excluded — this twin's oracle is the COMPLETE distance-1 spec."""
    docs = load(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(F.expr(_WORDS)).alias("token"))
             .groupBy("token")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    keys = vocab.select(
        "token", "n",
        F.explode(F.expr(
            "concat(array(token), transform(sequence(1, length(token)),"
            " i -> concat(substring(token, 1, i - 1),"
            " substring(token, i + 1, length(token)))))")).alias("k"))
    a = keys.select(F.col("token").alias("a_token"),
                    F.col("n").alias("a_n"),
                    F.xxhash64("k").alias("kh"))
    b = keys.select(F.col("token").alias("b_token"),
                    F.col("n").alias("b_n"),
                    F.xxhash64("k").alias("kh"))
    cands = (a.join(b, "kh")
             .filter(F.col("a_token") != F.col("b_token"))
             .select("a_token", "a_n", "b_token", "b_n")
             .distinct())
    return (cands
            .filter((F.levenshtein("a_token", "b_token") == 1)
                    & (F.col("a_n") >= 10 * F.col("b_n")))
            .select(F.col("a_token").alias("token"),
                    F.col("b_token").alias("variant"),
                    F.col("a_n").alias("token_n"),
                    F.col("b_n").alias("variant_n")))


# Quality bands on the ROUNDED unigram score (rounding is hash-proven, so
# banding is engine-exact); per-band keep rates out of 100.
_BAND_HI, _BAND_MID = -6.0, -6.5
_RATES = {"high": 80, "mid": 50, "low": 10}


@query(
    "quality_mixture_sample",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents),
    counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY token),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts),
    scored AS (
        SELECT doc_id,
               -- same decomposition as the Spark side; see
               -- unigram_logprob_score's oracle
               {fround_sql('sum(ln(c)) / count(*) - ln(any_value(t))', 4)}
                   AS avg_logprob
        FROM toks JOIN counts USING (token) CROSS JOIN tot
        GROUP BY doc_id),
    banded AS (
        SELECT doc_id, avg_logprob,
               CASE WHEN avg_logprob >= {_BAND_HI} THEN 'high'
                    WHEN avg_logprob >= {_BAND_MID} THEN 'mid'
                    ELSE 'low' END AS band
        FROM scored)
    SELECT doc_id, band, avg_logprob
    FROM banded
    -- the SHARED bucket scheme (sampling._bucket_sql), not an inline
    -- copy that could drift from hash_bucket
    WHERE {_bucket_sql('doc_id', 100)} <
          CASE band WHEN 'high' THEN {_RATES['high']}
                    WHEN 'mid' THEN {_RATES['mid']}
                    ELSE {_RATES['low']} END
    """,
)
def quality_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted data mix — the curriculum-sampling composition:
    score every document with the corpus unigram LM, band it on FIXED
    thresholds of the ROUNDED score (banding is then engine-exact and,
    unlike decile ntile/percent_rank, needs no global ranking window —
    the move that keeps this map-shaped at 100 TB), and keep 80% of
    high-quality, 50% of mid, 10% of low documents via the md5-bucket
    draw (pure function of doc_id: reproducible across runs, engines,
    partitionings). One query = the score pipeline + a CASE + a filter;
    everything after the per-doc aggregate is a projection."""
    from .sampling import hash_bucket

    scored = unigram_logprob_score(spark, sf_dir)
    band = (F.when(F.col("avg_logprob") >= _BAND_HI, "high")
            .when(F.col("avg_logprob") >= _BAND_MID, "mid")
            .otherwise("low"))
    rate = (F.when(F.col("band") == "high", _RATES["high"])
            .when(F.col("band") == "mid", _RATES["mid"])
            .otherwise(_RATES["low"]))
    return (scored.withColumn("band", band)
            .filter(hash_bucket(F.col("doc_id"), 100) < rate)
            .select("doc_id", "band", "avg_logprob"))
