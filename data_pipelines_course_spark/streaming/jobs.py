"""Structured Streaming jobs.

Reference lineage (SURVEY §2.9/§3.3): the course's streaming story is a
60 s DStream wordcount over a socket of tweet text
(Chapter 6 - Introduction to Spark Streaming.ipynb:45-134, feeder
streaming/tweepy_stream.py:61-83). Here each piece becomes Structured
Streaming: sources are socket/rate/file (`readStream`), the wordcount is
the same declarative transform as the batch path (one definition, two
execution modes — the engine's batch/stream parity guarantee), and the
DStream's processing-time batches become `trigger(processingTime=...)`.

Beyond the reference (required for an honest Spark streaming story, per
SURVEY §7 stage 4): event-time tumbling/sliding/session windows with
watermarks for late data, and foreachBatch for exactly-once-style sink
composition and batch-parity testing.

Scale notes: every stateful operator here keys its state (word, user_id,
window) so state partitions across executors; watermarks bound state
growth — without them a 100 TB/day stream accumulates unbounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import configure

# ---------------------------------------------------------------------------
# Sources (T1/S12/S14-analog). The socket source mirrors the reference's
# socketTextStream(0.0.0.0, 9999); file/rate sources are the replayable
# test stand-ins for the tweepy feeder (SURVEY: S13 → file/rate in tests).
# ---------------------------------------------------------------------------

def socket_lines(spark: SparkSession, host: str = "0.0.0.0",
                 port: int = 9999) -> DataFrame:
    configure(spark)
    return (spark.readStream.format("socket")
            .option("host", host).option("port", port).load())


def file_lines(spark: SparkSession, path: str) -> DataFrame:
    """Text-file stream: each new file in `path` becomes micro-batch input
    (replayable fixture per FIXTURES.md F-11)."""
    configure(spark)
    return spark.readStream.format("text").load(path)


def rate_events(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic keyed event stream off the rate source (timestamp, value)."""
    configure(spark)
    return (spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second).load()
            .select(F.col("timestamp").alias("ts"),
                    (F.col("value") % 10).alias("user_id"),
                    (F.col("value") % 100).cast("double").alias("value")))


# ---------------------------------------------------------------------------
# Transforms — defined once, applied to batch or streaming frames alike.
# ---------------------------------------------------------------------------

def wordcount_transform(lines: DataFrame, col: str = "value") -> DataFrame:
    """T2 — the DStream wordcount (flatMap(split) → map((w,1)) →
    reduceByKey) as one declarative plan; partial aggregation replaces the
    manual combiner. The tokenizer IS the batch one (relational._tokens)
    — one definition, two execution modes, so the batch/stream parity
    tests and the DuckDB oracle can never desynchronize from a tweak to
    one copy."""
    from ..operators.relational import _tokens

    return (_tokens(lines, text_col=col)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt")))


def windowed_wordcount(lines: DataFrame, ts_col: str = "timestamp",
                       window: str = "60 seconds",
                       watermark: str = "2 minutes") -> DataFrame:
    """T1+T2 with event time: tumbling windows (the 60 s micro-batch
    interval re-expressed as event-time windows) + watermark so late rows
    beyond `watermark` are dropped and state is bounded.

    Watermark semantics note (fuzz grammar v9, 40 randomized
    append-mode scenarios vs an exact simulator — tests/fuzz.py v9
    section):
    Spark's LATE-data filter lags the EVICTION watermark by one
    micro-batch, filters on the window END (not the row's event time),
    and both boundaries are inclusive — so a row later than the
    advertised delay may still be aggregated (drop is a lower bound,
    per the Spark docs), and a window is emitted exactly once, when
    the eviction watermark overtakes its end."""
    return (lines
            .withWatermark(ts_col, watermark)
            .select(F.col(ts_col),
                    F.explode(F.split(F.lower(F.col("value")), r"\W+"))
                    .alias("word"))
            .filter(F.col("word") != "")
            .groupBy(F.window(ts_col, window), "word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "word", "cnt"))


def sliding_user_stats(events: DataFrame, ts_col: str = "ts",
                       window: str = "60 seconds",
                       slide: str = "30 seconds",
                       watermark: str = "2 minutes") -> DataFrame:
    """Sliding event-time aggregation per user (beyond-reference surface)."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window, slide), "user_id")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("value").alias("total"))
            .select(F.col("window.start").alias("window_start"),
                    "user_id", "cnt", "total"))


def session_windows(events: DataFrame, ts_col: str = "ts",
                    gap: str = "30 seconds",
                    watermark: str = "2 minutes") -> DataFrame:
    """Session windows keyed by user — activity bursts separated by >gap
    close the session (NOT exercised in the reference; engine surface).

    Semantics notes (fuzz grammar v10, 40 randomized append-mode
    scenarios vs a batch-by-batch state simulator — tests/fuzz.py v10
    section): sessions merge by interval union of [ts, ts+gap],
    INCLUSIVE at touching boundaries; merging happens before eviction
    within a micro-batch, so a same-batch event can extend a session
    past the watermark and keep it open; a key whose session was
    already emitted can re-open and emit a second — possibly
    overlapping — session row for late-but-not-too-late data. Streaming
    session windows REQUIRE a grouping key: Spark rejects global
    session aggregation ("Global aggregation with session window in
    streaming query is not supported")."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(ts_col, gap), "user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "user_id", "cnt"))


# ---------------------------------------------------------------------------
# Custom stateful operators (beyond-reference; SURVEY §2.9 "NOT exercised"
# rows — arbitrary keyed state is what DStream's updateStateByKey offered
# and the course never used).
# ---------------------------------------------------------------------------

def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, total) carried across micro-batches via
    applyInPandasWithState — the engine's custom-stateful-operator
    exemplar.

    Scale notes: state is keyed by user_id so it partitions across
    executors; each key's state is two scalars (fixed size). The function
    body is a closure, so it pickles by value — executors never import
    this module.
    """

    def update(key, pdf_iter, state):
        import pandas as pd  # executor-side import

        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame({"user_id": [key[0]],
                            "running_cnt": [cnt],
                            "running_total": [total]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    configure(events.sparkSession)
    return (events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, running_cnt bigint, "
                         "running_total double",
        stateStructType="cnt bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))


def dedup_stream(events: DataFrame, keys: list[str],
                 ts_col: str = "ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: drop rows whose `keys` repeat within the
    watermark horizon. State holds one entry per key seen, expired once
    the watermark passes — bounded, unlike an unwatermarked distinct
    which grows forever on a 100 TB/day stream."""
    configure(events.sparkSession)
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(keys))


# ---------------------------------------------------------------------------
# Sinks / lifecycle (T3, K9).
# ---------------------------------------------------------------------------

def start_console(result: DataFrame, interval: str = "60 seconds",
                  mode: str = "update"):
    """K9 console sink with the reference's 60 s processing-time cadence
    (StreamingContext(sc, 60) → trigger(processingTime='60 seconds'))."""
    return (result.writeStream.outputMode(mode).format("console")
            .trigger(processingTime=interval).start())


def run_available_now_to_memory(result: DataFrame, name: str,
                                mode: str = "update"):
    """Drain everything currently available into an in-memory table (K11
    mock-sink analog) and block until done — the deterministic test
    lifecycle: start → awaitTermination."""
    q = (result.writeStream.outputMode(mode).format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def foreach_batch_writer(result: DataFrame, batch_fn,
                         output_mode: str = "update"):
    """foreachBatch composition point — used for batch-parity tests and
    for sinks Spark lacks natively (the reference's SQLite append K3
    becomes `lambda df, epoch: df.write.jdbc(...)` here).

    `output_mode` matters for windowed aggregates upstream: UPDATE
    delivers partial per-window counts every batch, which breaks sinks
    whose contract is "all of a closed window's rows arrive together"
    (trending_topk_sink) — attach those with output_mode="append" so
    only watermark-closed windows flow."""
    return (result.writeStream.outputMode(output_mode)
            .foreachBatch(batch_fn).trigger(availableNow=True).start())


def enrich_stream_with_dim(stream: DataFrame, dim: DataFrame,
                           on: str, how: str = "inner") -> DataFrame:
    """Stream-static join: enrich a stream against a slowly-changing
    dimension table (beyond-reference surface; the reference's analog is
    the per-row Google-Places lookup in luigi/taxi_data_import.py:129-150,
    re-expressed as a join instead of an API call per row — J2).

    The static side is re-read per micro-batch (so dim updates between
    batches are picked up). No hard broadcast hint: the dimension grows
    with the business (the repo-wide rule — a forced broadcast bypasses
    the size check and OOMs once the dim outgrows it); Spark's size
    estimate broadcasts it while small and shuffle-joins beyond."""
    return stream.join(dim, on, how)


def interval_join_view_clicks(views: DataFrame, clicks: DataFrame,
                              horizon: str = "10 minutes",
                              watermark: str = "20 minutes",
                              how: str = "inner") -> DataFrame:
    """Stream-STREAM join on user_id with an event-time interval: each
    click attaches to a view by the same user that happened at most
    `horizon` before it (attribution). Completes the join matrix next to
    the stream-static `enrich_stream_with_dim` (beyond-reference surface
    — the course's DStreams never join two streams).

    State-boundedness is the whole design: BOTH sides carry a watermark
    and the join condition constrains the two event times to a bounded
    interval, so Spark derives a state-eviction watermark for each side
    — a view older than watermark+horizon can never match a future click
    and its buffered state is dropped. Without the time bound the state
    would grow forever; Spark refuses outer stream-stream joins in that
    case for exactly that reason. `how="left_outer"` emits unmatched
    views once their interval expires (attribution misses).

    Semantics notes (fuzz grammar v11, 40 randomized inner-join
    scenarios vs an exact row-level oracle — tests/fuzz.py v11
    section): the GLOBAL watermark is the MIN over both sides' watermarks (default
    multipleWatermarkPolicy) — a quiet side pins it, so state grows
    until BOTH streams advance; both inputs are late-filtered on raw
    event time, inclusively, against the watermark one micro-batch
    behind the progress-reported value; state eviction is conservative
    w.r.t. that filter, so for the INNER join the emitted pairs are
    exactly {condition holds AND both rows passed their arrival-batch
    filter}.

    `how` is validated against the VERIFIED modes (an unvalidated `how`
    would run full_outer with semantics no grammar has pinned): inner
    (fuzz v11), left_outer (fuzz v12), right_outer (fuzz v13 —
    null-emission = the row's own event time falling behind the final
    min-policy watermark, strictness from the LOWER bound; probes
    R-A..R-E).
    full_outer is rejected until a grammar verifies its combined
    two-sided eviction timing."""
    verified = ("inner", "left_outer", "right_outer")
    if how not in verified:
        raise ValueError(
            f"interval_join_view_clicks: how={how!r} is not a verified "
            f"mode {verified}; full_outer/semi modes are unsupported "
            "until their null-emission semantics are grammar-verified")
    v = (views.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("v_user"),
                 F.col("ts").alias("view_ts"),
                 F.col("event_id").alias("view_id")))
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id")))
    cond = ((F.col("v_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts")
               + F.expr(f"INTERVAL {horizon}")))
    return (v.join(c, cond, how)
            .select(F.col("v_user").alias("user_id"), "view_id", "view_ts",
                    "click_id", "click_ts"))


def decontaminate_stream(stream_docs: DataFrame,
                         bench_docs: DataFrame) -> DataFrame:
    """Streaming decontamination: flag incoming documents that MinHash-LSH
    matches against a STATIC benchmark set (the ingest-time twin of
    operators/dedup.decontaminate_lsh — catch contamination as documents
    arrive instead of in a later batch sweep).

    The stream side CANNOT use the batch signature pipeline: that one is
    groupBy(doc_id) over exploded shingles, and a streaming aggregation
    followed by a join is both unsupported and needlessly stateful. Per-row
    signatures via array higher-order functions (shingles never explode —
    array_min over a transform per permutation) are stateless, so the whole
    plan is micro-batch-local: band keys per row, broadcast join against
    the static benchmark band table, zero state store, no watermark.

    Emits (doc_id, bench_id) candidate hits — duplicated per matching band;
    dedup per micro-batch (and idempotent delivery) belongs in foreachBatch
    at the sink, where `dropDuplicates` is batch-local and bounded.
    Batch parity: both sides band through dedup.minhash_bands, the one
    band definition decontaminate_lsh also joins on, and the per-row
    signature is bit-identical to the batch one, so a hit here IS a
    decontaminate_lsh candidate pair before its est-Jaccard cutoff."""
    from ..operators.dedup import (
        minhash_bands,
        minhash_signatures,
        rowwise_minhash_sig,
    )

    bench_bands = minhash_bands(minhash_signatures(bench_docs), "bench_id")
    stream_bands = minhash_bands(rowwise_minhash_sig(stream_docs), "doc_id")
    return (stream_bands
            .join(F.broadcast(bench_bands), ["band", "band_hash"])
            .select("doc_id", "bench_id"))


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """running_user_totals on the transformWithStateInPandas API (Spark
    4.x's successor to applyInPandasWithState): state is a typed
    ValueState handle managed by the state store (RocksDB-backed on a
    real cluster) instead of an opaque tuple, with explicit lifecycle
    (init/handleInputRows/close) and first-class TTL/timer support.

    Same semantics as running_user_totals — per-user (count, total)
    carried across micro-batches — so tests can assert the two APIs
    agree batch-for-batch. Keyed state partitions by user_id; each key's
    state is two scalars.

    Runtime dependency: the transformWithState JVM↔Python state protocol
    is protobuf-based; environments without google.protobuf can build
    the plan but not run it (the parity test importorskips). The
    applyInPandasWithState twin has no such dependency and remains the
    default."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    import pandas as pd  # noqa: F401 (processor runs in Arrow workers)

    out_schema = "user_id bigint, n bigint, total double"

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n bigint, total double")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd
            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [total]})

        def close(self) -> None:
            pass

    return (events.groupBy("user_id")
            .transformWithStateInPandas(
                RunningTotals(), outputStructType=out_schema,
                outputMode="Update", timeMode="None"))


def idempotent_batch_sink(path: str):
    """Exactly-once-style parquet sink for foreachBatch: each micro-batch
    lands in its own `_batch_id=` partition via dynamic partition
    overwrite, so a REPLAYED batch (Structured Streaming's contract after
    failure is at-least-once delivery to the sink fn) replaces its own
    partition instead of appending duplicates — idempotent writes turn
    at-least-once delivery into exactly-once table state, the standard
    recipe for non-transactional sinks.

    At 100 TB nothing changes: overwrite granularity is one micro-batch
    partition; committed partitions are never rewritten, and readers see
    whole partitions (parquet commit protocol) rather than torn batches."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        # Per-WRITE dynamic overwrite, never the session conf: toggling
        # spark.sql.sources.partitionOverwriteMode around the write races
        # with any other query on the same session — its restore could
        # land mid-way through a sibling sink's overwrite, flipping that
        # write to static mode and deleting every partition but the
        # current batch. The writer option is scoped to this
        # one write and takes precedence over the session conf.
        (df.withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(path))

    return write_batch


def rollup_maintenance_sink(rollup_path: str):
    """foreachBatch function that keeps the daily rollup table current as
    event micro-batches arrive, composing the two sink primitives into an
    exactly-once pipeline:

    1. the raw batch lands in an event log via idempotent_batch_sink —
       a REPLAYED batch overwrites its own `_batch_id=` partition, so
       the log never holds duplicates;
    2. only the date partitions this batch touches are recomputed from
       the full log via incremental_daily_rollup (dynamic partition
       overwrite) — dates older than the batch's minimum are untouched.

    Streaming ingest and the batch incremental ETL therefore converge on
    the same table contract, and a failure/replay at any point re-runs
    into identical state. At 100 TB both steps stay partition-granular:
    the log write is one batch, the recompute reads only the in-flight
    dates' slice of the log (date-partitioning the log turns that into
    partition pruning)."""
    from ..sinks.writers import incremental_daily_rollup

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        log_path = rollup_path + "_events"
        idempotent_batch_sink(log_path)(batch_df, batch_id)
        low = batch_df.select(F.min(F.to_date("ts"))).head()[0]
        log = spark.read.parquet(log_path).drop("_batch_id")
        # A non-empty batch whose timestamps are ALL NULL has no date
        # watermark (min is None; .isoformat() would crash the sink).
        # Fall back to a full recompute: correct for any input, and
        # an all-NULL batch is a data-quality anomaly, not the hot path.
        incremental_daily_rollup(log, rollup_path,
                                 since=None if low is None
                                 else low.isoformat())

    return update


def trending_terms(lines: DataFrame, ts_col: str = "timestamp",
                   text_col: str = "value",
                   window: str = "60 seconds", slide: str = "30 seconds",
                   watermark: str = "1 minutes") -> DataFrame:
    """Sliding-window term counts over a text stream — the aggregation
    half of a 'trending now' feed. Watermarked, so state for old windows
    is evicted; append mode emits each (window, word) exactly once with
    its FINAL count when the watermark closes the window — which is what
    makes per-window ranking in the sink correct (all of a closed
    window's rows arrive in the same micro-batch)."""
    words = lines.select(
        F.col(ts_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
    return (words
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window, slide), "word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("window_start"),
                    "word", "cnt"))


def trending_topk_sink(path: str, k: int = 3):
    """foreachBatch half of the trending feed: rank each closed window's
    words and keep the top-k, landing in a `window_start=` partition via
    dynamic partition overwrite — so a replayed batch rewrites its own
    windows (exactly-once table state, same recipe as
    idempotent_batch_sink) and the serving table holds exactly k rows
    per window. The rank is a window function over the MICRO-BATCH (a
    few closed windows × vocab), never over the stream's history; at
    100 TB the state that matters is in the upstream windowed aggregate,
    bounded by the watermark."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        from pyspark.sql import Window

        spark = df.sparkSession
        w = (Window.partitionBy("window_start")
             .orderBy(F.desc("cnt"), "word"))
        top = (df.withColumn("rnk", F.row_number().over(w))
               .filter(F.col("rnk") <= k))
        (top.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")  # per-write; see
         .partitionBy("window_start")                  # idempotent_batch_sink
         .parquet(path))

    return write_batch


SCD2_BUCKETS = 16  # dimension-table partition granularity (user_id % N)


def scd2_maintenance_sink(dim_path: str, buckets: int = SCD2_BUCKETS):
    """foreachBatch function that keeps a type-2 SCD dimension current
    from a CDC event stream — the streaming twin of the batch
    `scd2_user_state_intervals` build, composed from the exactly-once
    sink primitives:

    1. the raw batch lands in an event log via idempotent_batch_sink
       (a replayed batch overwrites its own `_batch_id=` partition);
    2. only the `bucket = user_id % N` partitions the batch TOUCHES are
       rebuilt: those users' full history is re-read from the log,
       re-run through the run-length interval builder, and written with
       dynamic partition overwrite — untouched buckets are never
       rewritten (asserted by mtime in the test).

    Interval maintenance is inherently per-user-history (a late event
    can split or merge any of that user's runs), so per-bucket recompute
    is the correct granularity: work per micro-batch is O(touched
    users' history), not O(dimension). At 100 TB the log is also
    bucket-partitioned, turning step 2's history re-read into partition
    pruning instead of a full-log scan."""
    from ..operators.temporal import scd2_intervals

    # NULL user_ids bucket to the sentinel N (one shared expression for
    # probe, log filter and dim build): `user_id % N` is NULL for them,
    # which crashed the touched-bucket collect (int(None)) and could
    # never match an isin() filter — a CDC batch containing one NULL key
    # would otherwise kill the sink. CDC feeds DO
    # deliver NULL keys (broken-RI axis), and their history belongs in
    # the dimension's NULL-key group, not in a crash. pmod (not %) with
    # sentinel N, not -1: Spark's % keeps the dividend's sign, so a
    # negative-key corpus would spread across buckets -1..-(N-1) and
    # user_id ≡ -1 (mod N) would ALIAS the -1 sentinel — whole-bucket
    # recompute kept that correct, but the NULL group wasn't the
    # disjoint partition the layout claims. With pmod, real
    # keys of either sign occupy 0..N-1 and the sentinel N is provably
    # theirs alone.
    bucket_of = F.coalesce(F.pmod(F.col("user_id"), F.lit(buckets)),
                           F.lit(buckets))

    # Backward-compat guard: a dimension written under the older
    # sign-preserving layout (% with sentinel -1) holds
    # bucket=-1 .. bucket=-(N-1) partitions that the pmod layout never
    # writes — and dynamic partition overwrite only rewrites buckets
    # present in NEW data, so those stale partitions would survive an
    # in-place upgrade and duplicate NULL/negative-key history in every
    # read of the dimension. Detect them once per sink and fail loudly:
    # the fix is a rebuild from the event log (delete dim_path, replay),
    # not a silent merge.
    checked = []

    def _reject_legacy_layout(spark) -> None:
        if checked:
            return
        checked.append(True)
        jpath = spark._jvm.org.apache.hadoop.fs.Path(dim_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return
        stale = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith("bucket="):
                try:
                    if int(name.split("=", 1)[1]) < 0:
                        stale.append(name)
                except ValueError:
                    continue
        if stale:
            raise ValueError(
                f"scd2_maintenance_sink: {dim_path} contains legacy "
                f"sign-preserving bucket partitions {sorted(stale)} "
                "(pre-pmod layout). Dynamic partition overwrite never "
                "rewrites them, so they would duplicate NULL/negative-"
                "key history. Rebuild the dimension from the event log: "
                f"delete {dim_path} and replay {dim_path}_events."
            )

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _reject_legacy_layout(spark)
        log_path = dim_path + "_events"
        idempotent_batch_sink(log_path)(batch_df, batch_id)
        touched = [int(r["b"]) for r in
                   (batch_df.select(bucket_of.alias("b"))
                    .distinct().collect())]
        log = (spark.read.parquet(log_path).drop("_batch_id")
               .filter(bucket_of.isin(touched)))
        dim = (scd2_intervals(log)
               .withColumn("bucket", bucket_of))
        (dim.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")  # per-write; see
         .partitionBy("bucket")                        # idempotent_batch_sink
         .parquet(dim_path))

    return update


def dedup_index_sink(index_path: str, hits_path: str):
    """Incremental near-duplicate detection against a GROWING corpus —
    the production ingest-dedup shape: every arriving document is
    MinHash-banded, probed against the accumulated band index (was
    anything LIKE this ever ingested?), and then appended to that index
    for all future batches. First occurrence passes, later near-copies
    are flagged ON ARRIVAL — no nightly O(corpus²) sweep.

    Per micro-batch, via foreachBatch:
      1. band keys for the batch via the stateless per-row signature
         (rowwise_minhash_sig — bit-identical to the batch pipeline);
      2. hits = batch bands ⋈ historical index, PLUS the batch's own
         intra-batch pairs (a near-dup and its original arriving
         together must not slip through); both land idempotently in a
         `_batch_id=` partition of hits_path;
      3. the batch's bands land in their own `_batch_id=` partition of
         the index — replayed batches overwrite themselves, so the
         index never holds duplicate band rows.

    Scale notes: the batch side is micro-batch-sized and broadcast; the
    index side only ever streams through a join against it (never
    shuffles). The index scan per batch is the honest cost — at real
    scale the index is written BUCKETED by band_hash so the probe reads
    matching buckets only, and band rows are 24 bytes/doc/band. Flags
    are candidate pairs (LSH semantics); exact-Jaccard confirmation of
    flagged pairs is a downstream filter, same as the batch path."""
    from ..operators.dedup import minhash_bands, rowwise_minhash_sig

    def update(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # Persisted: bands feeds BOTH sides of the intra-batch self-join,
        # the index probe, and the index append — without the persist the
        # 32-permutation MinHash map stage (the sink's dominant CPU cost)
        # re-executes ~4x per micro-batch.
        bands = minhash_bands(rowwise_minhash_sig(batch_df),
                              "doc_id").persist()
        # Existence probe, NOT a blanket except around the read: a
        # corrupt/unreadable index must raise, never silently count as
        # "no history" (which would wave duplicates through).
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(index_path)
        fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jvm_path):
            # Replay idempotency: a re-delivered batch (at-least-once
            # upstream) may find ITS OWN `_batch_id=N` partition already
            # in the index from the first attempt. Probing against it
            # would emit (doc_id, doc_id) self-pairs and reversed
            # intra-batch pairs, so the replayed hits partition would
            # differ from the first run's. Restrict the probe to bands
            # from STRICTLY EARLIER batches — partition pruning makes
            # this a metadata filter, not a scan.
            index = (spark.read.parquet(index_path)
                     .filter(F.col("_batch_id") < F.lit(batch_id))
                     .drop("_batch_id"))
        else:  # first batch: no index yet
            index = None
        cross = None
        if index is not None:
            cross = (F.broadcast(bands).join(
                index.withColumnRenamed("doc_id", "prior_id"),
                ["band", "band_hash"])
                .select("doc_id", "prior_id"))
        intra = (bands.alias("a")
                 .join(bands.alias("b"), ["band", "band_hash"])
                 .filter(F.col("a.doc_id") > F.col("b.doc_id"))
                 .select(F.col("a.doc_id").alias("doc_id"),
                         F.col("b.doc_id").alias("prior_id")))
        try:
            hits = intra if cross is None else cross.unionByName(intra)
            idempotent_batch_sink(hits_path)(hits.distinct(), batch_id)
            idempotent_batch_sink(index_path)(bands, batch_id)
        finally:
            bands.unpersist()

    return update
