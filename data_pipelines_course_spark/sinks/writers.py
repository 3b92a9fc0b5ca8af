"""Sink layer — SURVEY §2.2 (K1-K11) re-expressed as Spark writers.

Reference lineage (file:line in /root/reference):
- K1/K2 CSV with header: DictWriter at airflow/dags/twitter_airflow.py:101-104,
  pandas to_csv at "Extras (Chapter 4) - Clean Vehicle Theft Data.ipynb" cell 9.
- K3/K4 SQL append / typed bulk copy: twitter_airflow.py:118,
  luigi/taxi_data_import.py:160-191 → `write_jdbc`.
- K5 text/TSV lines: luigi/taxi_data_import.py:151-154 → `write_tsv`/`write_text`.
- K6 top-k report: twitter_airflow.py:138-141 (most_common(5) → csv).
- K7 HDFS write: luigi/wordcount_map_reduce.py:19-32 — same writers, hdfs:// URI.
- K10 JSON serialization: celery_app/tasks.py:32 → `write_jsonl`.
- K11 mock sink: luigi MockFile → `collect_rows` (in-memory assertion sink).

Scale design:
- Every writer is a distributed `df.write` — executors write their own
  partition files in parallel; nothing funnels through the driver. The
  reference's single-file DictWriter loop becomes N part-files + _SUCCESS
  (which doubles as the pipeline DSL's C5 idempotence marker).
- `write_partitioned_parquet` is W2 (the dask `set_partition('DateTime',
  yearly divisions)` at "Chapter 4 - First Steps with Dask.ipynb" cells
  17-20): hive-partitioned layout so later reads prune partitions
  statically and dynamically. `place_partition_values` shuffles each
  partition value onto exactly one writer task before the write, so each
  value gets one file instead of one per upstream task (small-files
  explosion at 100 TB). Like dask's explicit divisions, an integral or
  date key is its own division (`pmod(v, n)`): the input is read once,
  with no sampling job to choose bounds.
- `coalesce(1)` appears ONLY in `write_report_csv` (a top-k report is
  tiny by construction); never on data-scale outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, functions as F
from pyspark.sql.types import DateType, IntegralType

from ..datasets import shuffle_width


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True, sep: str = ",") -> None:
    """K1/K2 — header + rows, one file per partition."""
    df.write.mode(mode).option("header", header).option("sep", sep).csv(path)


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K5 — tab-separated lines."""
    write_csv(df, path, mode=mode, header=False, sep="\t")


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K5/K7 — one string column to text files (hdfs://, s3a://, file:
    URIs all work; the FS is an address, not a code path)."""
    df.write.mode(mode).text(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K10 — JSON-lines; the distributed form of df.to_json()."""
    df.write.mode(mode).json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC twin of write_parquet (see sources.readers.read_orc)."""
    df.write.mode(mode).orc(path)


def place_partition_values(df: DataFrame,
                           partition_cols: list[str]) -> DataFrame:
    """Shuffle `df` so that every value of the partition key lands on
    exactly one task; a `partitionBy` write of the result then writes one
    file per value.

    A single integral or `DateType` key is its own division, as dask's
    explicit `divisions` are: value v goes to task `pmod(v, n)`, a date
    by its `unix_date`, NULL to task 0. No job samples the input for
    bounds, so it is read once. Consecutive values round-robin: 1995-2001
    over 4 tasks puts 2, 2, 2 and 1 years on them. `n` is the shuffle
    width capped at the default parallelism (both are the core count in
    a `session.get_spark` session): all n tasks run, and AQE does not
    coalesce an explicit-count shuffle, so Spark's default width of 200
    would run 200 writers, mostly empty, for 7 years.
    Trade-off: placement ignores row counts and gaps, so one heavy value
    is one heavy task, and a key whose stride shares a factor with n
    (only even years with n = 4) uses fewer tasks; a key with many more
    values than cores writes several values per task.

    Any other key (a string, several columns) is range-partitioned, which
    samples the input once to choose contiguous bounds."""
    if len(partition_cols) == 1:
        key = F.col(partition_cols[0])
        dtype = df.schema[partition_cols[0]].dataType
        value = (F.unix_date(key) if isinstance(dtype, DateType)
                 else key if isinstance(dtype, IntegralType) else None)
        if value is not None:
            spark = df.sparkSession
            n = min(shuffle_width(spark),
                    spark.sparkContext.defaultParallelism)
            # pmod is below n, so the int cast (the direct-id shuffle
            # rejects bigint) cannot overflow.
            task = F.coalesce(F.pmod(value, F.lit(n)).cast("int"), F.lit(0))
            return df.repartitionById(n, task)
    return df.repartitionByRange(*partition_cols)


def write_partitioned_parquet(df: DataFrame, path: str,
                              partition_cols: list[str],
                              mode: str = "overwrite") -> None:
    """W2 — hive-partitioned parquet with one file per partition value:
    `place_partition_values` puts each value on one writer task, so a
    p-valued key writes p files instead of (tasks × p) small ones. An
    integral or date key writes with no sampling job; see that helper for
    the trade-off on gapped keys."""
    place_partition_values(df, partition_cols).write.mode(mode) \
        .partitionBy(*partition_cols).parquet(path)


def write_report_csv(df: DataFrame, path: str, k: int = 5,
                     mode: str = "overwrite") -> None:
    """K6 — tiny top-k report (`most_common(5)` shape). The input must
    already be ordered; `limit(k)` caps it and the single output file is
    intentional (reports are for humans/email, not for re-scanning)."""
    df.limit(k).coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_jdbc(df: DataFrame, url: str, table: str,
               mode: str = "append", **options: str) -> None:
    """K3/K4 — SQL append / typed bulk copy. The reference's SQLite
    `to_sql(if_exists='append')` and the 26-column Luigi CopyToTable both
    map here; schema comes from the DataFrame (typed, not positional).
    Requires the target's JDBC driver on the classpath."""
    writer = df.write.mode(mode)
    for key, value in options.items():
        writer = writer.option(key, value)
    writer.jdbc(url, table)


def collect_rows(df: DataFrame) -> list[Row]:
    """K11 — in-memory assertion sink (the luigi MockFile analog). Only
    for tests/small results: this funnels through the driver."""
    return df.collect()


def year_partitioned_orders(orders: DataFrame) -> DataFrame:
    """The W2 exemplar dataset: orders with a derived o_year partition
    column (the dask yearly-divisions case, 1995-2001 → 7-8 partitions)."""
    return orders.withColumn("o_year", F.year("o_orderdate"))


def compact_parquet(spark, path: str, target_file_mb: int = 128) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(bytes / target) files and atomically swap it in. Returns the new
    file count.

    Why it exists: streaming appends, per-trigger micro-batches, and
    over-parallel writers all accrete small files, and at 100 TB a scan's
    task count (and the namenode's memory) is file-count-bound — the
    standard hygiene job is periodic compaction toward the scan split
    size (spark.sql.files.maxPartitionBytes, 128 MB here).

    The rewrite goes to a sibling temp dir first and the swap is two
    directory renames through the Hadoop FileSystem API (so it works on
    any FS Spark can write — local, HDFS, object stores with a rename
    primitive — and raises instead of silently corrupting elsewhere).
    Directory renames cannot be a single atomic exchange on HDFS, so
    there IS a reader-visible gap between rename(path → ._compact_old)
    and rename(._compact_tmp → path): a reader in that window fails and
    must retry (same recovery story as the reference's
    rename-as-processed sentinel, twitter_airflow.py:119). Crash safety:
    ._compact_old is kept until the new path is verified readable, and a
    stranded ._compact_old from a previous crash is restored on entry —
    so the data always exists under `path` or `path._compact_old`,
    never nowhere."""
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    old = hpath(path.rstrip("/") + "._compact_old")
    tmp_s = path.rstrip("/") + "._compact_tmp"
    tmp = hpath(tmp_s)
    # Crash recovery: a previous run that died mid-swap leaves the data
    # under ._compact_old and nothing under path — restore it first.
    if fs.exists(old) and not fs.exists(jvm_path):
        if not fs.rename(old, jvm_path):
            raise IOError(f"compact_parquet: crash-recovery rename "
                          f"{old} -> {path} failed")
    df = spark.read.parquet(path)
    total_bytes = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    if fs.exists(tmp):
        fs.delete(tmp, True)
    # Hive-partitioned layout (k=v subdirectories — e.g. the streaming
    # sinks' `_batch_id=` tables) must be REWRITTEN partitioned: a bare
    # coalesce().write() would flatten the directories into plain files,
    # after which a replayed batch's dynamic overwrite writes into a
    # k=v/ subdir beside them — conflicting structures / silent replay
    # duplication (review r4). Partitioned tables compact to one file
    # per partition (repartition on the partition keys); flat tables
    # coalesce toward the target split size as before.
    # Collect ALL partition levels by walking EVERY k=v branch, not just
    # the first child at each depth: a multi-level layout (e.g.
    # write_training_shards' source=/bin=) compacted with only the first
    # key would demote the inner keys to data columns — recreating the
    # conflicting-layout/replay hazard this rewrite exists to prevent
    # (ADVICE r4). And the first branch alone is not a safe witness for
    # its siblings (ADVICE r5): if that branch is shallower than the
    # others (partially deleted or empty partition), deeper keys would
    # be missed and silently demoted on rewrite. Breadth-first across
    # all branches: every level must carry exactly one key, present in
    # either ALL branches or NONE — mixed keys or ragged depth are
    # malformed layouts, so fail loudly instead of guessing.
    pcols: list[str] = []
    level = [jvm_path]
    while True:
        per_dir = [[st.getPath() for st in fs.listStatus(d)
                    if st.isDirectory() and "=" in st.getPath().getName()]
                   for d in level]
        kvdirs = [p for dirs in per_dir for p in dirs]
        if not kvdirs:
            break
        ragged = [str(d) for d, dirs in zip(level, per_dir) if not dirs]
        if ragged:
            raise IOError(
                "compact_parquet: ragged partition depth — key "
                f"'{kvdirs[0].getName().split('=', 1)[0]}' present under "
                f"some sibling branches but absent under {ragged[:3]} — "
                "refusing to guess a layout")
        keys = {p.getName().split("=", 1)[0] for p in kvdirs}
        if len(keys) != 1:
            raise IOError(
                f"compact_parquet: mixed partition keys {sorted(keys)} at "
                f"one level under {path} — refusing to guess a layout")
        pcols.append(keys.pop())
        level = kvdirs
    if pcols:
        (df.repartition(*[F.col(c) for c in pcols])
         .write.mode("overwrite").partitionBy(*pcols).parquet(tmp_s))
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp_s)
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(jvm_path, old):
        raise IOError(f"compact_parquet: rename {path} -> {old} failed")
    if not fs.rename(tmp, jvm_path):
        # Put the original back rather than leaving the path empty.
        fs.rename(old, jvm_path)
        raise IOError(f"compact_parquet: rename {tmp_s} -> {path} failed; "
                      f"original restored")
    # Verify the new layout is readable before dropping the old one.
    spark.read.parquet(path).schema
    fs.delete(old, True)
    return n_files


def incremental_daily_rollup(events: DataFrame, rollup_path: str,
                             since: str | None = None) -> int:
    """Incremental ETL for an append-mostly event stream: maintain a
    daily (event_date, event_type) rollup table, recomputing ONLY the
    date partitions at/after `since` (the late-arrival watermark) and
    dynamic-partition-overwriting them in place. Partitions older than
    the watermark are not read, not recomputed, and not rewritten — at
    100 TB the daily delta touches O(days-in-flight) partitions instead
    of re-running the full-history aggregate (the luigi date-range
    re-run pattern, expressed as partition-granular overwrite).

    `since=None` (re)builds the whole table. Returns the number of date
    partitions written. The `event_date >= since` filter prunes at the
    SCAN when events are date-partitioned; on the flat test parquet it
    is an ordinary pushed filter."""
    spark = events.sparkSession
    daily = (events
             .withColumn("event_date", F.to_date("ts"))
             .groupBy("event_date", "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum("value").alias("sum_value")))
    if since is not None:
        daily = daily.filter(F.col("event_date") >= F.lit(since))
    # Persist the (tiny: days × types rows) rollup delta so the returned
    # partition count is a scan of the cached aggregate, not a second
    # pass over events. Dynamic overwrite is a per-WRITE option, not a
    # session-conf toggle — the toggle races with concurrent writers on
    # the same session (see streaming.jobs.idempotent_batch_sink).
    daily = daily.persist()
    try:
        (place_partition_values(daily, ["event_date"])
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("event_date")
         .parquet(rollup_path))
        return daily.select("event_date").distinct().count()
    finally:
        daily.unpersist()


def write_xml(df: DataFrame, path: str, row_tag: str = "row",
              mode: str = "overwrite") -> None:
    """XML twin of write_csv for feed-style exports (see
    sources.readers.read_xml; Spark-4 native)."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def write_parquet_with_bloom(df: DataFrame, path: str, bloom_cols: list[str],
                             expected_ndv: int = 100_000,
                             mode: str = "overwrite") -> None:
    """Parquet with per-column BLOOM FILTERS — the data-skipping layer for
    point lookups on high-cardinality columns where min/max footer stats
    are useless (a uuid/user_id predicate matches every file's [min,max]
    range, but a bloom filter answers 'definitely not in this row group'
    at ~1% false-positive cost). Z-order serves range predicates; blooms
    serve equality on unsortable keys; both are write-time decisions the
    reader exploits for free (parquet-mr consults the bloom before
    decoding a row group). Size expected_ndv near the real per-row-group
    distinct count: too low inflates false positives, too high wastes
    footer bytes."""
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = (w.option(f"parquet.bloom.filter.enabled#{c}", "true")
             .option(f"parquet.bloom.filter.expected.ndv#{c}",
                     str(expected_ndv)))
    w.parquet(path)


def read_small_file(spark, path: str) -> bytes:
    """Read a small sidecar file (ledger/manifest) through the Hadoop
    FileSystem API in ONE bulk JVM-side copy. The previous verify_ledger
    pulled one byte per py4j round-trip, and training_run read the same
    ledgers with plain local open() — both break on the non-local
    filesystems the 100 TB framing implies (ADVICE r3). This is the one
    read path every sidecar consumer shares."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        # JVM-side stream copy: no per-byte py4j traffic.
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return bytes(baos.toByteArray())
    finally:
        stream.close()


def write_small_file(spark, path: str, data: bytes) -> None:
    """Write a small sidecar file through the same Hadoop FS API as
    ledgered_write (overwrite=True) — sidecar reads and writes must go
    through ONE filesystem abstraction."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def ledgered_write(df: DataFrame, path: str,
                   mode: str = "overwrite") -> dict:
    """Parquet write with a WRITE LEDGER: alongside the data, a
    `_ledger.json` records the row count actually written (measured by
    an Observation riding the write job — zero extra scans), the schema
    fingerprint, and the wall-clock. The reference validates writes by
    re-reading them (luigi `output().exists()` / count checks); at
    100 TB a verification re-scan doubles the bill, so the ledger IS
    the verification: produced by the same job that wrote the rows.
    Returns the manifest dict."""
    import hashlib
    import json
    import time

    from pyspark.sql import Observation, functions as F

    obs = Observation()
    audited = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    audited.write.mode(mode).parquet(path)
    schema_hash = hashlib.md5(
        df.schema.simpleString().encode()).hexdigest()
    manifest = {
        "rows": int(obs.get["rows"]),
        "schema_md5": schema_hash,
        "schema": df.schema.simpleString(),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    write_small_file(df.sparkSession, path.rstrip("/") + "/_ledger.json",
                     json.dumps(manifest, indent=1).encode())
    return manifest


def verify_ledger(spark, path: str) -> dict:
    """Cheap integrity check of a ledgered table: the CURRENT schema
    must fingerprint-match the manifest, and the row count must equal
    the ledger's (this one does scan — it is the explicit audit tool,
    not the write path). Raises ValueError on any mismatch; returns the
    manifest on success."""
    import hashlib
    import json

    manifest = json.loads(
        read_small_file(spark, path.rstrip("/") + "/_ledger.json").decode())
    df = spark.read.parquet(path)
    schema_hash = hashlib.md5(df.schema.simpleString().encode()).hexdigest()
    if schema_hash != manifest["schema_md5"]:
        raise ValueError(
            f"ledger mismatch at {path}: schema changed "
            f"({df.schema.simpleString()} != {manifest['schema']})")
    n = df.count()
    if n != manifest["rows"]:
        raise ValueError(
            f"ledger mismatch at {path}: {n} rows on disk, "
            f"ledger says {manifest['rows']}")
    return manifest


def write_training_shards(packed: DataFrame, path: str) -> dict:
    """The EXPORT step a training run ends with: land packed sequences
    as one parquet file per (source, bin) shard plus a `_shards.json`
    manifest (docs + tokens per shard) — what a data loader consumes
    (deterministic shard membership, known token budget per file, no
    listing required). `packed` is pack_sequences' shape:
    (doc_id, source, n_tokens, bin).

    Plan: `repartition(source, bin)` hash-places every shard's rows in
    ONE task, so partitionBy emits exactly one file per shard directory
    (the small-files problem solved at write time, not by a compaction
    job); the manifest is a shard-count-sized aggregate of the same
    relation. Both land through the engine's single FS abstraction
    (write_small_file). At 100 TB nothing changes: one task per shard,
    shard size governed by SEQ_LEN x bin capacity upstream.

    Reference basis: the luigi pipeline's per-task output targets
    (luigi/top_daily_locations.py) — generalized to a sharded dataset
    with a machine-readable manifest instead of one opaque file."""
    import json

    spark = packed.sparkSession
    # Write FIRST, manifest from the WRITTEN table: aggregating `packed`
    # up front would execute its whole plan twice (once for the
    # manifest, once for the write). Re-reading the landed parquet costs
    # a shard-count-sized scan of two small columns — and doubles as a
    # read-back validation of what actually hit disk.
    (packed.repartition("source", "bin")
     .write.mode("overwrite").partitionBy("source", "bin").parquet(path))
    man_rows = (spark.read.parquet(path)
                .groupBy("source", "bin")
                .agg(F.count(F.lit(1)).cast("bigint").alias("docs"),
                     F.sum("n_tokens").cast("bigint").alias("tokens"))
                .collect())
    manifest = {
        f"{r['source']}/bin={r['bin']}": {"docs": int(r["docs"]),
                                          "tokens": int(r["tokens"])}
        for r in man_rows}
    write_small_file(spark, path.rstrip("/") + "/_shards.json",
                     json.dumps(manifest, indent=1, sort_keys=True).encode())
    return manifest
