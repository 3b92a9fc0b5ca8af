"""Loaders for the driver testdata tables.

One function, `load(spark, sf_dir, name)`, is the single scan entry point
for every query in the engine — so scan-side concerns (the nanos timestamp
conversion, schema assertions, column pruning hygiene) live in exactly one
place. Loading is lazy; Catalyst still sees the parquet scan and pushes
filters/projection into it, and a load of an already-seen file starts no
Spark job (its physical schema is reused, see `_physical_schema`).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .schemas import TABLE_NAMES, TESTDATA_SCHEMAS
from .session import configure
from .memo import evict_stale

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with its registry schema.

    events.ts is normalized to ONE type (TimestampType, session-TZ UTC)
    regardless of the on-disk encoding, so every downstream operator sees
    a single timestamp flavor:

    - raw nanos LongType (parquet TIMESTAMP(NANOS) under the nanosAsLong
      conf): convert with integer `div` — a float division would lose
      precision at ~1e18 ns epochs (double has 53 mantissa bits ≈ ±256 ns
      error);
    - TIMESTAMP_NTZ (µs-encoded testdata): cast to TIMESTAMP. With the
      session timezone pinned to UTC (session.py) the wall clock is
      preserved exactly and matches DuckDB's naive-timestamp reading.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; registered: {TABLE_NAMES}")
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _physical_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Physical (on-disk) schema per (applicationId, path, fingerprint). Spark's
# parquet schema inference is a Spark job (a footer-merge stage) on every
# `spark.read.parquet`; reading with the schema it inferred before starts
# none. The fingerprint makes a file rewritten in place be inferred again;
# the applicationId keeps a dead session's entries from being served. The
# memo is the inferred schema, NOT the registry's: on disk the testdata
# timestamps are timestamp_ntz where TESTDATA_SCHEMAS says timestamp, and
# `load` normalizes events.ts from whatever is physically there.
_SCHEMAS: dict[tuple[str, str, tuple[int, int, int]], StructType] = {}


def _fingerprint(path: str) -> tuple[int, int, int] | None:
    """(files, bytes, newest mtime_ns) of a local parquet file or
    directory, or None when `path` is not a readable local path (a URI,
    or a missing table — Spark then infers and raises its own error)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (1, st.st_size, st.st_mtime_ns)
        n = size = newest = 0
        for root, _, files in os.walk(path):
            for f in files:
                fst = os.stat(os.path.join(root, f))
                n, size = n + 1, size + fst.st_size
                newest = max(newest, fst.st_mtime_ns)
        return (n, size, newest)
    except OSError:
        return None


def _physical_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark infers for `path`, inferred once per session and
    file fingerprint; None when the path cannot be fingerprinted.

    Unlocked like the training memos: two threads missing together both
    infer (the same schema), never crash — the eviction sweep iterates a
    key snapshot and tolerates a concurrent pop."""
    fp = _fingerprint(path)
    if fp is None:
        return None
    app = spark.sparkContext.applicationId
    key = (app, path, fp)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        for k in list(_SCHEMAS):  # other sessions, older fingerprints
            if k[0] != app or k[1] == path:
                _SCHEMAS.pop(k, None)
        _SCHEMAS[key] = schema
    return schema


# Keyed by (applicationId, sf_dir, name): a DataFrame handle is bound to
# the SparkSession that built it, so after a session stop/restart the old
# entries must not be returned (their JVM plans are dead). Guarded by a
# lock — cache_table may be called from pipeline stages running in
# threads.
_CACHED: dict[tuple[str, str, str], DataFrame] = {}
_CACHE_LOCK = __import__("threading").Lock()


def _cache_key(spark: SparkSession, sf_dir: str,
               name: str) -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, sf_dir, name)


def cache_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Mark a registered dataset for in-memory reuse (SURVEY §4.1 caching
    row — the reference's `de_merkel.persist()` before two downstream jobs,
    Introduction to PySpark.ipynb:240).

    Spark's CacheManager matches by analyzed-plan equality, so EVERY
    subsequent `load()` of the same table — even from code that never saw
    this call — reads the InMemoryRelation instead of re-scanning parquet.
    Idempotent; `uncache_table`/`uncache_all` release the memory.

    Scale note: caching is a working-set decision, not a default — a
    100 TB fact table must NOT be cached (it evicts everything else);
    dims and mid-sized intermediates reused across jobs are the use case.
    MEMORY_AND_DISK (the `cache()` default) degrades gracefully when a
    partition doesn't fit.
    """
    key = _cache_key(spark, sf_dir, name)
    with _CACHE_LOCK:
        if key not in _CACHED:
            evict_stale(_CACHED, key[0])
            _CACHED[key] = load(spark, sf_dir, name).cache()
        return _CACHED[key]


def uncache_table(spark: SparkSession, sf_dir: str, name: str) -> None:
    with _CACHE_LOCK:
        df = _CACHED.pop(_cache_key(spark, sf_dir, name), None)
    if df is not None:
        df.unpersist()


def uncache_all() -> None:
    with _CACHE_LOCK:
        dfs = list(_CACHED.values())
        _CACHED.clear()
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # handle may belong to an already-stopped session


def shuffle_width(spark: SparkSession) -> int:
    """The session's configured shuffle width, safely parsed: a
    deployment may set the conf to a non-numeric value (e.g. 'auto'
    under some managed runtimes), and then the width falls back to the
    context's default parallelism (the core count of a local master)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def widen_scan(df: DataFrame, key: str) -> DataFrame:
    """Scale-adaptive fan-out of a narrow scan before a heavy map stage
    (optimization guide §2.5, "input skew: one huge unsplittable file").

    The driver testdata writes every table as ONE parquet row group, and
    Spark assigns a row group to the split containing its byte-midpoint —
    so locally every scan stage runs as exactly ONE task and any heavy
    per-row work layered on it (exact-percentile partial aggregation,
    hyperplane/codebook HOF arithmetic, from_json parsing) serializes on
    one core. This is the generalization of `operators/dedup.py:_widen`
    (in the engine since r2 for the shingle family) to the other heavy
    map stages, measured per consumer in OPTIMIZATION_r12.md.

    Scale honesty: the width probe is `inputFiles()` — at 100 TB a table
    scan is already split into ~128 MB tasks across many files, the probe
    sees files >= the shuffle-partition target, and this is a NO-OP; only
    a scan whose file count cannot feed the target parallelism pays the
    one linear row-shuffle. Hash-partitioned by a deterministic `key`
    column (never round-robin): retried map tasks reproduce the same
    row-to-partition assignment (SPARK-38388) and no sort-before-
    repartition pass is charged. Streaming frames pass through untouched.
    """
    if df.isStreaming:
        return df
    n = shuffle_width(df.sparkSession)
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:
        pass
    return df.repartition(n, F.col(key))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every registered table (lazy; no jobs run)."""
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so `spark.sql` queries (engine
    entry point #2, SURVEY §3.3) can reference them by name."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def validate_schema(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Assert the on-disk table matches the registry (engine test helper)."""
    actual = load(spark, sf_dir, name).schema
    expected = TESTDATA_SCHEMAS[name]
    actual_pairs = [(f.name, f.dataType.simpleString()) for f in actual.fields]
    expected_pairs = [(f.name, f.dataType.simpleString()) for f in expected.fields]
    if actual_pairs != expected_pairs:
        raise AssertionError(
            f"schema drift on {name}: disk={actual_pairs} registry={expected_pairs}")
