"""SparkSession factory and runtime-conf normalization.

Design notes (SURVEY §3.3 / §4): the engine's entry points all converge on
one Catalyst plan, so the session is configured once for scale-honest
defaults — AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (hash-parity with the DuckDB oracle), and
the legacy nanos-as-long parquet reader (driver testdata `events.ts` is
TIMESTAMP(NANOS), which Spark cannot represent natively; `datasets.load`
converts the raw nanos to a proper µs TimestampType column).

Everything here must also be applicable to an *externally provided*
session (the verify driver builds its own), hence `configure(spark)` only
uses runtime-settable SQL confs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Runtime-settable SQL confs, safe to (re-)apply to any session.
_RUNTIME_CONF: dict[str, str] = {
    # Parity with DuckDB oracle: one wall clock for both engines.
    "spark.sql.session.timeZone": "UTC",
    # Driver testdata events.parquet stores TIMESTAMP(NANOS); read as long.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, demote SMJ->BHJ when a side turns out small. Essential at 100 TB.
    # Env-gated (SPARK_GRAFT_AQE, default on) so the driver_sim invariance
    # sweep can prove correctness never DEPENDS on a runtime re-plan —
    # AQE must only ever change the physical strategy, never a value.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path (vectorized, not per-row).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferFiltersFromGenerate turns explode(f(x)) into a pre-filter
    # `size(f(x)) > 0` that re-evaluates f — for the engine's shingle/
    # token transforms f is an interpreted higher-order lambda, so the
    # inferred filter doubles the most expensive map stage and (being a
    # filter) gets pushed below any parallelizing repartition, serializing
    # it onto the raw scan. The engine's generators always explode
    # non-empty arrays (explicit size() pre-filters), so the inference
    # only costs; it measured 2.2× slower on the shingle path.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # lower()/upper() through the JVM's own case mapping, not ICU's. With
    # ICU on, the first lower() in a JVM runs a static initializer that
    # title-cases every code point through ICU, charged to the first
    # text-quality query of a session (a first lower() action took
    # 1.6-1.7 s, against 0.3 s with ICU off, on a 4-core host). Off,
    # lower() takes UTF8String's ASCII fast path and String.toLowerCase
    # otherwise.
    # Trade-off: non-ASCII case mapping follows the JVM's default locale
    # (a Turkish locale maps 'I' to a dotless 'ı'). Under an English or
    # root locale it is the full Unicode mapping that
    # test_known_casefold_divergence pins.
    "spark.sql.icu.caseMappings.enabled": "false",
}


def _runtime_conf() -> dict[str, str]:
    """The conf set with env overrides applied (read at call time, so a
    fresh process — or a test via monkeypatch — flips knobs without code
    change). Only AQE is overridable: every other entry is a correctness
    requirement (TZ parity, nanos reader), not a strategy choice."""
    conf = dict(_RUNTIME_CONF)
    aqe = os.environ.get("SPARK_GRAFT_AQE", "").lower()
    if aqe in ("false", "0", "off"):
        conf["spark.sql.adaptive.enabled"] = "false"
    return conf


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    Called at the top of every public query entry point so the driver's own
    SparkSession behaves identically to one built by :func:`get_spark`.

    Static confs are out of its reach. In particular it cannot turn off
    PySpark's per-Column call-site capture
    (`spark.python.sql.dataFrameDebugging.enabled`, which `get_spark`
    sets at build time): `spark.conf.set` on it raises
    CANNOT_MODIFY_STATIC_CONFIG, so a session built elsewhere keeps the
    capture and its extra py4j calls per Column method.
    """
    for key, value in _runtime_conf().items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not recognized/settable on this build — non-fatal.
            pass
    return spark


def _local_cores(master: str) -> int | None:
    """The core count N of a local master (`local[N]`, `local[N,F]`,
    `local[*]`, `local`), or None for any other master."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\s*\d+)?\])?", master.strip())
    if m is None:
        return None
    n = m.group(1)
    if n is None:
        return 1
    return len(os.sched_getaffinity(0)) if n == "*" else int(n)


def get_spark(app_name: str = "data-pipelines-course-spark",
              master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    local[N] for tests, N defaulting to the usable core count; on a real
    cluster the master/resource settings come from spark-submit and only
    the SQL confs below matter.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0))))
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Keep partition sizing explicit: ~128 MB split targets so a 100 TB
        # scan yields ~800k well-sized tasks rather than a few huge ones.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        # No stage progress bars on stdout: bench.py's contract is machine-
        # parsed JSON lines and the \r-rewritten bars corrupt tail capture.
        .config("spark.ui.showConsoleProgress", "false")
        # No Python call-site capture per Column method: PySpark's
        # _with_origin wrapper otherwise adds py4j calls and a stack walk
        # to every Column call (building tpch_q1_pricing_summary makes 909
        # py4j calls with it, 309 without). Trade-off: Spark errors no longer
        # carry the Python call site in their query context. PySpark
        # reads it once per Python process, so it is a builder conf, not
        # a runtime one.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Shuffle width: one task per local core — wider stages over small
    # inputs only add per-task fixed cost, and AQE coalesces further when
    # partitions run small. A cluster master keeps the deployment's value;
    # SPARK_SHUFFLE_PARTITIONS overrides either.
    width = os.environ.get("SPARK_SHUFFLE_PARTITIONS") or _local_cores(master)
    if width is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(width))
    for key, value in _runtime_conf().items():
        builder = builder.config(key, value)
    return configure(builder.getOrCreate())
