"""Physical table layout — bucketing and z-order helpers.

Beyond-reference engine surface (SURVEY §4.2 / W2, BASELINE.json north
star). The reference's only layout decision is Dask's sorted-index
yearly repartition (`Chapter 4 - First Steps with Dask.ipynb:388-465`,
`set_partition('DateTime', divisions=dates)`); its Spark analog —
partitioned parquet (`write.partitionBy`) — is already exercised by the
sink layer and the partition-pruning plan tests. This module adds the
piece that matters most for 100 TB JOIN workloads: **bucketed tables**.

Why bucketing: a fact⋈fact join (lineitem⋈orders on orderkey) is the
one join shape that can't be broadcast, so each run pays a full shuffle
of both sides — at 100 TB that shuffle IS the job. Writing both tables
bucketed by the join key into the same bucket count makes the join's
required distribution a property of the STORAGE: Spark plans a
sort-merge join with zero Exchange on either side (and with `sortBy`,
zero Sort). The shuffle is paid once at write time and amortized over
every subsequent join/aggregation on that key — the Spark analog of the
reference's "sorted index with known divisions".

Notes for real deployments:
* bucket count is fixed at write time — size it so one bucket ≈ one
  task's worth of data at full scale (e.g. 100 TB / 128 MB ≈ 800k is
  too many files; in practice 4-16k buckets with multiple files per
  bucket, or Hive-style clustered-by with compaction).
* `spark.sql.sources.bucketing.enabled` must stay true (default) and
  both sides must share the bucket count (or be exact multiples with
  `spark.sql.bucketing.coalesceBucketsInJoin.enabled`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_bucketed", "zorder_layout"]


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int, sort_cols: list[str] | None = None,
                   path: str | None = None,
                   mode: str = "overwrite") -> None:
    """Persist `df` as a bucketed (and optionally per-bucket-sorted) table.

    Bucketed layout only survives through the catalog (`saveAsTable`),
    not bare `parquet(path)` — bucket metadata lives in the table
    definition. Pass `path` to make it an external table (data at the
    given location, metadata in the session catalog).
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def co_located_join(spark: SparkSession, left_table: str, right_table: str,
                    on: list[str], how: str = "inner") -> DataFrame:
    """Join two bucketed catalog tables on their bucket key.

    When both tables are bucketed by `on` with equal bucket counts this
    plans as a zero-Exchange sort-merge join (asserted in
    tests/test_layout.py via plans.analysis.exchange_count).
    """
    return spark.table(left_table).join(spark.table(right_table), on, how)


def zorder_layout(df: DataFrame, path: str, cols: list[str],
                  num_files: int, mode: str = "overwrite",
                  bits: int | None = None) -> None:
    """Z-order (Morton-curve) file layout over N filter columns (2-4).

    Partitioned layout prunes on one hierarchy; bucketing serves one
    join key; Z-ordering is the move for tables filtered on ANY of
    several independent columns (ship date AND customer, lat AND lon):
    sort the rows by the bit-interleaving of every column's quantized
    rank, and each file's parquet min/max footer covers a narrow range
    of EVERY column — row-group skipping fires for predicates on any of
    them. A linear sort gives perfect pruning on the sort column and
    none on the others; the Morton curve splits the difference
    (~files^(1/n) effective pruning on each; adding a column dilutes
    all — past 3-4 columns nothing prunes well, the known ZORDER
    guidance). This is Delta/Iceberg's OPTIMIZE ZORDER re-expressed as
    a plain write-time repartitionByRange + sort — no table format
    needed, the parquet footers do the work.

    Quantization is min/max linear scaling to `bits` bits per column
    (default: 48//n so the interleaved key fits a BIGINT) via a 1-row
    bounds aggregate (broadcast; fixed cardinality). The interleave is
    an n*bits-term shift/OR chain — pure codegen, no UDF. Skewed
    columns would want rank-based quantization (write-time ntile)
    instead; at write time that extra window is amortized over every
    future read.
    """
    from pyspark.sql import functions as F

    from pyspark.sql import types as T

    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError(f"zorder needs 2-4 columns, got {n}")
    if bits is None:
        bits = 48 // n

    # Explicit type dispatch, not a blind cast('double'): strings cast to
    # NULL (or fail under ANSI), silently degenerating the layout to an
    # unordered write. Dates/timestamps — which this docstring advertises —
    # get a monotone numeric image; anything non-orderable raises here,
    # at plan time. (ADVICE r3.)
    fields = {f.name: f.dataType for f in df.schema.fields}

    def _num(c: str):
        dt = fields.get(c)
        if dt is None:
            raise ValueError(f"zorder column {c!r} not in schema")
        if isinstance(dt, (T.NumericType, T.BooleanType)):
            return F.col(c).cast("double")
        if isinstance(dt, T.DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(dt, T.TimestampType):
            return F.unix_micros(F.col(c)).cast("double")
        if isinstance(dt, T.TimestampNTZType):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        raise TypeError(
            f"zorder column {c!r} has non-orderable type {dt.simpleString()};"
            " supported: numeric, boolean, date, timestamp")

    bounds = df.agg(*[a for i, c in enumerate(cols) for a in (
        F.min(_num(c)).alias(f"_min{i}"),
        F.max(_num(c)).alias(f"_max{i}"))])
    top = (1 << bits) - 1

    def _q(i: int):
        lo, hi = F.col(f"_min{i}"), F.col(f"_max{i}")
        rng = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        return (F.floor((_num(cols[i]) - lo) / rng * top)
                .cast("bigint"))

    staged = df.crossJoin(F.broadcast(bounds))
    for i in range(n):
        staged = staged.withColumn(f"_q{i}", _q(i))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for d in range(n):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(f"_q{d}", i).bitwiseAND(F.lit(1)),
                    n * i + (n - 1 - d)).cast("bigint"))
    drop = ([f"_q{i}" for i in range(n)]
            + [f"_min{i}" for i in range(n)]
            + [f"_max{i}" for i in range(n)] + ["_z"])
    (staged.withColumn("_z", z)
     .repartitionByRange(num_files, "_z")
     .sortWithinPartitions("_z")
     .drop(*drop)
     .write.mode(mode).parquet(path))
