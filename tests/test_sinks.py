"""Sink-layer tests (SURVEY §2.2 K1-K11, W2): round-trips through every
writer, the top-k report shape, and the partitioned-parquet layout (one
file per partition value, placed without a sampling job) with a
plan-level assertion that partition pruning actually fires."""

from __future__ import annotations

import datetime
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_pipelines_course_spark.datasets import load
from data_pipelines_course_spark.sinks.writers import (
    collect_rows,
    place_partition_values,
    write_csv,
    write_jsonl,
    write_partitioned_parquet,
    write_report_csv,
    write_text,
    write_tsv,
    year_partitioned_orders,
)

from .conftest import SF_DIR, count_jobs


def test_csv_roundtrip(spark, tmp_path):
    src = load(spark, SF_DIR, "region")
    path = str(tmp_path / "region_csv")
    write_csv(src, path)
    back = spark.read.csv(path, header=True, schema=src.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    assert (tmp_path / "region_csv" / "_SUCCESS").exists()  # C5 marker


def test_tsv_and_text(spark, tmp_path):
    src = load(spark, SF_DIR, "nation").select("n_name")
    write_tsv(src, str(tmp_path / "tsv"))
    write_text(src, str(tmp_path / "txt"))
    tsv = spark.read.csv(str(tmp_path / "tsv"), sep="\t").count()
    txt = spark.read.text(str(tmp_path / "txt")).count()
    assert tsv == txt == src.count()


def test_jsonl_roundtrip_preserves_types(spark, tmp_path):
    src = load(spark, SF_DIR, "customer")
    path = str(tmp_path / "cust_json")
    write_jsonl(src, path)
    back = spark.read.json(path, schema=src.schema)
    assert back.count() == src.count()
    assert dict(back.dtypes) == dict(src.dtypes)


def test_topk_report(spark, tmp_path):
    """K6 — the most_common(5) report: 5 rows, header, one file."""
    counts = (load(spark, SF_DIR, "orders")
              .groupBy("o_orderpriority").count()
              .orderBy(F.desc("count"), "o_orderpriority"))
    path = tmp_path / "report"
    write_report_csv(counts, str(path), k=5)
    files = [p for p in path.iterdir() if p.suffix == ".csv"]
    assert len(files) == 1
    lines = files[0].read_text().strip().splitlines()
    assert lines[0] == "o_orderpriority,count"
    assert len(lines) == 1 + 5


def test_partitioned_parquet_prunes(spark, tmp_path):
    """W2 — yearly hive partitions; a year-filtered read must show the
    partition filter in the plan and scan only that year's rows."""
    orders = year_partitioned_orders(load(spark, SF_DIR, "orders"))
    path = str(tmp_path / "orders_by_year")
    write_partitioned_parquet(orders, path, ["o_year"])
    years = [p.name for p in (tmp_path / "orders_by_year").iterdir()
             if p.name.startswith("o_year=")]
    assert len(years) >= 7  # 1995-2001

    back = spark.read.parquet(path).filter(F.col("o_year") == 1998)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_year" in plan
    expected = orders.filter(F.year("o_orderdate") == 1998).count()
    assert back.count() == expected


def _assert_one_file_per_year(path):
    ydirs = [d for d in path.iterdir() if d.name.startswith("o_year=")]
    assert len(ydirs) == 7  # 1995-2001
    for ydir in ydirs:
        parts = [p for p in ydir.iterdir() if p.suffix == ".parquet"]
        assert len(parts) == 1, f"{ydir.name}: {len(parts)} files"


def test_partitioned_write_file_counts(spark, tmp_path):
    """place_partition_values puts each partition value on one writer
    task, so each o_year dir holds exactly one file, not one per
    upstream task."""
    orders = year_partitioned_orders(load(spark, SF_DIR, "orders"))
    path = tmp_path / "orders_files"
    write_partitioned_parquet(orders, str(path), ["o_year"])
    _assert_one_file_per_year(path)


def test_year_write_caps_writers_at_default_parallelism(spark, tmp_path):
    """At Spark's default shuffle width of 200 (a session not built by
    get_spark) the year write still runs at most defaultParallelism
    tasks per stage, and still writes one file per o_year."""
    import uuid

    sc = spark.sparkContext
    orders = year_partitioned_orders(load(spark, SF_DIR, "orders"))
    path = tmp_path / "w200"
    group = f"cap-writers-{uuid.uuid4().hex}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    sc.setJobGroup(group, group)
    try:
        write_partitioned_parquet(orders, str(path), ["o_year"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(s)
              for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    tasks = [s.numTasks for s in stages if s is not None]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks
    _assert_one_file_per_year(path)


def test_year_partitioned_write_starts_no_sampling_job(spark, tmp_path):
    """An integral key is its own division: the write is the shuffle-map
    job and the write job, with no range-sampling job before them."""
    orders = year_partitioned_orders(load(spark, SF_DIR, "orders"))
    _, jobs = count_jobs(spark, lambda: write_partitioned_parquet(
        orders, str(tmp_path / "w2"), ["o_year"]))
    assert jobs == 2


def _partition_of(spark, df, key: str) -> dict:
    """value -> the set of shuffle-width-4 tasks that hold its rows."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        rows = (place_partition_values(df, [key])
                .select(key, F.spark_partition_id().alias("task"))
                .distinct().collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    out: dict = {}
    for value, task in rows:
        out.setdefault(value, set()).add(task)
    return out


@pytest.mark.parametrize("cast", ["int", "bigint"])
def test_partition_values_placed_by_pmod(spark, cast):
    """1995-2001 over 4 tasks: each year on task pmod(year, 4), so every
    year has one task and no task holds more than 2 years."""
    orders = year_partitioned_orders(load(spark, SF_DIR, "orders"))
    placed = _partition_of(
        spark, orders.withColumn("o_year", F.col("o_year").cast(cast)),
        "o_year")
    assert sorted(placed) == list(range(1995, 2002))
    assert all(tasks == {year % 4} for year, tasks in placed.items())
    per_task = Counter(t for tasks in placed.values() for t in tasks)
    assert max(per_task.values()) <= 2, per_task


def test_date_partition_values_placed_by_unix_date(spark):
    """A date goes to task pmod(unix_date, 4): consecutive days
    round-robin across the tasks."""
    orders = load(spark, SF_DIR, "orders")
    orders = orders.withColumn("o_orderdate", F.to_date("o_orderdate"))
    placed = _partition_of(spark, orders, "o_orderdate")
    epoch = datetime.date(1970, 1, 1)
    assert all(tasks == {(d - epoch).days % 4}
               for d, tasks in placed.items())
    assert len({t for tasks in placed.values() for t in tasks}) == 4


def test_null_partition_value_writes_one_default_file(spark, tmp_path):
    """NULL keys go to task 0 and land in one
    `o_year=__HIVE_DEFAULT_PARTITION__` file with every row kept."""
    orders = year_partitioned_orders(load(spark, SF_DIR, "orders"))
    orders = orders.withColumn(
        "o_year", F.when(F.col("o_orderkey") % 10 != 0, F.col("o_year")))
    assert _partition_of(spark, orders, "o_year")[None] == {0}
    path = tmp_path / "nulls"
    write_partitioned_parquet(orders, str(path), ["o_year"])
    ndir = path / "o_year=__HIVE_DEFAULT_PARTITION__"
    assert len([p for p in ndir.iterdir() if p.suffix == ".parquet"]) == 1
    back = spark.read.parquet(str(path))
    assert back.count() == orders.count()
    assert (back.filter(F.col("o_year").isNull()).count()
            == orders.filter(F.col("o_year").isNull()).count() > 0)


@pytest.mark.parametrize("literal, scope, copies", [
    ("repartitionByRange(", "sinks/writers.py", 1),   # the fallback
    ("repartitionById(", "**/*.py", 1),               # pmod placement
])
def test_partition_placement_is_defined_once(literal, scope, copies):
    """Both partitioned sinks place partition values through
    place_partition_values: its two shuffles occur once each."""
    package = Path(__file__).resolve().parent.parent / \
        "data_pipelines_course_spark"
    found = {str(p.relative_to(package)): p.read_text().count(literal)
             for p in package.glob(scope)}
    assert sum(found.values()) == copies, {
        k: n for k, n in found.items() if n}


def test_collect_rows_mock_sink(spark):
    rows = collect_rows(load(spark, SF_DIR, "region"))
    assert {r.r_name for r in rows} >= {"AFRICA", "AMERICA"}


def test_compact_parquet_small_files(spark, tmp_path):
    """32 writer tasks → 32 small files; compaction rewrites toward the
    scan split size and preserves every row."""
    import glob

    from data_pipelines_course_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "many_files")
    spark.range(10_000).repartition(32).write.parquet(path)
    before = len(glob.glob(f"{path}/part-*.parquet"))
    assert before == 32
    n = compact_parquet(spark, path, target_file_mb=128)
    after = glob.glob(f"{path}/part-*.parquet")
    assert len(after) == n == 1  # 80 KB of data → one 128 MB-target file
    assert spark.read.parquet(path).count() == 10_000


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Incremental rewrite pattern: with partitionOverwriteMode=dynamic,
    overwriting a partitioned table touches ONLY the partitions present
    in the incoming batch — the others' files survive. This is how a
    daily job re-lands one day of a 100 TB table without rewriting it."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "dyn_part")
    base = spark.range(100).withColumn("day", (F.col("id") % 4).cast("int"))
    base.write.partitionBy("day").parquet(path)
    assert spark.read.parquet(path).count() == 100

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch = (spark.range(1000, 1010)
                 .withColumn("day", F.lit(2).cast("int")))
        patch.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    back = spark.read.parquet(path)
    assert back.filter("day = 2").count() == 10      # replaced
    assert back.filter("day != 2").count() == 75     # untouched (3 × 25)
    assert back.count() == 85


def test_incremental_daily_rollup_matches_full_recompute(spark, tmp_path):
    """The incremental path (watermark-filtered delta + dynamic partition
    overwrite) must converge to exactly the full-recompute table, and
    must NOT rewrite partitions older than the watermark."""
    import os

    from data_pipelines_course_spark.datasets import load
    from data_pipelines_course_spark.sinks.writers import (
        incremental_daily_rollup,
    )

    events = load(spark, SF_DIR, "events")
    path = str(tmp_path / "rollup")

    n_full = incremental_daily_rollup(events, path)  # initial full build
    assert n_full > 1
    full = {tuple(r) for r in spark.read.parquet(path).collect()}

    # pick a mid-corpus watermark date
    dates = sorted(d[0].isoformat() for d in
                   spark.read.parquet(path).select("event_date")
                   .distinct().collect())
    since = dates[len(dates) // 2]
    old_dirs = {d: os.path.getmtime(os.path.join(path, d))
                for d in os.listdir(path) if d.startswith("event_date=")
                and d < f"event_date={since}"}

    n_inc = incremental_daily_rollup(events, path, since=since)
    assert 0 < n_inc < n_full
    # table state identical to the full recompute
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == full
    # partitions below the watermark were not touched
    for d, mtime in old_dirs.items():
        assert os.path.getmtime(os.path.join(path, d)) == mtime


def test_parquet_bloom_filter_written_and_content_identical(spark, tmp_path):
    """write_parquet_with_bloom must (a) actually embed bloom bytes —
    observable as a strictly larger on-disk footprint than the identical
    data without blooms (pyarrow 16 doesn't expose bloom offsets) — and
    (b) leave the data bit-identical.

    The key must be HIGH-cardinality: parquet-mr drops the bloom when a
    column stays fully dictionary-encoded (the dictionary already gives
    exact membership), so a low-NDV column like o_custkey writes zero
    bloom bytes — verified while building this test. That behavior is
    the right default and exactly why the helper's docstring scopes
    blooms to unsortable high-cardinality point-lookup keys."""
    import glob
    import os
    from data_pipelines_course_spark.sinks.writers import (
        write_parquet_with_bloom,
    )

    df = (spark.range(200_000)
          .selectExpr("id", "md5(cast(id as string)) as k")
          .repartition(1))
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    df.write.parquet(plain)
    write_parquet_with_bloom(df, bloomed, ["k"], expected_ndv=200_000)

    def total_bytes(p):
        return sum(os.path.getsize(f)
                   for f in glob.glob(f"{p}/part-*.parquet"))

    # measured delta ~256 KiB of bloom bytes for 200k NDV
    assert total_bytes(bloomed) > total_bytes(plain)
    a = spark.read.parquet(plain)
    b = spark.read.parquet(bloomed)
    assert a.count() == b.count()
    probe = "md5(cast(12345 as string))"
    assert (b.filter(F.col("k") == F.expr(probe)).count()
            == a.filter(F.col("k") == F.expr(probe)).count() == 1)


def test_ledgered_write_records_and_verifies(spark, tmp_path):
    """The ledger must be produced by the write job itself (rows from
    the Observation), verify cleanly, and FAIL verification after the
    table is tampered with."""
    from data_pipelines_course_spark.sinks.writers import (
        ledgered_write, verify_ledger)

    nation = load(spark, "/root/testdata/sf0.01", "nation")
    path = str(tmp_path / "ledgered")
    manifest = ledgered_write(nation, path)
    assert manifest["rows"] == 25
    assert verify_ledger(spark, path)["rows"] == 25

    # tamper: append rows behind the ledger's back
    nation.limit(3).write.mode("append").parquet(path)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="28 rows on disk"):
        verify_ledger(spark, path)


def test_write_training_shards_one_file_per_shard(spark, tmp_path):
    """The export contract: exactly one parquet file per (source, bin)
    shard directory, manifest counts matching the data, and a re-run
    overwriting in place (idempotent export)."""
    import glob
    import json

    from data_pipelines_course_spark.operators.textprep import pack_sequences
    from data_pipelines_course_spark.sinks.writers import (
        read_small_file, write_training_shards)

    packed = pack_sequences(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "shards")
    manifest = write_training_shards(packed, out)

    dirs = glob.glob(f"{out}/source=*/bin=*")
    assert len(dirs) == len(manifest) > 0
    for d in dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, d  # one file per shard, by construction
    # Manifest counts == data counts, and the sidecar equals the return.
    got = spark.read.parquet(out)
    assert got.count() == sum(m["docs"] for m in manifest.values())
    sidecar = json.loads(read_small_file(spark, out + "/_shards.json"))
    assert sidecar == manifest
    # Idempotent re-run.
    manifest2 = write_training_shards(packed, out)
    assert manifest2 == manifest
    assert len(glob.glob(f"{out}/source=*/bin=*/*.parquet")) == len(dirs)


def test_compact_parquet_preserves_partitioned_layout(spark, tmp_path):
    """Compacting a hive-partitioned table (the streaming sinks'
    `_batch_id=` layout) must keep the k=v directory structure — the old
    flat rewrite destroyed it, after which a replayed batch's dynamic
    overwrite wrote a k=v/ subdir beside plain files (review r4)."""
    import glob

    from pyspark.sql import functions as F

    from data_pipelines_course_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "parted")
    df = spark.range(3000).select(
        F.col("id"), (F.col("id") % 3).alias("_batch_id"))
    # fragment: several files per partition
    (df.repartition(8).write.partitionBy("_batch_id")
     .mode("overwrite").parquet(path))
    assert len(glob.glob(f"{path}/_batch_id=*/part-*.parquet")) > 3

    compact_parquet(spark, path, target_file_mb=128)
    dirs = sorted(glob.glob(f"{path}/_batch_id=*"))
    assert [d.split("=")[-1] for d in dirs] == ["0", "1", "2"]
    for d in dirs:
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1  # compacted
    assert not glob.glob(f"{path}/part-*.parquet")  # nothing flattened
    back = spark.read.parquet(path)
    assert back.count() == 3000
    assert set(back.columns) == {"id", "_batch_id"}
    # replay-style dynamic overwrite still lands correctly post-compact
    (spark.range(1000).select(F.col("id"), F.lit(1).alias("_batch_id"))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id").parquet(path))
    assert spark.read.parquet(path).count() == 3000


def test_compact_parquet_multilevel_partitions(spark, tmp_path):
    """Multi-level hive layouts (write_training_shards' source=/bin=)
    must keep EVERY partition level through compaction — detecting only
    the top-level key would demote 'bin' to a data column and break any
    later dynamic overwrite keyed on both columns (ADVICE r4)."""
    import glob

    from pyspark.sql import functions as F

    from data_pipelines_course_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "shards")
    df = spark.range(2400).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("source"),
        (F.col("id") % 3).alias("bin"))
    (df.repartition(8).write.partitionBy("source", "bin")
     .mode("overwrite").parquet(path))
    assert len(glob.glob(f"{path}/source=*/bin=*/part-*.parquet")) > 6

    compact_parquet(spark, path, target_file_mb=128)
    leaf_dirs = sorted(glob.glob(f"{path}/source=*/bin=*"))
    assert len(leaf_dirs) == 6  # 2 sources x 3 bins survive
    for d in leaf_dirs:
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1  # compacted
    # nothing flattened at either level
    assert not glob.glob(f"{path}/part-*.parquet")
    assert not glob.glob(f"{path}/source=*/part-*.parquet")
    back = spark.read.parquet(path)
    assert back.count() == 2400
    assert set(back.columns) == {"id", "source", "bin"}
    # dynamic overwrite keyed on BOTH columns still lands post-compact
    (spark.range(400).select(
        F.col("id"), F.lit("1").alias("source"), F.lit(2).alias("bin"))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("source", "bin").parquet(path))
    assert spark.read.parquet(path).count() == 2400


def test_compact_parquet_shallow_first_branch_fails_loudly(spark, tmp_path):
    """The layout walk must not trust the FIRST k=v branch as a witness
    for its siblings (ADVICE r5): with bin= partially deleted under the
    lexically-first source=, a first-branch-only walk would miss the
    'bin' level entirely and silently demote it to a data column on
    rewrite — the exact conflicting-layout hazard compaction exists to
    prevent. Ragged depth is a malformed layout: refuse loudly, leave
    the table untouched."""
    import glob
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from data_pipelines_course_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "ragged")
    df = spark.range(600).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("source"),
        (F.col("id") % 3).alias("bin"))
    (df.repartition(4).write.partitionBy("source", "bin")
     .mode("overwrite").parquet(path))
    # Hollow out the first branch: source=0 loses all its bin= children.
    for d in glob.glob(f"{path}/source=0/bin=*"):
        shutil.rmtree(d)
    before = sorted(glob.glob(f"{path}/source=*/bin=*/part-*.parquet"))
    with pytest.raises(IOError, match="ragged partition depth"):
        compact_parquet(spark, path, target_file_mb=128)
    # untouched: no swap happened, surviving leaves identical
    assert sorted(glob.glob(
        f"{path}/source=*/bin=*/part-*.parquet")) == before
