"""Layered benchmark of the data_pipelines_course_spark engine.

    python3 perfbench/run.py --workload analytics_sf1 --seed 1 \\
        --seconds 30 --trace 0

One process, one closed-loop client: each request starts when the
previous one has finished. A request constructs one registered query and
executes it with a noop write, or runs one sink write. A run

1. provisions and checks the workload's data tier (untimed);
2. sets up the session: package import, ``session.get_spark``,
   ``queries.load_registry``, the tier check and a trivial warm-up plan
   (``setup_s``);
3. makes one cold pass over the workload's requests in the fresh session;
4. makes a fixed number of warm passes (``WARM_PASSES``), each one
   rebuilding every frame;
5. checks the frames of the last warm pass against their DuckDB oracles,
   or for a row count and columns, outside the timed region;
6. prints one record line, then the result line.

The seed only orders the requests of each pass. ``--seconds`` is
required on the command line but does not change the pass count: the
warm metrics take the best pass, and more passes would lower it.
``SPARK_GRAFT_CPUS`` is
set to the usable core count; every other engine setting keeps the
program's default and is recorded. With ``--trace 1`` the warm passes
alternate untraced and traced; traced passes attribute Spark jobs,
stages and Catalyst phases to each span, and the result line carries the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import sys
import time
import traceback

import report
import tier
from stats import Outcomes
from tracing import Tracer
from workloads import SINK, WARM_PASSES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "data_pipelines_course_spark"
NOOP = "noop"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def rss_peak_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_sample(root_pid: int) -> tuple[float, float, float]:
    """(steal ticks, all ticks) of the host's CPUs, and the CPU seconds
    spent so far by ``root_pid`` and its live descendants (the JVM, the
    Python worker daemon and its workers)."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while we looked
            parent[int(entry)] = int(fields[1])
            cpu[int(entry)] = int(fields[11]) + int(fields[12])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == pid and p not in tree]
        tree.update(kids)
        frontier.extend(kids)
    hz = os.sysconf("SC_CLK_TCK")
    return ticks[7], sum(ticks), sum(cpu.get(p, 0) for p in tree) / hz


class Run:
    def __init__(self, workload, seed: int, traced: bool) -> None:
        self.w = workload
        self.traced = traced
        self.rng = random.Random(seed)
        self.outcomes = Outcomes()
        self.passes = []            # (label, traced, pass span)
        self.setup_parts = {}
        self.sink_dir = os.path.join(WORK, "sink", workload.name)
        self.spark = None

    # -- set-up ---------------------------------------------------------

    def setup(self, tier_dir: str, expected_manifest,
              import_s: float) -> None:
        """Time the set-up; ``import_s`` is the package import already
        paid to locate the shipped tiers."""
        t0 = time.perf_counter()
        from data_pipelines_course_spark import datasets, queries, session
        from data_pipelines_course_spark.sinks import writers

        t1 = time.perf_counter()
        self.spark = spark = session.get_spark()
        t2 = time.perf_counter()
        queries.load_registry()
        t3 = time.perf_counter()
        self.manifest = tier.check(tier_dir, expected_manifest)
        t4 = time.perf_counter()
        spark.range(10).write.format(NOOP).mode("overwrite").save()
        t5 = time.perf_counter()
        self.setup_parts = {"import_s": import_s + t1 - t0,
                            "get_spark_s": t2 - t1,
                            "load_registry_s": t3 - t2,
                            "tier_check_s": t4 - t3, "warmup_s": t5 - t4}
        self.setup_s = import_s + t5 - t0
        self.tier_dir = tier_dir
        self.datasets, self.writers = datasets, writers
        self.fns = queries.all_queries()
        self.oracles = queries.all_oracles()
        self.tracer = Tracer(spark)

    # -- requests and passes --------------------------------------------

    def request(self, op: str, label: str):
        """Run one request; returns its frame (None for the sink or on
        failure). Exceptions are counted, not raised: the run goes on."""
        tr = self.tracer
        op_id = f"{label}:{op}"
        self.outcomes.attempt(op_id)
        with tr.span("request", op=op):
            try:
                if op == SINK:
                    with tr.span("sink", count=True, op=op):
                        orders = self.datasets.load(self.spark, self.tier_dir,
                                                    "orders")
                        self.writers.write_partitioned_parquet(
                            self.writers.year_partitioned_orders(orders),
                            self.sink_dir, ["o_year"])
                    return None
                with tr.span("construct", count=True, op=op):
                    df = self.fns[op](self.spark, self.tier_dir)
                with tr.span("execute", count=True, op=op):
                    df.write.format(NOOP).mode("overwrite").save()
                return df
            except Exception as err:  # counted as a failed operation
                traceback.print_exc(file=sys.stderr)
                self.outcomes.fail(op_id, f"{type(err).__name__}: {err}"[:300])
                return None

    def run_pass(self, label: str, traced: bool) -> dict:
        ops = list(self.w.ops())
        order = self.rng.sample(ops, len(ops))
        self.tracer.begin_pass(traced)
        before = host_sample(os.getpid())
        with self.tracer.span("pass", label=label) as ps:
            frames = {op: self.request(op, label) for op in order}
        after = host_sample(os.getpid())
        ps.attrs["cpu_s"] = after[2] - before[2]
        ps.attrs["host_steal_share"] = ((after[0] - before[0])
                                        / max(1, after[1] - before[1]))
        ps.attrs["actions"] = self.tracer.end_pass()
        self.passes.append((label, traced, ps))
        return frames

    def measure(self) -> dict:
        self.run_pass("cold", False)
        for n in range(WARM_PASSES * (2 if self.traced else 1)):
            frames = self.run_pass(f"warm{n}", self.traced and n % 2 == 1)
        self.last_label = f"warm{n}"
        return frames

    # -- correctness ------------------------------------------------------

    def check(self, frames: dict) -> dict:
        """Compare each frame with its oracle (or its expected columns);
        every mismatch fails the request that built the frame."""
        import duckdb
        from tests.conftest import assert_frames_match

        con = duckdb.connect()
        for name in self.manifest:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{self.tier_dir}/{name}.parquet'")
        kinds = {}
        for op, df in sorted(frames.items()):
            op_id = f"{self.last_label}:{op}"
            try:
                if op == SINK:
                    kinds[op] = "rows+partitions"
                    self._check_sink(con)
                elif df is None:
                    kinds[op] = "failed before check"
                elif op in self.oracles:
                    kinds[op] = "oracle"
                    assert_frames_match(df, con.sql(self.oracles[op]), op)
                else:
                    kinds[op] = "rows+columns"
                    want = self.w.columns[op]
                    if tuple(df.columns) != want:
                        raise AssertionError(
                            f"{op}: columns {df.columns} != {list(want)}")
                    if df.count() == 0:
                        raise AssertionError(f"{op}: no rows")
            except Exception as err:  # a mismatch is a failed operation
                self.outcomes.fail(op_id, f"{type(err).__name__}: {err}"[:300])
        con.close()
        return kinds

    def _check_sink(self, con) -> None:
        got = con.sql(
            f"SELECT count(*), count(DISTINCT o_year) FROM read_parquet("
            f"'{self.sink_dir}/*/*.parquet', hive_partitioning = true)"
        ).fetchone()
        want = con.sql("SELECT count(*), count(DISTINCT year(o_orderdate)) "
                       "FROM orders").fetchone()
        if tuple(got) != tuple(want):
            raise AssertionError(f"sink rows/years {got} != {want}")

    # -- reporting ----------------------------------------------------------

    def config(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": sc.master,
            "shuffle_partitions":
                self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "staging": os.environ.get("SPARK_GRAFT_STAGING",
                                      "unset (program default)"),
            "aqe": self.spark.conf.get("spark.sql.adaptive.enabled"),
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        return rss_peak_mb() + rss_peak_mb(jvm_pid)

    def stop(self) -> None:
        """Stop the session and wait for its JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    w = WORKLOADS[args.workload]
    load_start = os.getloadavg()[0]
    t_import = time.perf_counter()
    from data_pipelines_course_spark.datasets import DEFAULT_SF_DIR
    import_s = time.perf_counter() - t_import
    tier_dir, manifest = tier.provision(w.tier, ROOT, WORK,
                                        os.path.dirname(DEFAULT_SF_DIR))

    run = Run(w, args.seed, bool(args.trace))
    try:
        run.setup(tier_dir, manifest, import_s)
        frames = run.measure()
        layers = report.layer_extras(run) if run.traced else {}
        t_check = time.perf_counter()
        checks = run.check(frames)
        run.check_s = time.perf_counter() - t_check
        peak = run.peak_rss_mb()
        config = run.config()
    finally:
        run.stop()
    record = report.record(run, checks, peak, config, load_start,
                           os.getloadavg()[0], layers)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results",
                       f"{w.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump({"record": record,
                   "spans": report.spans(run.tracer.spans)}, fh)
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(report.result(run, record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
