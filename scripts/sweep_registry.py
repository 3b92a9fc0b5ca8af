"""Full-registry timing sweep (optimization-round triage, guide §1).

For every registered query: construct + cold noop run, then min-of-N
warm re-runs of the constructed frame. One JSON line per query on
stdout (append-friendly for /tmp logs), sorted summary at the end on
stderr. Protocol matches the r12 sweep so rounds are comparable.

Usage: python scripts/sweep_registry.py [--reps=3] [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipelines_course_spark.queries import all_queries
from data_pipelines_course_spark.session import get_spark


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return round(float(f.read().split()[0]), 1)


def sweep_one(spark, queries, name: str, sf_dir: str, reps: int) -> dict:
    """Time one query; a query that fails to construct or run is recorded
    as {"q", "error"} and the sweep goes on."""
    ld = loadavg()
    try:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        cold = round(time.perf_counter() - t0, 3)
        warm = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            warm = min(warm, time.perf_counter() - t0)
        rec = {"q": name, "cold": cold, "warm": round(warm, 3), "load": ld}
    except Exception as e:
        rec = {"q": name, "error": f"{type(e).__name__}: {e}"[:500]}
    print(json.dumps(rec), flush=True)
    return rec


def main() -> None:
    reps = 3
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="registry-sweep")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        queries = all_queries()
        rows = [sweep_one(spark, queries, name, sf_dir, reps)
                for name in names or list(queries)]
    finally:
        spark.stop()
    timed = sorted((r for r in rows if "error" not in r),
                   key=lambda r: -r["warm"])
    print("== slowest warm ==", file=sys.stderr)
    for r in timed[:30]:
        print(f"  {r['q']}: warm {r['warm']} cold {r['cold']} "
              f"(load {r['load']})", file=sys.stderr)
    failed = [r for r in rows if "error" in r]
    if failed:
        print(f"== {len(failed)} failed ==", file=sys.stderr)
        for r in failed:
            print(f"  {r['q']}: {r['error']}", file=sys.stderr)


if __name__ == "__main__":
    main()
