"""Full-registry timing sweep (optimization triage): every registered
query, or the named ones, timed by `bench.time_query`. One JSON line per
query on stdout, the slowest warm times and any failures on stderr.

Usage: python scripts/sweep_registry.py [--reps=3] [name ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query
from data_pipelines_course_spark.queries import all_queries
from data_pipelines_course_spark.session import get_spark


def sweep_one(spark, queries, name: str, sf_dir: str, reps: int) -> dict:
    """Time one query; a query that fails to construct or run is recorded
    as {"q", "error"} and the sweep goes on."""
    try:
        rec = {"q": name, **time_query(spark, queries, name, sf_dir, reps)}
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
    print("== slowest warm ==", file=sys.stderr)
    for r in sorted((r for r in rows if "error" not in r),
                    key=lambda r: -r["warm"])[:30]:
        print(f"  {r['q']}: warm {r['warm']} cold {r['cold']} "
              f"(load {r['load'][0]})", file=sys.stderr)
    for r in (r for r in rows if "error" in r):
        print(f"  FAILED {r['q']}: {r['error']}", file=sys.stderr)


if __name__ == "__main__":
    main()
