"""Scale-twin crossover bench: each ground-truth query against its scale
twin (`SCALE_TWINS` in queries.py) at the derived sf1 tier
(scripts/make_sf1.py, ~6M lineitem rows). The quadratic ground truths'
blow-up next to the twins' near-linear growth is the 100 TB argument.

Each query is timed by `bench.time_query` (rebuild protocol, one warm
rep) under a BUDGET_SEC wall-clock budget, enforced by cancelling its
Spark job group from a watchdog. A side that exceeds it is recorded as
`budget_exceeded`, as the corpus-quadratic sides are expected to at sf1.

Usage:
    python scripts/make_sf1.py          # once, ~30 s
    python bench_twins.py               # prints one JSON line
    python bench_twins.py --sf-dir=/root/testdata/sf0.1   # sanity tier
    python bench_twins.py --sf-dir=/tmp/spark_graft_sf10_docs \
        --queries=ngram_jaccard_topk,ngram_jaccard_threshold,...
                  # documents-only tier: time exactly these queries;
                  # the JSON carries "queries" instead of "pairs"
"""

from __future__ import annotations

import json
import os
import sys
import threading

from bench import PROTOCOL, time_query
from data_pipelines_course_spark.queries import SCALE_TWINS, all_queries
from data_pipelines_course_spark.session import get_spark

BUDGET_SEC = 300.0


def budgeted(spark, queries, name: str, sf_dir: str) -> dict:
    """`time_query` in a worker thread under its own job group; the
    watchdog cancels the group at the budget. PySpark's pinned-thread
    mode makes setJobGroup thread-local, so cancellation hits exactly
    this query's jobs, eager construction-time driver loops included."""
    out: dict = {}

    def work() -> None:
        spark.sparkContext.setJobGroup(f"twin:{name}", name,
                                       interruptOnCancel=True)
        try:
            out.update(time_query(spark, queries, name, sf_dir, 1))
        except Exception as exc:  # noqa: BLE001 — cancellation lands here
            out["error"] = type(exc).__name__

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(BUDGET_SEC)
    if not t.is_alive():
        return out
    spark.sparkContext.cancelJobGroup(f"twin:{name}")
    t.join(30)
    # A worker that outlives the grace join keeps running jobs on this
    # session and contaminates every later timing: flag it as runaway.
    return {"budget_exceeded": True, "runaway": t.is_alive()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
    only: list[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]
        if a.startswith("--queries="):
            # Partial tiers (the sf10 docs-only tier has documents.parquet
            # alone) run exactly the listed queries, in the listed order.
            only = [n for n in a.split("=", 1)[1].split(",") if n]
    probe = "documents" if only else "lineitem"
    if not os.path.exists(f"{sf_dir}/{probe}.parquet"):
        sys.exit(f"{sf_dir} missing {probe}.parquet — run the tier's "
                 "derivation script first (scripts/make_sf1.py or "
                 "scripts/make_sf10_docs.py)")
    spark = get_spark(app_name="twin-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    unknown = [n for n in (only or []) if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    # Twins first, so their numbers exist even when a ground truth blows
    # the budget; the dict de-dups the shared jaccard twin.
    names = only or list(dict.fromkeys([*SCALE_TWINS.values(), *SCALE_TWINS]))
    results: dict[str, dict] = {}
    tainted = False
    for name in names:
        r = results[name] = budgeted(spark, queries, name, sf_dir)
        if tainted:
            r["tainted_by_runaway"] = True
        tainted = tainted or r.get("runaway", False)
        print(f"  {name}: {r}", file=sys.stderr, flush=True)

    body: dict = {"metric": "twin_crossover", "sf_dir": sf_dir,
                  "protocol": PROTOCOL, "budget_sec": BUDGET_SEC}
    if only:
        body["queries"] = results
    else:
        body["pairs"] = {g: {"ground_truth": results[g],
                             "twin": results[t], "twin_name": t}
                         for g, t in SCALE_TWINS.items()}
    print(json.dumps(body), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
