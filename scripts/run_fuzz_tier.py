"""Run the full fuzz corpus (all thirteen grammars, 980 seeds; v6 checks
BOTH its batch and streaming renderings) against
DuckDB at an arbitrary tier — the in-suite corpus runs at sf0.01; this
driver re-checks the identical seeds at 10x/100x data, where a
divergence would indicate a scale-dependent semantics bug (spill paths,
overflow, partial-aggregation merge) rather than a grammar bug.

Usage:
    python scripts/run_fuzz_tier.py [--sf-dir=/root/testdata/sf0.1]
        [--set spark.sql.autoBroadcastJoinThreshold=-1] ...
--set applies runtime-settable session confs before the run — the
join-strategy invariance axes the registry sweeps (no-auto-broadcast,
SHJ preference) applied to the random corpus.
Prints one JSON line: {"sf_dir", "confs", "checked", "failed", "sec"}.
"""

from __future__ import annotations

import importlib.util
import json
import sys
import time

REPO = "/root/repo"
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from tests.fuzz import (  # noqa: E402
    generate, generate_v2, generate_v3, generate_v4, generate_v5,
    generate_v6, generate_v7, generate_v8, generate_v9, generate_v10,
    generate_v11, generate_v12, generate_v13,
)
from data_pipelines_course_spark.session import get_spark  # noqa: E402

_spec = importlib.util.spec_from_file_location(
    "eng_conftest", f"{REPO}/tests/conftest.py")
_conftest = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_conftest)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    confs = []
    skip: set = set()
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--skip="):
            # Explicit, logged scale-tier exclusion (no silent caps):
            # the stream-stream join grammars (v11/v12/v13) are excluded at
            # sf1 BY DESIGN — interval-join output volume grows with
            # corpus density x horizon (order-10^8 pairs into a memory
            # sink at the 1M-event tier); their semantics are density-
            # independent and fully exercised at sf0.01/sf0.1.
            skip = set(a.split("=", 1)[1].split(","))
        elif a == "--set":
            i += 1
            confs.append(argv[i].split("=", 1))
        i += 1
    spark = get_spark()
    for k, v in confs:
        spark.conf.set(k, v)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * "
                f"FROM '{sf_dir}/{t}.parquet'")
    corpora = [("v1", generate, 200), ("v2", generate_v2, 100),
               ("v3", generate_v3, 100), ("v4", generate_v4, 80),
               ("v5", generate_v5, 100), ("v6", generate_v6, 40),
               ("v7", generate_v7, 60), ("v8", generate_v8, 60),
               ("v9", generate_v9, 40), ("v10", generate_v10, 40),
               ("v11", generate_v11, 40),
               ("v12", generate_v12, 40),
               ("v13", generate_v13, 40)]
    if skip:
        print(f"skipping corpora by flag: {sorted(skip)}", flush=True)
        corpora = [c for c in corpora if c[0] not in skip]
    t0 = time.time()
    checked, failed = 0, []
    for tag, gen, n in corpora:
        for s in range(n):
            q = gen(s)
            checked += 1
            try:
                if tag in ("v9", "v10", "v11", "v12", "v13"):  # stream-vs-sim oracle
                    _conftest.assert_frames_match(
                        q.stream_result(spark, sf_dir),
                        q.oracle_rel(sf_dir), name=f"{tag}[{s}]")
                    continue
                _conftest.assert_frames_match(
                    q.df(spark, sf_dir), con.sql(q.sql()),
                    name=f"{tag}[{s}]")
                if tag == "v6":  # also the streaming rendering
                    # ADVICE r9: the stream re-check is its own
                    # comparison — count it, so totals reflect every
                    # assertion run and a streaming-only failure is
                    # attributable.
                    checked += 1
                    _conftest.assert_frames_match(
                        q.stream_result(spark, sf_dir),
                        con.sql(q.sql()), name=f"{tag}s[{s}]")
            except AssertionError as e:
                failed.append(str(e)[:400])
        print(f"  {tag}: done ({checked} cumulative, "
              f"{len(failed)} failed)", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir,
                      "confs": [f"{k}={v}" for k, v in confs],
                      "checked": checked, "failed": failed,
                      "sec": round(time.time() - t0, 1)}))


if __name__ == "__main__":
    main()
