"""Shared test fixtures: one SparkSession per test run, a DuckDB oracle
connection with the testdata views registered, and the result comparator
that mirrors the driver's check (row count + schema + order-insensitive
value hash)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from data_pipelines_course_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


_MARKER_DESELECTED = "_marker_deselected_slow"


def pytest_deselected(items):
    config = items[0].config if items else None
    if config is not None and "slow" in (config.option.markexpr or ""):
        slow = [i for i in items if i.get_closest_marker("slow")]
        config.stash.setdefault(_MARKER_DESELECTED, []).extend(slow)


def pytest_collection_finish(session):
    """Fail loudly when the marker filter (pytest.ini's `-m "not slow"`)
    deselects every test under a path or node id named on the command
    line — otherwise `pytest tests/test_x.py::test_slow` exits green
    having run nothing."""
    import os

    config = session.config
    dropped = config.stash.get(_MARKER_DESELECTED, [])
    if not dropped:
        return

    def under(nodeid: str, prefix: str) -> bool:
        return (prefix == "." or nodeid == prefix
                or nodeid.startswith((prefix + "::", prefix + "/",
                                      prefix + "[")))

    for arg in config.args:
        path, sep, rest = arg.partition("::")
        prefix = os.path.relpath(os.path.abspath(path), config.rootpath)
        prefix = prefix.replace(os.sep, "/") + sep + rest
        named = [i for i in dropped if under(i.nodeid, prefix)]
        if named and not any(under(i.nodeid, prefix) for i in session.items):
            raise pytest.UsageError(
                f"{arg}: the {len(named)} test(s) it names are marked slow "
                f"and deselected by -m {config.option.markexpr!r}; "
                f"rerun with -m \"slow or not slow\"")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", master="local[8]")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, float-rounded canonical form."""
    import datetime

    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(6) + 0.0  # + 0.0 folds -0.0 into +0.0
        elif s.dtype.kind == "M":
            # datetime64 — Spark DateType arrives as object(date), DuckDB
            # DATE as datetime64; align both to ISO strings.
            s = s.dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        elif s.dtype == object:
            s = s.map(lambda v: round(v, 6) + 0.0 if isinstance(v, float)
                      else v.strftime("%Y-%m-%dT%H:%M:%S.%f")
                      if isinstance(v, (datetime.date, datetime.datetime))
                      else v)
        out[c] = s
    df = pd.DataFrame(out)
    # Sort rows canonically; numeric columns sort numerically, the rest as
    # strings (mixed/None-bearing object columns included). FLOAT columns
    # sort LAST: a float whose 6-dp rounding flips between engines (a
    # 1-ulp difference straddling a .5 boundary — found by the r8 fuzz
    # tier run, v2[15] at sf0.1: 8/14999 group averages flipped) would
    # misalign the whole row order if it were the primary key; with
    # discrete columns leading, rows align whenever they are unique on
    # the non-float columns, and the float compare below already
    # tolerates the ulp.
    cols = list(df.columns)
    sort_cols = ([c for c in cols if df[c].dtype.kind != "f"]
                 + [c for c in cols if df[c].dtype.kind == "f"])
    df = df.sort_values(
        by=sort_cols, ignore_index=True,
        key=lambda s: s if s.dtype.kind in "ifuM" else s.map(repr))
    return df


def _float_rows_match_groupwise(nsp: pd.DataFrame,
                                ndu: pd.DataFrame) -> bool:
    """ADVICE r8 #4's escalation, triggered on a positional float
    mismatch: rows tied on every DISCRETE column can legitimately swap
    order between engines when an EARLIER float column's 6-dp rounding
    flips on a 1-ulp difference (first observed: fuzz v8[3] at sf1 —
    nullable rollup keys widen to float, so only `cnt` was discrete and
    an avg straddling a rounding boundary misaligned the key columns;
    key-aligned recompare showed ZERO engine differences).

    Rows are compared JOINTLY across all float columns (ADVICE r9
    medium: the earlier per-column sorted-multiset form surrendered
    cross-column row coherence, so a bug permuting float values BETWEEN
    tied rows could pass). Within each group of rows tied on all
    discrete columns: first try a lexicographic row sort over all float
    columns with elementwise tolerance (cheap, handles distinct rows);
    if that misaligns — two rows within tolerance of each other can swap
    under a raw-value sort — fall back to EXACT maximum bipartite
    matching (Kuhn's augmenting paths) on the tolerance graph. Greedy
    matching was not enough (ADVICE r10): a Spark row within tolerance
    of two oracle rows could greedily consume the one a later row
    needed, reporting a false FAILURE despite a valid perfect matching.
    O(V·E) worst case, but groups tied on every discrete column are
    small. Row coherence is never surrendered: every Spark row must
    find a full-tuple match among the oracle rows of its own group,
    each oracle row consumed exactly once."""
    import numpy as np

    fcols = [c for c in nsp.columns
             if nsp[c].dtype.kind == "f" or ndu[c].dtype.kind == "f"]
    disc = [c for c in nsp.columns if c not in fcols]
    asp = np.column_stack(
        [pd.to_numeric(nsp[c], errors="coerce").to_numpy(dtype=float)
         for c in fcols])
    adu = np.column_stack(
        [pd.to_numeric(ndu[c], errors="coerce").to_numpy(dtype=float)
         for c in fcols])

    from collections import defaultdict
    gs: dict = defaultdict(list)
    gd: dict = defaultdict(list)
    if disc:
        ksp = nsp[disc].astype(str).agg("\x1f".join, axis=1)
        kdu = ndu[disc].astype(str).agg("\x1f".join, axis=1)
    else:
        ksp = pd.Series([""] * len(nsp))
        kdu = pd.Series([""] * len(ndu))
    for i, k in enumerate(ksp):
        gs[k].append(i)
    for i, k in enumerate(kdu):
        gd[k].append(i)
    if sorted(gs) != sorted(gd):
        return False

    def rows_close(ra, rb) -> bool:
        both_nan = np.isnan(ra) & np.isnan(rb)
        close = (ra == rb) | (np.abs(ra - rb) <= 1e-6 + 1e-9 * np.abs(rb))
        return bool((both_nan | close).all())

    for k, ia in gs.items():
        ib = gd[k]
        if len(ia) != len(ib):
            return False
        A, B = asp[ia], adu[ib]
        # Cheap pass: sort each side's rows lexicographically over the
        # float tuple and compare positionally with tolerance.
        order_a = np.lexsort(np.nan_to_num(A, nan=np.inf).T[::-1])
        order_b = np.lexsort(np.nan_to_num(B, nan=np.inf).T[::-1])
        A2, B2 = A[order_a], B[order_b]
        if all(rows_close(A2[i], B2[i]) for i in range(len(A2))):
            continue
        # Exact pass failed: rows within tolerance of EACH OTHER may
        # legitimately swap under a raw-value sort. Exact MAXIMUM
        # bipartite matching (Kuhn's augmenting paths) on the tolerance
        # graph — greedy is not enough (ADVICE r10): when one Spark row
        # is within tolerance of two oracle rows, greedy can consume
        # the one a later row needed and report a false FAILURE even
        # though a perfect matching exists. Bounded so a pathological
        # all-float giant group cannot go cubic (fails loudly instead).
        if len(ia) > 2000:
            return False
        adj = [[j for j in range(len(B)) if rows_close(A[r], B[j])]
               for r in range(len(A))]
        if any(not a for a in adj):
            return False
        match_b = [-1] * len(B)  # match_b[j] = Spark row matched to B[j]

        def augment(root: int) -> bool:
            # Iterative DFS over alternating paths (ADVICE r11: the
            # recursive form required a process-wide setrecursionlimit
            # bump that was never restored — a test helper permanently
            # mutating process state). The path root -(j1)-> r1 -(j2)->
            # r2 ... -(jk, free) is recorded as via[r_i] = j_i (the
            # column matched to r_i when the path reached it) and
            # pred[r_i] = r_{i-1}; on success the matching flips along
            # it: match_b[j_k] = r_{k-1}, match_b[j_i] = r_{i-1}.
            seen = [False] * len(B)
            via: dict[int, int] = {}
            pred: dict[int, int] = {}
            stack = [(root, iter(adj[root]))]
            while stack:
                r, it = stack[-1]
                advanced = False
                for j in it:
                    if seen[j]:
                        continue
                    seen[j] = True
                    if match_b[j] < 0:
                        match_b[j] = r
                        while r != root:
                            match_b[via[r]] = pred[r]
                            r = pred[r]
                        return True
                    nxt = match_b[j]
                    via[nxt] = j
                    pred[nxt] = r
                    stack.append((nxt, iter(adj[nxt])))
                    advanced = True
                    break
                if not advanced:
                    stack.pop()
            return False

        # Rows with the fewest candidates first: cheap heuristic that
        # minimizes augmenting-path work (correctness doesn't depend on
        # it — Kuhn finds a perfect matching iff one exists).
        for r in sorted(range(len(A)), key=lambda r: len(adj[r])):
            if not augment(r):
                return False
    return True


def assert_frames_match(spark_df, duck_rel, name: str = "query") -> None:
    """Driver-style comparison of a Spark DataFrame vs a DuckDB relation."""
    sp = spark_df.toPandas()
    du = duck_rel.df()
    assert len(sp) == len(du), (
        f"{name}: row count mismatch spark={len(sp)} duckdb={len(du)}")
    assert sorted(sp.columns) == sorted(du.columns), (
        f"{name}: columns spark={sorted(sp.columns)} duck={sorted(du.columns)}")
    nsp, ndu = _normalize(sp), _normalize(du)
    floats_joint_ok = None  # lazily computed once, covers ALL float cols
    for c in nsp.columns:
        a, b = nsp[c], ndu[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            aa = pd.to_numeric(a, errors="coerce")
            bb = pd.to_numeric(b, errors="coerce")
            both_nan = aa.isna() & bb.isna()
            # Exact equality first: inf == inf must match (inf - inf is
            # NaN, which would fail the closeness test below).
            close = (aa == bb) | ((aa - bb).abs() <= 1e-6 + 1e-9 * bb.abs())
            bad = ~(both_nan | close)
            if bad.any():
                if floats_joint_ok is None:
                    floats_joint_ok = _float_rows_match_groupwise(nsp, ndu)
                if floats_joint_ok:
                    continue
        else:
            bad = a.astype(str) != b.astype(str)
        if bad.any():
            i = bad.idxmax()
            raise AssertionError(
                f"{name}: value mismatch in column {c!r} at sorted row {i}: "
                f"spark={a[i]!r} duckdb={b[i]!r} "
                f"(total {int(bad.sum())} mismatched rows)")


def count_jobs(spark, build):
    """(build(), number of Spark jobs it started), counted through a job
    group after the listener bus has recorded every job."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def jaccard(s1: set, s2: set) -> float:
    if not s1 and not s2:
        return 1.0
    return len(s1 & s2) / len(s1 | s2)


def cosine_py(a, b) -> float:
    d = sum(float(x) * float(y) for x, y in zip(a, b))
    na = math.sqrt(sum(float(x) ** 2 for x in a))
    nb = math.sqrt(sum(float(y) ** 2 for y in b))
    return d / (na * nb)
