"""Randomized differential testing vs DuckDB — mini-sqllogictest
(VERDICT r7 #3; SURVEY §5.1 "randomized query gen: NOT present" closed).

Every seed in SEEDS deterministically generates one query AST
(tests/fuzz.py), rendered BOTH as a DataFrame-API
plan and as ANSI SQL, executed on Spark and DuckDB at sf0.01, and
compared with the suite's driver-style comparator (row count + schema +
normalized values — the same assert_frames_match every hand-paired
oracle goes through).

The committed corpus is (grammar, SEEDS, CORPUS_DIGEST): the digest test
pins the exact SQL text of all seeds, so an accidental grammar change
can't silently swap the corpus under the green checkmark — changing the
grammar intentionally means re-pinning the digest in the same commit.

A divergence here is a FINDING to triage in NOTES (engine semantics
gap, generator portability bug, or a real defect), not a flaky test:
every construct in the grammar is deterministic on both engines.
"""

from __future__ import annotations

import hashlib

import pytest

from .fuzz import (
    generate, generate_v2, generate_v3, generate_v4, generate_v5,
    generate_v6, generate_v7, generate_v8, generate_v9, generate_v10,
    generate_v11, generate_v12, generate_v13,
)

from .conftest import SF_DIR, assert_frames_match

SEEDS = range(200)
SEEDS_V2 = range(100)  # grammar v2: LEFT JOIN / null semantics
SEEDS_V3 = range(100)  # grammar v3: windows / set ops / IN-subqueries
SEEDS_V4 = range(80)  # grammar v4: nested aggregation / scalar subqueries
SEEDS_V5 = range(100)  # grammar v5: scalar-function pipelines (§2.8)
SEEDS_V6 = range(40)  # grammar v6: batch <-> stream differential parity
SEEDS_V7 = range(60)  # grammar v7: temporal joins (as-of / banded range)
SEEDS_V8 = range(60)  # grammar v8: multi-level aggregation (ROLLUP/CUBE)
SEEDS_V9 = range(40)  # grammar v9: watermark / append-mode streaming
SEEDS_V10 = range(40)  # grammar v10: session-window streaming
SEEDS_V11 = range(40)  # grammar v11: stream-stream interval join
SEEDS_V12 = range(40)  # grammar v12: LEFT-OUTER stream-stream interval join
SEEDS_V13 = range(40)  # grammar v13: RIGHT-OUTER stream-stream interval join

# sha256 over the SQL renderings of all seeds (test_corpus_digest).
CORPUS_DIGEST = (
    "9f67aa26286481164eec7e8110b66fb856dcc8c0ad08d202139adc43f836b281")
CORPUS_DIGEST_V2 = (
    "a13d2e34510e81bd1dde770b26e4667751597c11b1320a7e6687f64566e90b6c")
CORPUS_DIGEST_V3 = (
    "7291a278bc0d01a9ba3f616aa32d680c98813c25d72e1d967880bb519a452b0e")
CORPUS_DIGEST_V4 = (
    "5f8f0ed213955848a402cfe9c8f8db3b0068c580a9d4b78d68771263b876b032")
CORPUS_DIGEST_V5 = (
    "51631a7c2b3fa673838cc06b2f16f99ec2639677c42c9b627ca8466ce357a442")
CORPUS_DIGEST_V6 = (
    "20f364201674f36744e056e9e71e0b14f207d82ee35f885b3d7b0fc5304ef069")
CORPUS_DIGEST_V7 = (
    "a505054de42efb06382e0bc3d47af75dcaff4e91ed64f2616bbb7cb53e5c4ec1")
CORPUS_DIGEST_V8 = (
    "7f34d087d743c2665258034a4c57211c6f845ab18fb382bbe884de2c408bffe1")
CORPUS_DIGEST_V9 = (
    "67bae5f594747947b13b0a1392a7f58255972b6c9b88c3d4ba40be9817121991")
CORPUS_DIGEST_V10 = (
    "054e9b7cf9334a9144855ecfcb3727f1e0294a11372c17eb3781fd2a8db8ac60")
CORPUS_DIGEST_V11 = (
    "119d890c027581cf2b872537a3fbe83a0e127f76d45e45cae1907794f70b3dc8")
CORPUS_DIGEST_V12 = (
    "1fa900f2bd71a65be88f0121451cb5f7b2f0c68f7b2ba441d226574b64b3bb47")
CORPUS_DIGEST_V13 = (
    "3356a94492c618ec0e70929edd833376df2daef8afc599f340b9fce965385046")


def test_generator_is_deterministic():
    for seed in (0, 7, 42, 199):
        assert generate(seed).sql() == generate(seed).sql()
        assert generate_v2(seed).sql() == generate_v2(seed).sql()
        assert generate_v3(seed).sql() == generate_v3(seed).sql()
        assert generate_v4(seed).sql() == generate_v4(seed).sql()
        assert generate_v5(seed).sql() == generate_v5(seed).sql()
        assert generate_v6(seed % 40).sql() == generate_v6(seed % 40).sql()
        assert generate_v7(seed).sql() == generate_v7(seed).sql()
        assert generate_v8(seed % 60).sql() == generate_v8(seed % 60).sql()
        assert generate_v9(seed % 40).sql() == generate_v9(seed % 40).sql()
        assert generate_v10(seed % 40).sql() == generate_v10(seed % 40).sql()
        assert generate_v11(seed % 40).sql() == generate_v11(seed % 40).sql()
        assert generate_v12(seed % 40).sql() == generate_v12(seed % 40).sql()
        assert generate_v13(seed % 40).sql() == generate_v13(seed % 40).sql()


def _digest(gen, seeds) -> str:
    h = hashlib.sha256()
    for seed in seeds:
        h.update(gen(seed).sql().encode())
        h.update(b"\n")
    return h.hexdigest()


def test_corpus_digest():
    got = _digest(generate, SEEDS)
    assert got == CORPUS_DIGEST, (
        f"fuzz corpus changed: digest {got} — if the grammar "
        "change is intentional, re-pin CORPUS_DIGEST in this commit")
    got2 = _digest(generate_v2, SEEDS_V2)
    assert got2 == CORPUS_DIGEST_V2, (
        f"fuzz v2 corpus changed: digest {got2} — re-pin "
        "CORPUS_DIGEST_V2 if intentional")
    got3 = _digest(generate_v3, SEEDS_V3)
    assert got3 == CORPUS_DIGEST_V3, (
        f"fuzz v3 corpus changed: digest {got3} — re-pin "
        "CORPUS_DIGEST_V3 if intentional")
    got4 = _digest(generate_v4, SEEDS_V4)
    assert got4 == CORPUS_DIGEST_V4, (
        f"fuzz v4 corpus changed: digest {got4} — re-pin "
        "CORPUS_DIGEST_V4 if intentional")
    got5 = _digest(generate_v5, SEEDS_V5)
    assert got5 == CORPUS_DIGEST_V5, (
        f"fuzz v5 corpus changed: digest {got5} — re-pin "
        "CORPUS_DIGEST_V5 if intentional")
    got6 = _digest(generate_v6, SEEDS_V6)
    assert got6 == CORPUS_DIGEST_V6, (
        f"fuzz v6 corpus changed: digest {got6} — re-pin "
        "CORPUS_DIGEST_V6 if intentional")
    got7 = _digest(generate_v7, SEEDS_V7)
    assert got7 == CORPUS_DIGEST_V7, (
        f"fuzz v7 corpus changed: digest {got7} — re-pin "
        "CORPUS_DIGEST_V7 if intentional")
    got8 = _digest(generate_v8, SEEDS_V8)
    assert got8 == CORPUS_DIGEST_V8, (
        f"fuzz v8 corpus changed: digest {got8} — re-pin "
        "CORPUS_DIGEST_V8 if intentional")
    got9 = _digest(generate_v9, SEEDS_V9)
    assert got9 == CORPUS_DIGEST_V9, (
        f"fuzz v9 corpus changed: digest {got9} — re-pin "
        "CORPUS_DIGEST_V9 if intentional")
    got10 = _digest(generate_v10, SEEDS_V10)
    assert got10 == CORPUS_DIGEST_V10, (
        f"fuzz v10 corpus changed: digest {got10} — re-pin "
        "CORPUS_DIGEST_V10 if intentional")
    got11 = _digest(generate_v11, SEEDS_V11)
    assert got11 == CORPUS_DIGEST_V11, (
        f"fuzz v11 corpus changed: digest {got11} — re-pin "
        "CORPUS_DIGEST_V11 if intentional")
    got12 = _digest(generate_v12, SEEDS_V12)
    assert got12 == CORPUS_DIGEST_V12, (
        f"fuzz v12 corpus changed: digest {got12} — re-pin "
        "CORPUS_DIGEST_V12 if intentional")
    got13 = _digest(generate_v13, SEEDS_V13)
    assert got13 == CORPUS_DIGEST_V13, (
        f"fuzz v13 corpus changed: digest {got13} — re-pin "
        "CORPUS_DIGEST_V13 if intentional")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS)
def test_fuzz_parity(spark, duck, seed):
    q = generate(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V2)
def test_fuzz_parity_v2(spark, duck, seed):
    """Null-semantics corpus: LEFT OUTER joins, count(col) vs count(*),
    COALESCE, CASE WHEN, IS NULL anti-join shapes."""
    q = generate_v2(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v2[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V3)
def test_fuzz_parity_v3(spark, duck, seed):
    """Window / set-op / subquery corpus: rank family + lag/lead +
    partition and running sums (with the top-n-per-group wrap),
    UNION/INTERSECT/EXCEPT in both bag and set forms, and IN/NOT IN
    key subqueries vs their left-semi/left-anti DataFrame rendering."""
    q = generate_v3(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v3[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V4)
def test_fuzz_parity_v4(spark, duck, seed):
    """Nested-aggregation / scalar-subquery corpus: agg-of-agg over a
    FROM-subquery (with cnt filters and key-subset regrouping) and
    x > (SELECT avg(x) ...) predicates rendered as 1-row broadcast
    cross-joins on the DataFrame side."""
    q = generate_v4(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v4[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V5)
def test_fuzz_parity_v5(spark, duck, seed):
    """Scalar-function pipeline corpus (§2.8 surface): composed regex
    extract/replace, case/trim/pad/substring/repeat/reverse chains,
    date_format<->strftime pairs, JSON scalar extraction, and the
    split + higher-order list family reduced to scalars — randomized
    over documents/events and compared against DuckDB."""
    q = generate_v5(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v5[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V6)
def test_fuzz_parity_v6_stream(spark, duck, seed):
    """Batch <-> stream differential parity: one seeded aggregation AST
    over events rendered as a batch plan, as the same transform over a
    Structured Streaming file source (complete mode, AvailableNow,
    memory sink), and as ANSI SQL — all three must agree. Divergence
    here is a state-store / micro-batch replay / scan-path defect."""
    q = generate_v6(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v6_batch[{seed}]: {q.sql()}")
    assert_frames_match(q.stream_result(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v6_stream[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V7)
def test_fuzz_parity_v7(spark, duck, seed):
    """Temporal-join corpus: the engine's CUSTOM as-of join (union +
    window carry-forward) vs DuckDB's native ASOF JOIN, and the banded
    range join vs a plain inequality-join oracle — randomized over
    filters, strictness, payload subsets, and window widths."""
    q = generate_v7(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v7[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V9)
def test_fuzz_parity_v9_watermark_stream(spark, seed):
    """Append-mode watermark streaming corpus: a seeded late/out-of-order
    multi-micro-batch file feed through a windowed (tumbling or sliding)
    event-time aggregation with a randomized watermark delay, compared
    against a pure-Python integer-microsecond simulator of the probed
    two-watermark retention model (late filter = U_{k-2} on window END,
    eviction = U_{k-1}, final output = windows with end <= U_last) whose
    retained (row, window) pairs DuckDB then aggregates. Divergence is a
    watermark/state-store/late-data defect — the subtlest semantics in
    the engine, previously verified only by hand-written scenarios."""
    q = generate_v9(seed)
    assert_frames_match(q.stream_result(spark, SF_DIR),
                        q.oracle_rel(SF_DIR),
                        name=f"fuzz_v9[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V10)
def test_fuzz_parity_v10_session_stream(spark, seed):
    """Session-window streaming corpus: seeded late/out-of-order feeds
    through session_window aggregations (key in {user_id, event_type,
    user_id%10} with density-matched gap pools), append mode, vs a
    batch-by-batch Python STATE simulator — session retention is not a
    row-level predicate: open-state co-residency decides merging, and a
    closed key can re-open and emit a second (even overlapping) session
    row. Model probed per the fuzz.py v10 section (S1-S6 + us-boundary
    probe). Divergence is a merging-state-store / late-data defect."""
    q = generate_v10(seed)
    assert_frames_match(q.stream_result(spark, SF_DIR),
                        q.oracle_rel(SF_DIR),
                        name=f"fuzz_v10[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V11)
def test_fuzz_parity_v11_interval_join_stream(spark, seed):
    """Stream-stream interval-join corpus: two watermarked sides (split
    by seeded disjoint event_type subsets from one late/out-of-order
    feed) inner-joined on a key + bounded event-time interval, append
    mode. The probed model (fuzz.py v11 section) makes the INNER output
    exactly row-level — min-policy global watermark, one-batch-lagged
    inclusive input filter on both sides, eviction provably
    conservative w.r.t. the filter — so the oracle filters each side's
    survivors in Python and hands DuckDB a plain interval join.
    Divergence is a join-state / watermark-coordination defect."""
    q = generate_v11(seed)
    assert_frames_match(q.stream_result(spark, SF_DIR),
                        q.oracle_rel(SF_DIR),
                        name=f"fuzz_v11[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V12)
def test_fuzz_parity_v12_outer_interval_join_stream(spark, seed):
    """LEFT-OUTER stream-stream interval-join corpus (v11's scoped-out
    mode): same feed/condition machinery, how=left_outer, so
    null-extended rows ride STATE EVICTION timing. The probed model
    (fuzz.py v12 section, probes O-A..O-L) makes even the null part
    row-level: a surviving-but-unmatched left row null-emits iff its
    interval expired against the final full-prefix min-policy watermark
    (strictly for <=-bounded intervals, inclusively for <-bounded, exact
    us vs ms-floored watermark). Divergence is a join-state eviction /
    null-emission-timing defect."""
    q = generate_v12(seed)
    assert_frames_match(q.stream_result(spark, SF_DIR),
                        q.oracle_rel(SF_DIR),
                        name=f"fuzz_v12[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V13)
def test_fuzz_parity_v13_right_outer_interval_join_stream(spark, seed):
    """RIGHT-OUTER stream-stream interval-join corpus: the mirror of
    v12 (VERDICT r11 #6 — right_outer previously ran with unverified
    null-emission semantics). The probed model (fuzz.py v13 section,
    probes R-A..R-E) is v12's with the bound roles swapped: a
    surviving-but-unmatched RIGHT row null-emits iff its own event time
    fell behind the final full-prefix min-policy watermark (strictly
    for >=-bounded intervals, inclusively for >-bounded; exact us vs
    ms-floored watermark; hi-bound strictness inert). Divergence is a
    join-state eviction / null-emission-timing defect."""
    q = generate_v13(seed)
    assert_frames_match(q.stream_result(spark, SF_DIR),
                        q.oracle_rel(SF_DIR),
                        name=f"fuzz_v13[{seed}]: {q.sql()}")


@pytest.mark.slow
@pytest.mark.parametrize("seed", SEEDS_V8)
def test_fuzz_parity_v8(spark, duck, seed):
    """Multi-level aggregation corpus: ROLLUP/CUBE over 2-3 non-null
    keys with subtotal-aware aggregate casts. The oracle carries
    HAVING count(*) > 0 to encode the learned divergence: DuckDB emits
    the SQL-standard grand-total row on EMPTY input, Spark's
    rollup()/cube() do not (see fuzz.py v8 section docstring)."""
    q = generate_v8(seed)
    assert_frames_match(q.df(spark, SF_DIR), duck.sql(q.sql()),
                        name=f"fuzz_v8[{seed}]: {q.sql()}")
