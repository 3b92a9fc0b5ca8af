"""`datasets.session_cache`: the one mechanism for reuse across the
queries of a session. A value is served only while the tables it was
built from keep their fingerprint, concurrent first callers share one
value, and builds may nest."""

from __future__ import annotations

import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from data_pipelines_course_spark import datasets as D
from data_pipelines_course_spark.operators.similarity import kmeans_train
from data_pipelines_course_spark.operators.textprep import bpe_train

PACKAGE = (Path(__file__).resolve().parent.parent
           / "data_pipelines_course_spark")


def _write_tables(spark, sf_dir, axes, words, mode="errorifexists"):
    """embeddings: two unit vectors per axis in `axes` (dim 4);
    documents: one doc repeating each of `words`."""
    vecs = [[1.0 if i == a else 0.0 for i in range(4)]
            for a in axes for _ in range(2)]
    (spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
     .write.mode(mode).parquet(f"{sf_dir}/embeddings.parquet"))
    text = " ".join(w for w in words for _ in range(3))
    (spark.createDataFrame(
        [(0, text, "en", "web", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long")
     .write.mode(mode).parquet(f"{sf_dir}/documents.parquet"))


def _trained(spark, sf_dir):
    return (kmeans_train(spark, sf_dir, k=2, max_iter=3),
            bpe_train(spark, sf_dir, n_merges=2))


def test_tables_rewritten_in_place_are_rebuilt(spark, tmp_path):
    src, fresh = str(tmp_path / "src"), str(tmp_path / "fresh")
    _write_tables(spark, src, axes=(0, 1), words=("aab",))
    before = _trained(spark, src)
    _write_tables(spark, src, axes=(2, 3), words=("xyy",), mode="overwrite")
    _write_tables(spark, fresh, axes=(2, 3), words=("xyy",))
    after = _trained(spark, src)
    assert after == _trained(spark, fresh)
    assert after[0] != before[0] and after[1] != before[1]


def test_first_callers_share_one_build(spark, tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    sf_dir, key, n = str(tmp_path), ("race", uuid.uuid4().hex), 8
    barrier = threading.Barrier(n)

    def slow_build():
        time.sleep(0.2)
        return object()

    def call(_):
        barrier.wait(timeout=30)
        return D.session_cache(spark, sf_dir, ("t",), key, slow_build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n) as pool:
            got = list(pool.map(call, range(n), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert all(g is got[0] for g in got)
    with D._SESSION_LOCK:
        assert [k for k in D._SESSION_CACHE if k[1:] == (sf_dir, key)] == [
            (spark.sparkContext.applicationId, sf_dir, key)]


def test_nested_build_returns(spark, tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    sf_dir = str(tmp_path)

    def outer():
        return ("outer", D.session_cache(spark, sf_dir, ("t",), ("inner",),
                                         lambda: "inner"))

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(D.session_cache, spark, sf_dir, ("t",),
                          ("outer",), outer)
        assert fut.result(timeout=30) == ("outer", "inner")


def test_no_per_session_memo_outside_datasets():
    """Session-scoped reuse goes through `session_cache`: no other
    module keys its own state by applicationId."""
    offenders = [str(p.relative_to(PACKAGE)) for p in PACKAGE.rglob("*.py")
                 if p != PACKAGE / "datasets.py"
                 and "applicationId" in p.read_text()]
    assert not offenders, offenders


@pytest.mark.parametrize("literal, copies", [
    ("split(lower(trim(text))", 1),   # the word split
    ("hash(slice(sig", 1),            # the MinHash band key
    ('F.xxhash64("gram")', 1),        # the 5-gram hash digest
    ("def _widen", 0),                # scan widening is datasets.widen_scan
])
def test_each_text_digest_is_defined_once(literal, copies):
    """Every module builds its text digests through operators/dedup.py:
    each digest's defining expression occurs exactly once in the
    package."""
    found = {str(p.relative_to(PACKAGE)): p.read_text().count(literal)
             for p in PACKAGE.rglob("*.py")}
    assert sum(found.values()) == copies, {
        k: n for k, n in found.items() if n}
