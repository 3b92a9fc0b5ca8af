"""Registry invariants: scale-twin pairing.

The deliberate ground-truth↔scale-twin pairing is auditable from the
registry itself instead of from docstrings.
"""

from __future__ import annotations

from data_pipelines_course_spark import queries as Q


def test_ground_truth_queries_declare_scale_twins():
    """Every documented deliberate-ground-truth (quadratic / single-reducer)
    query must declare its registered scale twin via @query(scale_twin=...),
    and the twin must exist."""
    Q.load_registry()
    for name, twin in Q.SCALE_TWINS.items():
        assert name in Q.QUERIES, f"scale_twin declared on unknown query {name}"
        assert twin in Q.QUERIES, (
            f"{name} declares scale twin {twin!r} which is not registered"
        )
        assert twin != name
    # The six known deliberate weak queries (VERDICT r3) must all be tagged.
    expected = {
        "price_quantiles",
        "cogroup_conversion_lag",
        "ngram_jaccard_topk",
        "ngram_jaccard_threshold",
        "embedding_neardup_topk",
        "vocab_typo_pairs",
    }
    missing = expected - set(Q.SCALE_TWINS)
    assert not missing, f"ground-truth queries lacking scale_twin tag: {missing}"
