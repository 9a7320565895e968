"""One owner for every operator cache: ``session.hold``/``session.held``.

Operators cache the frames they read more than once through ``hold()``;
a ``with held():`` scope around the consuming actions releases every
frame held inside it, nested operator calls included.
"""

from __future__ import annotations

import os

import pytest

from traval_spark.session import held, hold

# entry queries covering every held site of the operators and the entry
# module (bpe_train's rolling cache runs in no entry query: see below)
HELD_QUERIES = (
    "dup_clusters", "cluster_cohesion", "ngram_jaccard", "lsh_banded",
    "token_lsh_pairs", "dedup_incremental", "minhash_incremental",
    "cos_dup_pairs_multi", "dsir_weights", "lm_score", "dup_spans",
    "trim_spans", "span_incremental", "source_overlap", "lttb_6h",
    "fleet_report", "curate", "curate_tokens",
)


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_held_releases_what_operators_hold_on_entry_queries(spark):
    """Each query runs through the noop sink inside its own scope: the
    session's CacheManager holds an entry while the scope is open (the
    query really reached a held site) and none once it closes."""
    import __spark_entry__ as em

    sf = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "testdata", "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 testdata not present")
    queries = em.queries()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name in HELD_QUERIES:
        with held():
            queries[name](spark, sf).write.format("noop").mode(
                "overwrite").save()
            assert not cache.isEmpty(), name
        assert cache.isEmpty(), name


def test_hold_outside_a_scope_and_nested_scopes(spark):
    """Without a scope a held frame stays cached, as a bare persist does.
    A frame belongs to the innermost open scope, a rolling cache's last
    frame to the scope around it, and a scope releases its frames when
    its body raises too."""
    loose = hold(spark.range(3).selectExpr("id * 2 AS x"))
    assert _cached(loose)
    with held():
        pass
    assert _cached(loose)
    loose.unpersist()

    with held():
        outer = hold(spark.range(5).selectExpr("id + 1 AS y"))
        with held():
            inner = hold(spark.range(7).selectExpr("id + 2 AS z"))
            assert _cached(inner) and _cached(outer)
        assert not _cached(inner) and _cached(outer)
    assert not _cached(outer)

    # a rolling cache: each BPE step frees the previous step's frame,
    # and the scope frees the last
    from traval_spark.operators.lm import bpe_train

    corpus = spark.createDataFrame(
        [(1, [1, 2, 1, 2, 3]), (2, [1, 2, 3, 3])],
        "doc_id long, tokens array<int>")
    with held():
        merges, out = bpe_train(corpus, 2, vocab_base=100)
        assert len(merges) == 2 and _cached(out)
    assert not _cached(out)

    with pytest.raises(RuntimeError):
        with held():
            failed = hold(spark.range(9).selectExpr("id + 3 AS w"))
            raise RuntimeError("write failed")
    assert not _cached(failed)
