"""Session-memo policy under failure: entries of a dead application are
dropped, and a memo whose checkpoint blocks are lost is rebuilt instead
of failing every later consumer."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_dead_application_evicted_from_simhash_and_pq_memos(spark, monkeypatch):
    """A process that restarts its session must not keep the stopped
    context's simhash fingerprints or PQ codebooks pinned: the next
    build in the live application drops the foreign entry."""
    import gmallbiguan_parent_spark.operators.dedup as dedup
    import gmallbiguan_parent_spark.operators.similarity as sim

    monkeypatch.delenv("SPARK_GRAFT_INDEX_DIR", raising=False)
    foreign = ("local-stopped-application", SF_DIR)
    memos = (dedup._SIMHASH_CACHE, sim._PQ_CACHE)
    for memo in memos:
        memo.clear()
        memo[foreign] = None

    dedup._simhash_cached_fp(spark, SF_DIR)
    corpus, _ = sim._ivf_corpus_queries(spark, SF_DIR)
    sim._pq_cached_codebooks(spark, SF_DIR, corpus)

    app = spark.sparkContext.applicationId
    for memo in memos:
        assert foreign not in memo
        assert (app, SF_DIR) in memo


def test_lost_checkpoint_blocks_rebuild_memo(spark):
    """Unpersisting a memoized checkpoint's blocks (what an evicted or
    lost block looks like to the driver) makes the next consumer read a
    rebuilt memo with the same rows, not fail with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Covers a tuple value (adjacency
    edges + degrees) and a single DataFrame (near-dup pairs)."""
    from gmallbiguan_parent_spark.operators.dedup import (
        _lsh_pairs_ck, neardup_clusters,
    )
    from gmallbiguan_parent_spark.operators.graph import (
        _cached_adjacency, supplier_pagerank,
    )

    jsc = spark.sparkContext._jsc.sc()
    for consumer, memoized in (
        (supplier_pagerank, lambda: _cached_adjacency(spark, SF_DIR)[0]),
        (neardup_clusters, lambda: _lsh_pairs_ck(spark, SF_DIR)),
    ):
        before = sorted(map(tuple, consumer(spark, SF_DIR).collect()))
        jsc.unpersistRDD(_rdd_id(memoized()), True)
        after = sorted(map(tuple, consumer(spark, SF_DIR).collect()))
        assert after == before and len(after) > 0, consumer.__name__
