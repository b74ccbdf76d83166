"""Cache-lifetime discipline (bicis_spark/caching.py).

The iterative operators (pagerank, connected components, ANN training)
persist loop-invariant frames for the duration of their loop via
``persisted(...)``. These tests pin the contract the operators rely on:
frames are actually marked cached inside the block, and released on
every exit path — normal return AND exception — so a failed mid-loop
job can never leak an |E|-sized cache into the block manager for the
rest of the session.
"""

from __future__ import annotations

import pytest

from bicis_spark.caching import persisted


def _make_df(spark):
    return spark.range(100).withColumnRenamed("id", "v")


def test_persisted_marks_and_releases(spark):
    df = _make_df(spark)
    assert not df.is_cached
    with persisted(df) as (c,):
        assert c.is_cached
        # materialize so the cache actually holds blocks, not just a mark
        assert c.count() == 100
    assert not c.is_cached


def test_persisted_releases_on_exception(spark):
    df = _make_df(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with persisted(df) as (c,):
            assert c.is_cached
            raise RuntimeError("boom")
    assert not c.is_cached


def test_persisted_multiple_frames_all_released(spark):
    a, b = _make_df(spark), _make_df(spark).selectExpr("v * 2 AS v")
    with persisted(a, b) as (ca, cb):
        assert ca.is_cached and cb.is_cached
    assert not ca.is_cached and not cb.is_cached


def test_checkpointed_result_survives_release(spark):
    """The documented idiom: a localCheckpoint-ed result returned from
    inside the block stays correct (and does not recompute from a cold
    source) after the caches are gone."""
    df = _make_df(spark)
    with persisted(df) as (c,):
        out = c.groupBy().sum("v").localCheckpoint(eager=True)
    assert not c.is_cached
    assert out.collect()[0][0] == sum(range(100))


def test_tracked_persist_registers_and_releases(spark):
    from bicis_spark.caching import release_tracked, tracked_count, tracked_persist

    release_tracked()  # clean slate
    df = tracked_persist(_make_df(spark))
    assert df.is_cached and tracked_count() == 1
    df.count()
    assert release_tracked() == 1
    assert not df.is_cached and tracked_count() == 0
    assert release_tracked() == 0  # idempotent


def test_ann_builders_register_their_caches(spark):
    """The IVF/PQ/SemDeDup builders persist trained structures that must
    outlive the call (lazy result plans + bench run-2 reuse) — the
    discipline is that every such persist is TRACKED so harness
    boundaries can release it. Pin that the builders actually register,
    and that release leaves nothing cached."""
    from bicis_spark.caching import release_tracked, tracked_count
    from bicis_spark.extensions.similarity import ann_topk_ivf

    release_tracked()
    corpus = spark.range(200).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> cast(pmod(id * i, 19) AS double) / 19.0)"
        " AS embedding",
    )
    out = ann_topk_ivf(
        corpus, corpus.limit(5), k=3, n_centroids_mod=10, max_lists=4
    )
    assert tracked_count() >= 2  # corpus projection + centroids
    assert out.count() > 0
    released = release_tracked()
    assert released >= 2 and tracked_count() == 0
