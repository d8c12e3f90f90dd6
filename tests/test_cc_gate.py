"""connected_components' size gate and the LSH mask input guards.

Below ``CC_DRIVER_MAX_EDGES`` edges the components are labeled by a
driver union-find, so the job count is pinned: a slide back to the
distributed loop shows as a count, not as a wall time. Above the bound a
graph whose diameter outruns the hop budget must still come out fully
labeled (the loop finishes with the large-star/small-star rounds).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _job_ids(spark) -> set[int]:
    """Ids of the jobs in the status store once the listener bus is
    drained (``jobsList`` works with ``spark.ui.enabled=false``)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    it = sc.statusStore().jobsList(None).iterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next().jobId()))
    return ids


def test_cc_below_bound_launches_at_most_two_jobs(spark):
    """The edge checkpoint plus the collect; the labels come back as a
    LocalRelation, so building the result and reading it launch none."""
    from kafka_topic_analyzer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102)],
        "src long, dst long",
    )
    before = _job_ids(spark)
    labels = connected_components(edges)
    assert len(_job_ids(spark) - before) <= 2
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert dict(labels.collect()) == {
        **{i: 0 for i in range(31)},
        100: 100,
        101: 100,
        102: 100,
    }


def test_cc_chain_beyond_hop_budget_falls_back_to_star(spark, monkeypatch):
    """A 41-vertex path needs 40 hops, twice the default budget of 20:
    the loop must not return the half-propagated labels (21 distinct
    ones) but finish with connected_components_star."""
    from kafka_topic_analyzer_spark.operators import dedup as D

    monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    got = dict(D.connected_components(edges).collect())
    assert got == {i: 0 for i in range(41)}


def test_lsh_mask_rejects_more_than_64_permutations(spark):
    """The match mask holds one long bit per permutation:
    ``shiftleft(1L, p)`` wraps above bit 63."""
    from kafka_topic_analyzer_spark.operators.dedup import (
        lsh_mask_band_hit,
        lsh_permutation_match_masks,
    )

    sigs = spark.createDataFrame([(1, 5)], "doc_id long, sig_0 long")
    with pytest.raises(ValueError, match="at most 64"):
        lsh_permutation_match_masks(sigs, n_perm=65)
    with pytest.raises(ValueError, match="at most 64"):
        lsh_mask_band_hit(F.col("mask"), bands=4, n_perm=128)
    lsh_mask_band_hit(F.col("mask"), bands=4, n_perm=64)  # widest legal mask


def test_lsh_mask_band_hit_rejects_uneven_bands(spark):
    from kafka_topic_analyzer_spark.operators.dedup import lsh_mask_band_hit

    with pytest.raises(ValueError, match="bands must divide evenly into n_perm"):
        lsh_mask_band_hit(F.col("mask"), bands=3, n_perm=16)
