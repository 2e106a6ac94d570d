"""graph.connected_components, the one min-label propagation loop
behind the CC queries: exact labels at any diameter under its cap, a
loud failure past it, and no cache-manager entry left behind by its
callers.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _sym(spark, pairs):
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    return edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))


def _labels(df):
    return {r.node: r.label for r in df.collect()}


def test_path_past_four_rounds_is_one_component(spark):
    """The minimum id sits mid-path, 6 hops from the far end, so a
    4-round loop would still split the path."""
    from postgres_s3_etl_spark.operators.graph import connected_components

    order = [20, 19, 18, 17, 16, 1, 15, 14, 13, 12, 11, 10]
    labels = _labels(
        connected_components(_sym(spark, list(zip(order, order[1:]))), "path")
    )
    assert labels == {n: 1 for n in order}


def test_disjoint_components_keep_their_own_minimum(spark):
    from postgres_s3_etl_spark.operators.graph import connected_components

    sym = _sym(spark, [(7, 5), (6, 7), (9, 3)])
    assert _labels(connected_components(sym, "two")) == {
        5: 5, 6: 5, 7: 5, 3: 3, 9: 3,
    }


def test_path_longer_than_the_cap_raises(spark, monkeypatch):
    from postgres_s3_etl_spark.operators import graph

    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 3)
    sym = _sym(spark, [(i, i + 1) for i in range(1, 8)])
    with pytest.raises(RuntimeError, match="deep_path"):
        graph.connected_components(sym, "deep_path")


def test_graph_components_cap_failure_releases_the_layout(spark, monkeypatch):
    """The persisted edge layout (big-graph path, forced here) is
    released even when propagation fails at the cap."""
    from postgres_s3_etl_spark.operators import graph

    monkeypatch.setattr(graph, "_iter_partitions", lambda spark, sf_dir: 2)
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 1)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="graph_components"):
        graph.graph_components(spark, SF_DIR)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_cc_keepset_leaves_nothing_cached(spark):
    """The band and edge frames dedup_cc_keepset persists are released
    once its labels are checkpointed."""
    from postgres_s3_etl_spark.operators.dedup import dedup_cc_keepset

    spark.catalog.clearCache()
    dedup_cc_keepset(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
