"""Graph operators: label propagation + bounded-hop BFS."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.graph import (
    bfs_distances,
    label_propagation,
)


def _edges(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.unionByName(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_lpa_two_cliques_bridge(spark):
    # two triangles joined by one bridge edge: LPA should assign each
    # clique one community, and the communities differ
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(2, 10)]
    labels = {
        r.node: r.label
        for r in label_propagation(
            _edges(spark, tri1 + tri2 + bridge), iterations=4
        ).collect()
    }
    assert labels[0] == labels[1] == labels[2]
    assert labels[10] == labels[11] == labels[12]
    assert labels[0] != labels[10]


def test_lpa_deterministic_min_label(spark):
    # a single clique converges to its smallest node id as the label
    labels = {
        r.node: r.label
        for r in label_propagation(
            _edges(spark, [(3, 7), (7, 9), (3, 9)]), iterations=4
        ).collect()
    }
    assert set(labels.values()) == {3}


def test_lpa_partition_independent(spark):
    pairs = [(i, (i * 3 + 1) % 20) for i in range(20) if i != (i * 3 + 1) % 20]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, label_propagation(e, iterations=3).collect()))
    b = sorted(
        map(tuple, label_propagation(e.repartition(7), iterations=3).collect())
    )
    assert a == b


def test_bfs_path_graph_distances(spark):
    # path 0-1-2-3-4-5 with seed {0}: dist == node index, capped at 4 hops
    e = _edges(spark, [(i, i + 1) for i in range(5)])
    seeds = spark.createDataFrame([(0,)], "node long")
    d = {r.node: r.dist for r in bfs_distances(e, seeds, max_hops=4).collect()}
    assert d == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # node 5 unreached in 4 hops


def test_bfs_multi_seed_takes_min(spark):
    e = _edges(spark, [(i, i + 1) for i in range(6)])
    seeds = spark.createDataFrame([(0,), (6,)], "node long")
    d = {r.node: r.dist for r in bfs_distances(e, seeds, max_hops=3).collect()}
    assert d[3] == 3 and d[4] == 2 and d[5] == 1 and d[6] == 0


def test_bfs_disconnected_absent(spark):
    e = _edges(spark, [(0, 1), (10, 11)])
    seeds = spark.createDataFrame([(0,)], "node long")
    d = {r.node: r.dist for r in bfs_distances(e, seeds, max_hops=4).collect()}
    assert 10 not in d and 11 not in d and d == {0: 0, 1: 1}


def test_wedge_pairs_hub_cap_is_subset(spark):
    """The max_degree production knob: capped wedge counts exist in
    the exact output with cn_capped <= cn_exact (dropping hub middles
    only removes wedges), and a hub-mediated-only pair disappears."""
    from sandbox_data_pipeline_spark.operators.graph import wedge_pairs

    # star: hub 100 connects 1..5 (deg 5); plus a private middle 200
    # shared only by (1, 2)
    edges = [(n, 100) for n in range(1, 6)] + [(1, 200), (2, 200)]
    adj = spark.createDataFrame(
        [(u, w) for u, w in edges] + [(w, u) for u, w in edges],
        "u long, w long",
    )
    exact = {
        (r["u"], r["v"]): r["cn"] for r in wedge_pairs(adj).collect()
    }
    capped = {
        (r["u"], r["v"]): r["cn"]
        for r in wedge_pairs(adj, max_degree=4).collect()
    }
    assert set(capped) <= set(exact)
    for k, cn in capped.items():
        assert cn <= exact[k]
    # (1,2) had wedges through both 100 and 200: survives with cn=1
    assert exact[(1, 2)] == 2 and capped[(1, 2)] == 1
    # (3,4) was hub-mediated only: gone under the cap
    assert (3, 4) in exact and (3, 4) not in capped


def test_link_prediction_cap_subset_on_corpus(spark, sf_dir):
    """q_link_prediction(max_degree=...) output rows are a subset of
    the exact run's on the real corpus (candidate-generation safety:
    thresholds only shrink)."""
    from sandbox_data_pipeline_spark.queries.dedup import q_link_prediction

    exact = {
        (r["u"], r["v"]): r["cn"]
        for r in q_link_prediction(spark, sf_dir).collect()
    }
    capped = {
        (r["u"], r["v"]): r["cn"]
        for r in q_link_prediction(spark, sf_dir, max_degree=3).collect()
    }
    assert set(capped) <= set(exact)
    for k, cn in capped.items():
        assert cn <= exact[k]


@pytest.mark.slow
def test_local_solvers_match_distributed_loops(spark, local_caps):
    """r12: every graph operator's capped local solve must reproduce
    the distributed BSP loop row-for-row (forced via a zero
    "graph_edges" cap).
    Floats compare exactly: same per-iteration formulas, and the
    6-dp output rounding sits far above any partial-sum-order drift."""
    from sandbox_data_pipeline_spark.operators.graph import (
        hits,
        pagerank,
        personalized_pagerank,
    )

    pairs = [(i, (i * 7 + 3) % 30) for i in range(30) if i != (i * 7 + 3) % 30]
    e = _edges(spark, pairs)
    seeds = e.select(F.col("src").alias("node")).distinct().where(
        F.col("node") % 5 == 0
    )
    for build in (
        lambda: pagerank(e, iterations=5),
        lambda: label_propagation(e, iterations=4),
        lambda: bfs_distances(e, seeds, max_hops=4),
        lambda: hits(e, iterations=3),
        lambda: personalized_pagerank(e, seeds, iterations=4),
    ):
        local_caps(graph_edges=10**6)
        local = sorted(map(tuple, build().collect()))
        local_caps(graph_edges=0)
        loop = sorted(map(tuple, build().collect()))
        assert local == loop


def test_pagerank_directed_sink_dangling_mass_local(spark, local_caps):
    """Directed graph WITH a sink node: the local solver must apply the
    same dangling-mass redistribution as the loop (has_sinks branch)."""
    from sandbox_data_pipeline_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long"  # 2 is a sink
    )
    local = sorted(map(tuple, pagerank(e, iterations=5).collect()))
    local_caps(graph_edges=0)
    loop = sorted(map(tuple, pagerank(e, iterations=5).collect()))
    assert local == loop
