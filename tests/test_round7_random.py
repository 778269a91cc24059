"""Seeded-random differential tests for graph, span and AUC operators:
LPA / BFS vs pure-Python references on random graphs, duplicate_spans
vs a brute-force interval scan, and AUC vs a direct pair count."""

from __future__ import annotations

import pytest

import random

from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.graph import (
    bfs_distances,
    label_propagation,
)
from sandbox_data_pipeline_spark.operators.suffix import duplicate_spans


def _rand_graph(rng, n_nodes, n_edges):
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def _both_dirs(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.unionByName(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _ref_lpa(pairs, iterations):
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {v: v for v in adj}
    for _ in range(iterations):
        nxt = {}
        for v in adj:
            counts: dict[int, int] = {labels[v]: 1}
            for u in adj[v]:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min((-c, l) for l, c in counts.items())[1]
        labels = nxt
    return labels


def _ref_bfs(pairs, seeds, max_hops):
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    dist = {s: 0 for s in seeds if s in adj}
    frontier = list(dist)
    for h in range(1, max_hops + 1):
        nxt = []
        for v in frontier:
            for u in adj[v]:
                if u not in dist:
                    dist[u] = h
                    nxt.append(u)
        frontier = nxt
    return dist


def test_lpa_random_graphs(spark):
    rng = random.Random(71)
    for trial in range(4):
        pairs = _rand_graph(rng, 30, 45)
        got = {
            r.node: r.label
            for r in label_propagation(
                _both_dirs(spark, pairs), iterations=3
            ).collect()
        }
        assert got == _ref_lpa(pairs, 3), f"trial {trial}"


@pytest.mark.slow
def test_bfs_random_graphs(spark):
    rng = random.Random(72)
    for trial in range(4):
        pairs = _rand_graph(rng, 40, 60)
        nodes = sorted({v for p in pairs for v in p})
        seeds = [v for v in nodes if v % 5 == 0]
        sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
        got = {
            r.node: r.dist
            for r in bfs_distances(
                _both_dirs(spark, pairs), sdf, max_hops=3
            ).collect()
        }
        assert got == _ref_bfs(pairs, seeds, 3), f"trial {trial}"


def _ref_dup_spans(texts, min_len, max_len):
    """Brute force: position (d, p) is covered iff some substring of
    length min_len starting within [s, p] ... simpler: mark every
    position covered by a >=min_len substring occurring twice, via
    the suffix-pair definition replayed literally."""
    sufs = sorted(
        (t[:max_len][p:], d, p)
        for d, t in enumerate(texts)
        for p in range(len(t[:max_len]))
    )
    ivals: set[tuple[int, int, int]] = set()
    for (s1, d1, p1), (s2, d2, p2) in zip(sufs, sufs[1:]):
        lcp = 0
        for x, y in zip(s1, s2):
            if x != y:
                break
            lcp += 1
        if lcp >= min_len:
            ivals.add((d1, p1, p1 + lcp))
            ivals.add((d2, p2, p2 + lcp))
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for d, s, e in sorted(ivals):
        by_doc.setdefault(d, []).append((s, e))
    out = []
    for d, sp in by_doc.items():
        sp.sort()
        cs, ce = sp[0]
        for s, e in sp[1:]:
            if s > ce:
                out.append((d, cs, ce, ce - cs))
                cs, ce = s, e
            else:
                ce = max(ce, e)
        out.append((d, cs, ce, ce - cs))
    return sorted(out)


def test_duplicate_spans_random_texts(spark):
    rng = random.Random(73)
    for trial in range(3):
        base = "".join(rng.choice("abc ") for _ in range(30))
        texts = []
        for _ in range(8):
            if rng.random() < 0.5:
                t = (
                    "".join(rng.choice("abc ") for _ in range(rng.randint(0, 10)))
                    + base
                    + "".join(rng.choice("abc ") for _ in range(5))
                )
            else:
                t = "".join(rng.choice("xyzw ") for _ in range(40))
            texts.append(t)
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_len)
            for r in duplicate_spans(
                docs, min_len=12, max_len=48
            ).collect()
        )
        assert got == _ref_dup_spans(texts, 12, 48), f"trial {trial}"


def test_auc_random_vs_pair_count(spark, tmp_path):
    import os

    rng = random.Random(74)
    scores = [round(rng.random(), 3) for _ in range(60)]  # forces ties
    labels = [rng.randrange(10) for _ in range(60)]
    df = spark.createDataFrame(
        [
            (i, [float(s), 0.0], lab)
            for i, (s, lab) in enumerate(zip(scores, labels))
        ],
        "vec_id long, embedding array<float>, label int",
    )
    df.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")
    )
    from sandbox_data_pipeline_spark.queries.similarity import q_auc_score

    r = q_auc_score(spark, str(tmp_path)).collect()[0]
    pos = [s for s, l in zip(scores, labels) if l < 5]
    neg = [s for s, l in zip(scores, labels) if l >= 5]
    num = sum(
        1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
    )
    want = num / (len(pos) * len(neg))
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert abs(r.auc - want) < 5e-7  # stable_round at 6 dp
