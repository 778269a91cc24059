"""Text, sketch and graph operators: chunk manifests, PMI, KL drift,
count-min sketch, PageRank, event funnel — semantics on crafted
inputs."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.graph import pagerank
from sandbox_data_pipeline_spark.operators.sketch import cms_build, cms_estimate
from sandbox_data_pipeline_spark.operators.text import (
    chunk_documents,
    pmi_pairs,
    source_kl_divergence,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


# --- chunk_documents --------------------------------------------------------

def test_chunks_cover_whole_doc_with_overlap(spark):
    text = " ".join(f"t{i}" for i in range(50))
    df = _docs(spark, [(1, text, "a")])
    got = chunk_documents(df, chunk_tokens=32, stride=24).orderBy("chunk_idx").collect()
    # starts at 0, 24, 48 — 50 tokens → 3 chunks
    assert [r.tok_start for r in got] == [0, 24, 48]
    assert [r.tok_end for r in got] == [32, 50, 50]
    assert got[0].chunk_text.split(" ")[0] == "t0"
    assert got[1].chunk_text.split(" ")[0] == "t24"
    # overlap: chunk1's head re-covers chunk0's tail
    assert got[0].chunk_text.split(" ")[-8:] == got[1].chunk_text.split(" ")[:8]
    assert got[2].n_chunk_toks == 2


def test_chunks_short_and_empty_docs(spark):
    df = _docs(spark, [(1, "only three toks", "a"), (2, "", "a"), (3, "  ", "a")])
    got = chunk_documents(df, chunk_tokens=32, stride=24).collect()
    assert len(got) == 1  # empty/whitespace docs emit no chunks
    assert got[0].doc_id == 1 and got[0].n_chunk_toks == 3
    assert got[0].chunk_text == "only three toks"


# --- pmi_pairs --------------------------------------------------------------

def test_pmi_sign_matches_association(spark):
    # a,b always co-occur; a,c never do; fill with docs so df counts differ
    rows = [(i, "alpha beta", "s") for i in range(10)]
    rows += [(100 + i, "gamma delta", "s") for i in range(10)]
    df = _docs(spark, rows)
    got = {(r.tok_a, r.tok_b): r for r in pmi_pairs(df, vocab_size=10, min_pair_docs=1).collect()}
    # P(alpha,beta)=0.5, P(alpha)=P(beta)=0.5 → PMI=log2(0.5/0.25)=1
    assert math.isclose(got[("alpha", "beta")].pmi_bits, 1.0)
    assert ("alpha", "gamma") not in got  # never co-occur → no row


def test_pmi_pair_threshold(spark):
    rows = [(i, "x y", "s") for i in range(3)] + [(10 + i, "x z", "s") for i in range(5)]
    df = _docs(spark, rows)
    got = {(r.tok_a, r.tok_b) for r in pmi_pairs(df, vocab_size=10, min_pair_docs=5).collect()}
    assert ("x", "z") in got and ("x", "y") not in got


# --- source_kl_divergence ---------------------------------------------------

def test_kl_zero_for_identical_sources_and_positive_for_drift(spark):
    same = [(i, "a b c d", "s1") for i in range(5)] + [(10 + i, "a b c d", "s2") for i in range(5)]
    got = {r.source: r.kl_bits for r in source_kl_divergence(_docs(spark, same)).collect()}
    assert got["s1"] == got["s2"] == 0.0
    skew = [(i, "a a a a", "hot") for i in range(5)] + [(10 + i, "a b c d", "flat") for i in range(5)]
    got2 = {r.source: r.kl_bits for r in source_kl_divergence(_docs(spark, skew)).collect()}
    assert got2["hot"] > 0.0 and got2["flat"] > 0.0


# --- count-min sketch -------------------------------------------------------

def test_cms_never_underestimates_and_is_tight_when_sparse(spark):
    rows = [(i, "w%d" % (i % 5), "s") for i in range(100)]
    tok = _docs(spark, rows).select(F.col("text").alias("token"))
    sketch = cms_build(tok)
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(sketch, exact).collect()
    assert len(est) == 5
    for r in est:
        assert r.cms_n >= r.exact_n  # CMS is a one-sided estimator
    # 5 keys in a 4x64 sketch: collisions essentially impossible
    assert all(r.cms_n == r.exact_n for r in est)


def test_cms_width_bounds_memory(spark):
    rows = [(i, f"tok{i}", "s") for i in range(500)]
    tok = _docs(spark, rows).select(F.col("text").alias("token"))
    cells = cms_build(tok, depth=4, width=16).collect()
    assert len(cells) <= 4 * 16
    per_seed = {}
    for c in cells:
        per_seed[c.seed] = per_seed.get(c.seed, 0) + c.c
    assert set(per_seed.values()) == {500}  # each row sees every item once


# --- pagerank ---------------------------------------------------------------

def _edges(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.unionByName(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_pagerank_hub_outranks_leaves(spark):
    # star: 0 at center of 1..4
    pr = {r.node: r for r in pagerank(_edges(spark, [(0, i) for i in range(1, 5)])).collect()}
    assert pr[0].deg == 4
    assert all(pr[0].pagerank > pr[i].pagerank for i in range(1, 5))
    assert pr[0].rank_rel > 1.0 > pr[1].rank_rel
    # total mass conserved (no dangling nodes in an undirected graph)
    assert math.isclose(sum(r.pagerank for r in pr.values()), 1.0, abs_tol=1e-4)


def test_pagerank_symmetric_graph_is_uniform(spark):
    # 3-cycle: all nodes identical by symmetry
    pr = [r.pagerank for r in pagerank(_edges(spark, [(0, 1), (1, 2), (0, 2)])).collect()]
    assert len(set(pr)) == 1


# --- funnel -----------------------------------------------------------------

def test_event_funnel_requires_stage_order(spark):
    import datetime as dt

    t = dt.datetime(2026, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        # u1 completes in order
        (1, "signup", t), (1, "view", t + s), (1, "click", t + 2 * s), (1, "purchase", t + 3 * s),
        # u2 purchased BEFORE clicking → stops at click
        (2, "signup", t), (2, "view", t + s), (2, "purchase", t + 2 * s), (2, "click", t + 3 * s),
        # u3 never signed up → not in funnel at all
        (3, "view", t), (3, "click", t + s),
    ]
    events = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    from sandbox_data_pipeline_spark.queries.analytics import q_event_funnel

    # drive the operator body directly on the crafted frame
    from sandbox_data_pipeline_spark.queries import analytics as qa

    orig = qa.table
    try:
        qa.table = lambda spark, sf_dir, name: events
        got = {r.stage: r for r in q_event_funnel(spark, "unused").collect()}
    finally:
        qa.table = orig
    assert got["signup"].n_users == 2
    assert got["view"].n_users == 2
    assert got["click"].n_users == 2
    assert got["purchase"].n_users == 1
    assert got["purchase"].pct_of_entry == 0.5


# --- property tests ---------------------------------------------------------

from hypothesis import given, settings, strategies as st


@given(
    st.lists(
        st.integers(min_value=0, max_value=200), min_size=1, max_size=8
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=10, deadline=None)
def test_chunks_tile_every_token(lengths, ratio):
    """Every token index of every doc falls in >= 1 chunk; chunk starts
    are exactly the stride multiples below n_tok; spans never overrun.
    Batched: one Spark job per example."""
    from sandbox_data_pipeline_spark.operators.text import chunk_documents
    from sandbox_data_pipeline_spark.session import get_spark

    spark = get_spark("pytest", shuffle_partitions=8)
    stride = 7
    chunk = stride * ratio  # chunk >= stride → full coverage
    rows = [(i, " ".join(f"w{j}" for j in range(n)), "s") for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lengths):
        spans = sorted((r.tok_start, r.tok_end) for r in by_doc.get(i, []))
        if n == 0:
            assert spans == []
            continue
        assert [s for s, _ in spans] == list(range(0, n, stride))
        covered = set()
        for s, e in spans:
            assert 0 <= s < n and s < e <= n
            covered.update(range(s, e))
        assert covered == set(range(n))


@given(st.lists(st.sampled_from("abcdef"), min_size=1, max_size=60))
@settings(max_examples=10, deadline=None)
@pytest.mark.slow
def test_cms_estimate_dominates_exact_count(keys):
    """CMS point estimates are ALWAYS >= the true count (one-sided
    error), for arbitrary key multisets — including heavy repeats."""
    from pyspark.sql import functions as F

    from sandbox_data_pipeline_spark.operators.sketch import cms_build, cms_estimate
    from sandbox_data_pipeline_spark.session import get_spark

    spark = get_spark("pytest", shuffle_partitions=8)
    tok = spark.createDataFrame([(k,) for k in keys], "token string")
    sketch = cms_build(tok, depth=2, width=4)  # tiny grid → forced collisions
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_n"))
    for r in cms_estimate(sketch, exact, depth=2, width=4).collect():
        assert r.cms_n >= r.exact_n


# --- MMR re-ranking ---------------------------------------------------------

def test_mmr_prefers_diverse_over_redundant(spark):
    from sandbox_data_pipeline_spark.operators.similarity import mmr_rerank

    # query q; a and a2 nearly identical high-relevance; b distinct,
    # slightly lower relevance. Plain top-2 = [a, a2]; MMR = [a, b].
    rows = [
        (0, [1.0, 0.0, 0.0]),        # query
        (1, [0.9, 0.1, 0.0]),        # a
        (2, [0.9, 0.11, 0.0]),       # a2 ~ duplicate of a
        (3, [0.6, 0.0, 0.8]),        # b: diverse
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id = 0")
    got = {
        r.mmr_rank: r.cand_id
        for r in mmr_rerank(emb, queries, pool_k=3, select_k=2, lam=0.5).collect()
    }
    assert got[1] == 1          # most relevant first
    assert got[2] == 3          # diversity beats the near-duplicate
    # and rank ordering is complete per query
    assert sorted(got) == [1, 2]


def test_mmr_high_lambda_recovers_pure_relevance(spark):
    from sandbox_data_pipeline_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.9, 0.11, 0.0]),
        (3, [0.6, 0.0, 0.8]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id = 0")
    got = {
        r.mmr_rank: r.cand_id
        for r in mmr_rerank(emb, queries, pool_k=3, select_k=2, lam=1.0).collect()
    }
    # λ=1: diversity term vanishes — picks are the relevance top-2
    assert got[1] == 1 and got[2] == 2


def test_pagerank_directed_sinks_keep_mass(spark):
    # genuinely directed: 1→2 and 3→2; node 2 is a sink (no out-edges)
    e = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    pr = {r.node: r for r in pagerank(e).collect()}
    assert set(pr) == {1, 2, 3}          # sink node present in output
    assert pr[2].deg == 0
    assert pr[2].pagerank > pr[1].pagerank  # all flow converges on the sink
    # dangling mass redistributes: total rank still sums to 1
    assert math.isclose(sum(r.pagerank for r in pr.values()), 1.0, abs_tol=1e-4)


def test_cms_unseen_key_estimates_zero(spark):
    # wide sketch + few build keys → the unseen probe's cells are empty
    built = spark.createDataFrame([("a",), ("b",)], "token string")
    sketch = cms_build(built, depth=4, width=64)
    probe = spark.createDataFrame(
        [("a", 1), ("never-seen", 0)], "token string, exact_n long"
    )
    got = {r.token: r.cms_n for r in cms_estimate(sketch, probe).collect()}
    assert got["a"] >= 1
    assert got["never-seen"] == 0       # absent cells count as 0, row kept


def test_hits_separates_hubs_from_authorities(spark):
    from sandbox_data_pipeline_spark.operators.graph import hits

    # hub 0 points at authorities 1..3; 4 also points at 1
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 1)], "src long, dst long"
    )
    got = {r.node: r for r in hits(e, iterations=3).collect()}
    assert got[0].hub_rel == 1.0 and got[0].authority_raw == 0
    assert got[1].authority_rel == 1.0          # most-cited authority
    assert got[1].authority_raw > got[2].authority_raw
    assert got[2].authority_raw == got[3].authority_raw
    assert got[1].hub_raw == 0                   # pure authority
    # exact integers: raw scores are reproducible sums
    assert isinstance(got[0].hub_raw, int)


def test_operator_parameter_validation(spark):
    import pytest as _pytest

    from sandbox_data_pipeline_spark.operators.bpe import bpe_merges
    from sandbox_data_pipeline_spark.operators.graph import pagerank
    from sandbox_data_pipeline_spark.operators.multimodal import resize_bmp, build_bmp
    from sandbox_data_pipeline_spark.operators.text import chunk_documents

    df = _docs(spark, [(1, "a b", "s")])
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0, stride=8)
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, stride=0)
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError):
        pagerank(e, iterations=0)
    with _pytest.raises(ValueError):
        resize_bmp(build_bmp(1), 0, 4)
    with _pytest.raises(ValueError):
        # truncated body: declared geometry exceeds payload
        from sandbox_data_pipeline_spark.operators.multimodal import decode_bmp
        decode_bmp(build_bmp(1)[:-4])
