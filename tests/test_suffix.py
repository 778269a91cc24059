"""Distributed suffix array (prefix doubling) vs a from-scratch
pure-Python reference (direct suffix sort), plus LCP expression laws
and the repeated-substring surface."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.suffix import (
    lcp_expr,
    repeated_substrings,
    suffix_array,
)

TEXTS = [
    "banana",
    "the quick brown fox the quick",
    "aaaaab",
    "mississippi",
    "",  # empty doc: contributes no positions
    "xyz xyz xyz",
]


def _docs(spark, texts=TEXTS):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _ref_sa(texts, max_len):
    rows = sorted(
        (t[:max_len][p:], d, p)
        for d, t in enumerate(texts)
        for p in range(len(t[:max_len]))
    )
    return {(d, p): i + 1 for i, (s, d, p) in enumerate(rows)}


def test_suffix_array_matches_direct_sort(spark):
    got = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(_docs(spark), max_len=32).collect()
    }
    assert got == _ref_sa(TEXTS, 32)


def test_suffix_array_truncation_horizon(spark):
    # max_len smaller than doc length: ranks ordered by the first
    # max_len chars of each truncated text's suffixes
    got = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(_docs(spark), max_len=8).collect()
    }
    assert got == _ref_sa(TEXTS, 8)


def test_lcp_expr_cases(spark):
    cases = [
        ("abcdef", "abcxyz", 3),
        ("abc", "abcdef", 3),  # full-prefix: lcp = shorter length
        ("abcdef", "abc", 3),
        ("abc", "xbc", 0),
        ("same", "same", 4),
        ("", "abc", 0),
    ]
    df = spark.createDataFrame(cases, "a string, b string, want int")
    got = df.select("want", lcp_expr("a", "b").alias("lcp")).collect()
    for r in got:
        assert r["lcp"] == r["want"]


def test_repeated_substrings_finds_known_repeat(spark):
    rows = repeated_substrings(
        _docs(spark), min_lcp=5, top_k=100, max_len=32
    ).collect()
    # 'the quick' repeats inside doc 1 at pos 0 and 20: the adjacency
    # with lcp=9 must be reported (suffix 'the quick' is a full prefix
    # of 'the quick brown fox the quick')
    found = {
        (r["doc_id"], r["pos"], r["next_doc"], r["next_pos"], r["lcp"])
        for r in rows
    }
    assert (1, 20, 1, 0, 9) in found
    # 'xyz xyz' internal repeats of doc 5 appear too
    assert any(r["doc_id"] == 5 and r["lcp"] >= 7 for r in rows)


def test_suffix_array_partition_independent(spark):
    # the two-phase global rank must not depend on parallelism
    docs = _docs(spark)
    a = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(docs.repartition(1), max_len=16).collect()
    }
    b = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(docs.repartition(7), max_len=16).collect()
    }
    assert a == b


def test_duplicate_spans_merge_and_cover(spark):
    from sandbox_data_pipeline_spark.operators.suffix import duplicate_spans

    # doc 0 and doc 1 share a 27-char substring (the alphabet plus the
    # following space, present in both); doc 2 is unique
    shared = "abcdefghijklmnopqrstuvwxyz"
    texts = [
        "PREFIX " + shared + " TAIL0",
        shared + " other words here",
        "completely different content",
    ]
    spans = duplicate_spans(
        _docs(spark, texts), min_len=20, max_len=64
    ).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_len"])
        )
    # the shared block is covered in both docs, nothing in doc 2
    assert 2 not in by_doc
    (s0,) = by_doc[0]
    (s1,) = by_doc[1]
    assert s0 == (7, 7 + 27, 27)
    assert s1 == (0, 27, 27)
    # spans are disjoint and sorted per doc by construction
    for doc, sp in by_doc.items():
        sp = sorted(sp)
        for (a1, b1, _), (a2, b2, _) in zip(sp, sp[1:]):
            assert b1 < a2


def test_direct_and_doubling_paths_agree(spark):
    # force each physical strategy; same logical result required
    docs = _docs(spark)
    direct = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(docs, max_len=32, direct_horizon=256).collect()
    }
    doubling = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(docs, max_len=32, direct_horizon=0).collect()
    }
    assert direct == doubling


def test_doubling_path_matches_reference(spark):
    # the asymptotic path stays covered now that small horizons
    # default to the direct sort
    sa = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(
            _docs(spark), max_len=16, direct_horizon=0
        ).collect()
    }
    assert sa == _ref_sa(TEXTS, 16)


# ---- span removal (the Lee et al. final step) ----

# Planted-repeat fixture: docs short enough to fit entirely inside the
# suffix horizon (no text slides into the window after removal), with a
# diverse alphabet so splicing kept segments cannot mint new >=20-char
# repeats. REP appears three times across two docs.
REP = "0123456789abcdefghijklmnop"  # 26 chars, once-only alphabet
CLEAN_TEXTS = [
    "AAA " + REP + " BBB",
    "CCC " + REP + " DDD " + REP,
    "totally unrelated text w/ no repeats at all",
]


def _py_remove(text, spans):
    kept, last = [], 0
    for s, e in sorted(spans):
        kept.append(text[last:s])
        last = e
    kept.append(text[last:])
    return "".join(kept)


def test_apply_span_removal_reconstruction(spark):
    """cleaned_text is exactly the original with the reported spans
    excised (pure-Python surgery over the operator's own span table),
    and n_chars_removed is their total length — on the real corpus."""
    from sandbox_data_pipeline_spark.operators.suffix import (
        apply_span_removal,
        duplicate_spans,
    )

    docs = _docs(spark, CLEAN_TEXTS)
    spans = duplicate_spans(docs, min_len=20, max_len=128)
    by_doc = {}
    for r in spans.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_chars_removed"])
        for r in apply_span_removal(docs, spans).collect()
    }
    assert set(got) == set(range(len(CLEAN_TEXTS)))  # every doc returned
    for d, text in enumerate(CLEAN_TEXTS):
        sp = by_doc.get(d, [])
        assert got[d][0] == _py_remove(text, sp)
        assert got[d][1] == sum(e - s for s, e in sp)


def test_full_removal_rerun_finds_nothing(spark):
    """Re-running detection on the fully-cleaned corpus finds no spans
    above threshold: every position of every >=min_len repeat was cut.
    (Holds when docs fit the horizon; on horizon-truncated corpora,
    post-removal text slides into the window — by design.)"""
    from sandbox_data_pipeline_spark.operators.suffix import (
        apply_span_removal,
        duplicate_spans,
    )

    docs = _docs(spark, CLEAN_TEXTS)
    spans = duplicate_spans(docs, min_len=20, max_len=128)
    assert spans.count() > 0  # the fixture really plants repeats
    cleaned = apply_span_removal(docs, spans).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    assert duplicate_spans(cleaned, min_len=20, max_len=128).count() == 0


def test_keep_first_keeps_exactly_one_copy(spark):
    """Keep-first marks all but the earliest (doc_id, pos) occurrence:
    the planted repeat survives exactly once across the corpus, and
    per-doc removal never exceeds the full-removal policy's."""
    from sandbox_data_pipeline_spark.operators.suffix import (
        apply_span_removal,
        canonical_duplicate_spans,
        duplicate_spans,
    )

    docs = _docs(spark, CLEAN_TEXTS)
    keep = apply_span_removal(
        docs, canonical_duplicate_spans(docs, min_len=20, max_len=128)
    ).collect()
    texts = {r["doc_id"]: r["cleaned_text"] for r in keep}
    assert sum(t.count(REP) for t in texts.values()) == 1
    assert REP in texts[0]  # doc 0 pos 4 is the earliest occurrence
    full = {
        r["doc_id"]: r["n_chars_removed"]
        for r in apply_span_removal(
            docs, duplicate_spans(docs, min_len=20, max_len=128)
        ).collect()
    }
    for r in keep:
        assert r["n_chars_removed"] <= full[r["doc_id"]]


def test_keep_first_survives_rank_permuted_runs(spark):
    """A run whose suffix-rank order permutes its (doc_id, pos) order:
    the shared 24-char block is followed by 'aa' in doc 1, 'mm' in
    doc 2, 'zz' in doc 0, so rank order is (doc1, doc2, doc0) while
    the earliest occurrence is doc 0. Pairwise-later marking alone
    leaves doc 0 AND doc 1 unmarked (two survivors); run grouping must
    keep exactly the (doc_id, pos) minimum — doc 0."""
    from sandbox_data_pipeline_spark.operators.suffix import (
        apply_span_removal,
        canonical_duplicate_spans,
    )

    block = "the shared repeated block"  # 25 chars >= min_len 20
    docs = _docs(
        spark,
        [block + " zz", block + " aa", block + " mm"],
    )
    cleaned = {
        r["doc_id"]: r["cleaned_text"]
        for r in apply_span_removal(
            docs, canonical_duplicate_spans(docs, min_len=20, max_len=128)
        ).collect()
    }
    assert sum(t.count(block) for t in cleaned.values()) == 1
    assert block in cleaned[0]  # the (doc_id, pos) minimum survives


@pytest.mark.slow
def test_span_local_solve_matches_distributed(
    spark, sf_dir, monkeypatch, local_caps
):
    """r12 capped local solve: the one-task span solver must produce
    the IDENTICAL span set to the distributed SA construction (forced
    via a zero "span_positions" cap), for both the plain and the keep-first
    (run-grouped) variants, on the real corpus AND on the
    rank-permuting fixture."""
    import sandbox_data_pipeline_spark.operators.suffix as SX
    from sandbox_data_pipeline_spark.catalog import table

    corpus = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    block = "the shared repeated block"
    fixture = _docs(spark, [block + " zz", block + " aa", block + " mm"])
    for docs in (corpus, fixture):
        for fn in (SX.duplicate_spans, SX.canonical_duplicate_spans):
            local = sorted(
                map(tuple, fn(docs, min_len=20, max_len=128).collect())
            )
            local_caps(span_positions=0)
            dist = sorted(
                map(tuple, fn(docs, min_len=20, max_len=128).collect())
            )
            monkeypatch.undo()
            assert local == dist
            assert local  # non-degenerate: real spans exist


@pytest.mark.slow
def test_repeats_local_solve_matches_distributed(
    spark, sf_dir, monkeypatch, local_caps
):
    """r12 capped local solve for repeated_substrings: the one-task
    top-k solver must equal the distributed SA construction (forced
    via a zero "span_positions" cap) ROW FOR ROW IN ORDER — (lcp desc,
    sa_rank) is the query's declared output order — on the real
    corpus subset and a known-repeat fixture."""
    import sandbox_data_pipeline_spark.operators.suffix as SX
    from sandbox_data_pipeline_spark.catalog import table

    corpus = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    block = "the shared repeated block that is long"
    fixture = _docs(spark, [block + " zz", block + " aa", block + " mm"])
    for docs in (corpus, fixture):
        local = [
            tuple(r)
            for r in SX.repeated_substrings(
                docs, min_lcp=20, top_k=50, max_len=128
            ).collect()
        ]
        local_caps(span_positions=0)
        dist = [
            tuple(r)
            for r in SX.repeated_substrings(
                docs, min_lcp=20, top_k=50, max_len=128
            ).collect()
        ]
        monkeypatch.undo()
        assert local == dist
        assert local  # non-degenerate: real repeats exist


def test_span_local_gate_rejects_non_ascii_and_nul(spark):
    """The local path's byte sort needs NUL-free ASCII; any other
    corpus must fall through to the distributed construction (the
    stats probe flags it). Both paths must still agree on such input
    via the distributed result."""
    import sandbox_data_pipeline_spark.operators.suffix as SX

    docs = _docs(spark, ["plain ascii text here that repeats " * 2, "café " * 10])
    n, ascii_ok = SX._span_local_stats(docs, "text", 128)
    assert n > 0 and not ascii_ok
    nul = _docs(spark, ["with\x00nul byte"])
    _, ok2 = SX._span_local_stats(nul, "text", 128)
    assert not ok2
