"""Dedup operator semantics on crafted corpora (planted duplicates)."""

from __future__ import annotations

import pytest

from sandbox_data_pipeline_spark.operators.dedup import (
    exact_dedup_keep,
    exact_dedup_stats,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_pairs,
    word_shingles,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
OTHER = "completely different content about spark query engines and columnar formats here"


def _docs(spark):
    rows = [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE), (4, "tiny doc")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles_count(spark):
    sh = word_shingles(_docs(spark), n=3)
    base_n = sh.where("doc_id = 0").count()
    assert base_n == len(BASE.split()) - 2  # all distinct here
    assert sh.where("doc_id = 4").count() == 0  # shorter than n


SHINGLE_TEXTS = [
    BASE,
    "double  spaced  words here",  # empty tokens between the spaces
    " leading space and more",
    "trailing space and more ",
    "one two three",  # exactly 3 tokens
    "one two three four five",  # exactly 5 tokens
    "one two",  # fewer than 3 tokens
    "straße café naïve 東京 日本語 テキスト",
    "a a a a a a",  # repeated shingles
]


@pytest.mark.parametrize("distinct", [True, False])
@pytest.mark.parametrize("n", [1, 3, 5])
def test_word_shingles_match_python_reference(spark, n, distinct):
    docs = spark.createDataFrame(list(enumerate(SHINGLE_TEXTS)), "doc_id long, text string")
    got = [tuple(r) for r in word_shingles(docs, n=n, distinct=distinct).collect()]
    want = []
    for doc_id, text in enumerate(SHINGLE_TEXTS):
        t = text.split(" ")
        want += [(doc_id, " ".join(t[i : i + n])) for i in range(len(t) - n + 1)]
    if distinct:
        assert sorted(got) == sorted(set(want))
    else:
        assert got == want  # same shingles in document and position order


def test_exact_dedup(spark):
    stats = exact_dedup_stats(_docs(spark)).first()
    assert stats.n_docs == 5
    assert stats.n_distinct_texts == 4
    assert stats.n_dup_docs == 1
    keep = {r.keep_id for r in exact_dedup_keep(_docs(spark)).collect()}
    assert keep == {0, 1, 2, 4}  # doc 3 deduped into doc 0's group


def test_ngram_jaccard_finds_planted_near_dup(spark):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in
             ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0  # near dup
    assert (1, 3) in pairs
    assert not any(2 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_agrees_with_planted_dups(spark):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in
             minhash_candidate_pairs(_docs(spark), k=16, bands=4, n=3, threshold=0.5).collect()}
    assert pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs  # near dup caught by banding
    assert not any(2 in p for p in pairs)


def test_simhash_hamming_ordering(spark):
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(_docs(spark)).collect()}
    assert fps[0] == fps[3]  # identical text -> identical fingerprint
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fps[0], fps[1]) < ham(fps[0], fps[2])  # near < far
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             simhash_pairs(_docs(spark), max_hamming=3).collect()}
    assert pairs[(0, 3)] == 0


def test_ngram_df_cap_guard_engages_on_hot_shingle(spark):
    """Scale guard: a shingle shared by every doc (boilerplate) must be
    dropped by df_cap before the self-join — without it the join is
    O(n_docs²) on that key alone."""
    boiler = "copyright acme corp all"
    rows = [(i, f"{boiler} unique{i} filler{i} tail{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the hot shingle's df: no doc pair shares anything else,
    # so the guarded join yields ZERO pairs
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.01, df_cap=10).count() == 0
    # unguarded: the hot shingles alone produce all-pairs collisions
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.01, df_cap=None).count() == 30 * 29 // 2


@pytest.mark.slow
def test_duplicate_clusters_long_chain_pointer_jumping(spark, local_caps):
    """A 40-node path resolves exactly through every r12 path: the
    single-task local solve (default cap), the contraction+fallback
    route (a "cc_edges" cap of 1 keeps the 40-edge chain above it — a
    connected n-node component never contracts below n-1 star edges),
    and the fallback loop's convergence guard still raises on a
    too-small max_iter instead of silently returning split clusters."""
    import pytest

    from sandbox_data_pipeline_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    got = {
        r.doc_id: r.cluster_id
        for r in duplicate_clusters(chain, max_iter=10, stats=stats).collect()
    }
    assert set(got.values()) == {0} and len(got) == 41
    assert stats["n_nodes"] == 41
    local_caps(cc_edges=1)
    got_fb = {
        r.doc_id: r.cluster_id
        for r in duplicate_clusters(chain, max_iter=10).collect()
    }
    assert got_fb == got
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iter=1)


@pytest.mark.slow
def test_duplicate_clusters_chain_and_canonical(spark):
    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
        keep_canonical,
    )

    # chain 1-2-3 (transitive), isolated pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in keep_canonical(docs, duplicate_clusters(pairs)).collect())
    assert kept == [1, 10, 99]  # cluster minima + the unpaired doc


def test_decontaminate_flags_overlap(spark):
    from sandbox_data_pipeline_spark.operators.dedup import decontaminate

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    ev = mk([(100, "alpha beta gamma delta epsilon zeta")])
    corpus = mk([
        (1, "alpha beta gamma delta epsilon unrelated tail"),  # shares 2 5-grams? no: 1
        (2, "completely different words with no overlap at all"),
        (3, "prefix alpha beta gamma delta epsilon zeta suffix"),  # shares 2
    ])
    got = {r.doc_id: r for r in decontaminate(corpus, ev, n=5).collect()}
    assert set(got) == {1, 3}
    assert got[1].n_shared_shingles == 1 and got[1].n_eval_docs == 1
    assert got[3].n_shared_shingles == 2 and got[3].n_eval_docs == 1


def test_passages_chunking_and_trailing_partial(spark):
    from sandbox_data_pipeline_spark.operators.dedup import passages

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, "a b c")], ["doc_id", "text"]
    )
    p = passages(docs, window=3).orderBy("doc_id", "passage_idx").collect()
    # doc 1: [a b c] [d e] — trailing partial kept; doc 2 (empty) drops out
    assert [(r["doc_id"], r["passage_idx"], r["passage_tokens"]) for r in p] == [
        (1, 0, 3),
        (1, 1, 2),
        (3, 0, 3),
    ]
    # identical 3-token spans fingerprint identically across docs
    assert p[0]["passage_fp"] == p[2]["passage_fp"]


def test_passage_dup_ratio_counts_cross_doc_spans(spark):
    from sandbox_data_pipeline_spark.operators.dedup import passage_dup_ratio

    docs = spark.createDataFrame(
        [(1, "x y z p q r"), (2, "x y z a b c"), (3, "u v w")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_passages"], r["n_dup_passages"], r["dup_ratio"])
        for r in passage_dup_ratio(docs, window=3).collect()
    }
    assert got == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (1, 0, 0.0)}


def test_incremental_dedup_verdicts(spark):
    from sandbox_data_pipeline_spark.operators.dedup import incremental_dedup

    base_a = " ".join(f"alpha{i}" for i in range(30))
    base_b = " ".join(f"beta{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [
            (1, base_a),
            (2, "completely unrelated corpus document about gardening tips"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 1
            (10, base_a),
            # near-dup of corpus doc 1 (last word changed)
            (11, base_a.rsplit(" ", 1)[0] + " changed"),
            # novel doc
            (12, base_b),
            # exact copy of batch doc 12 (higher id loses)
            (13, base_b),
            # near-dup of batch doc 12 (last word changed)
            (14, base_b.rsplit(" ", 1)[0] + " changed"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.verdict
        for r in incremental_dedup(batch, corpus, threshold=0.3).collect()
    }
    assert got == {
        10: "exact_corpus",
        11: "near_corpus",
        12: "admitted",
        13: "exact_batch",
        14: "near_batch",
    }


def test_containment_asymmetric_quote_inclusion(spark):
    from sandbox_data_pipeline_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = "intro words here " + short + " trailing filler tokens beyond"
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words everywhere now")],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r for r in containment_pairs(docs, n=3, threshold=0.5).collect()}
    assert (1, 2) in got and len(got) == 1
    pair = got[(1, 2)]
    # every 3-shingle of the short doc appears in the long one
    assert pair.cont_a_in_b == 1.0
    # but the long doc is NOT contained in the short one
    assert pair.cont_b_in_a < 1.0
    # ...and symmetric jaccard would have diluted this pair
    assert pair.common / (4 + pair.common) < 0.8


def test_leakage_safe_split_keeps_near_dups_together(spark):
    from sandbox_data_pipeline_spark.queries.dedup import (
        q_dedup_minhash_pairs,
        q_leakage_safe_split,
    )

    sf = "/root/testdata/sf0.001"
    split = {r.doc_id: r.split for r in q_leakage_safe_split(spark, sf).collect()}
    pairs = q_dedup_minhash_pairs(spark, sf).collect()
    assert pairs, "fixture corpus must contain near-dup pairs"
    for p in pairs:
        assert split[p.doc_a] == split[p.doc_b], (p.doc_a, p.doc_b)
    # the split is a partition of the corpus with a dominant train share
    from collections import Counter

    c = Counter(split.values())
    assert sum(c.values()) == len(split) and c["train"] > c["val"] + c["test"]


def test_duplicated_substring_spans_geometry(spark):
    """Known geometry: a 40-char block shared by two docs must surface
    as exactly one maximal span of length 40 in EACH doc, at its true
    offset; a unique doc yields nothing; in-doc repetition is caught
    corpus-wide (occurrence count, not distinct-doc count)."""
    import random
    import string

    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicated_substring_spans,
    )

    rng = random.Random(7)

    def rand(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    shared = "THE-QUICK-BROWN-FOX-JUMPS-OVER-LAZY-DOGS"  # 40 chars
    assert len(shared) == 40
    d1 = rand(20) + shared + rand(25)          # span at 21..60
    d2 = rand(50) + shared + rand(10)          # span at 51..90
    d3 = rand(80)                              # no duplication
    d4 = shared + rand(40) + shared            # self-repetition
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in duplicated_substring_spans(docs, gram_len=32).collect()
    }
    assert (1, 21, 60, 40) in got
    assert (2, 51, 90, 40) in got
    assert (4, 1, 40, 40) in got and (4, 81, 120, 40) in got
    assert not any(d == 3 for d, *_ in got)
    assert len(got) == 4


def test_prefix_filtered_jaccard_is_complete(spark, sf_dir):
    """The prefix-filter theorem in practice: the PPJoin-style plan
    (candidates from rarest-prefix collisions only) must emit EXACTLY
    the pairs the unfiltered shingle self-join finds — same pairs,
    same jaccard values."""
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard,
    )

    docs = table(spark, sf_dir, "documents")
    t, n = 0.5, 4
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filtered_jaccard(docs, threshold=t, n=n).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=n, threshold=t, df_cap=None).collect()
    }
    assert fast == full
    assert len(fast) > 0  # the fixture corpus has planted near-dups


@pytest.mark.slow
def test_fuzzy_match_pairs(spark):
    """Blocked Levenshtein matching vs an independent pure-Python DP,
    plus the hot-block cap guard semantics."""
    from sandbox_data_pipeline_spark.operators.dedup import fuzzy_match_pairs

    rows = [
        # one block (same lang + 8-char prefix), small edits
        (1, "alpha be yond the river bank today", "en"),
        (2, "alpha be yond the river bank totay", "en"),  # 1 sub
        (3, "alpha be completely different text here", "en"),
        # different prefix -> different block, never compared
        (4, "omega be yond the river bank today", "en"),
        # same prefix, different lang -> different block
        (5, "alpha be yond the river bank today", "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in fuzzy_match_pairs(df, prefix=8, body=96, max_dist=10).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    body = {r[0]: r[1][8 : 8 + 96] for r in rows}
    assert (1, 2) in got and got[(1, 2)] == lev(body[1], body[2]) == 1
    assert (1, 3) not in got and (2, 3) not in got  # above max_dist
    assert all(4 not in p and 5 not in p for p in got)

    # cap guard: a block larger than block_cap produces nothing
    many = spark.createDataFrame(
        [(i, "alpha be yond the river bank today", "en") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    assert fuzzy_match_pairs(many, block_cap=5).count() == 0
    assert fuzzy_match_pairs(many, block_cap=50).count() == 45
