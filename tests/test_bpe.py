"""Distributed BPE trainer vs a from-scratch pure-Python reference
implementation (classic Sennrich merge loop), plus segmentation laws."""

from __future__ import annotations

from collections import Counter

from sandbox_data_pipeline_spark.operators.bpe import bpe_merges, bpe_segment


# --- pure-Python reference (independent of the Spark code paths) -----------

def _ref_pairs(symseqs: dict[tuple[str, ...], int]) -> Counter:
    c: Counter = Counter()
    for sym, cnt in symseqs.items():
        for i in range(len(sym) - 1):
            c[(sym[i], sym[i + 1])] += cnt
    return c


def _ref_apply(sym: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def ref_bpe(texts: list[str], n_merges: int, min_count: int = 2):
    words = Counter(w for t in texts for w in t.split(" ") if w)
    symseqs = {tuple(w): c for w, c in words.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = _ref_pairs(symseqs)
        eligible = [(c, p) for p, c in pairs.items() if c >= min_count]
        if not eligible:
            break
        # argmax: count desc, pair lexicographic asc — the engine's tiebreak
        c, (a, b) = sorted(eligible, key=lambda x: (-x[0], x[1]))[0]
        merges.append((rank, a, b, c))
        # applying a merge can make two distinct sequences collide; re-sum
        nxt: Counter = Counter()
        for s, cnt in symseqs.items():
            nxt[_ref_apply(s, a, b)] += cnt
        symseqs = dict(nxt)
    return merges


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_bpe_matches_pure_python_reference(spark):
    texts = [
        "low low lower lowest",
        "new newer newest low",
        "aaaa aaa banana bandana",
        "the the the then than",
    ]
    expect = ref_bpe(texts, 8)
    got = [
        (r.merge_rank, r.sym_a, r.sym_b, r.pair_count)
        for r in bpe_merges(_docs(spark, texts), n_merges=8)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expect


def test_bpe_stops_when_no_pair_repeats(spark):
    # every word unique, every char pair unique → zero merges possible
    got = bpe_merges(_docs(spark, ["ab cd ef"]), n_merges=4).collect()
    assert got == []


def test_segmentation_applies_merges_in_rank_order(spark):
    df = _docs(spark, ["low lower", "aaaa aaa"])
    merges = [
        (r.sym_a, r.sym_b)
        for r in bpe_merges(df, n_merges=4).orderBy("merge_rank").collect()
    ]
    seg = {r.doc_id: list(r.bpe_tokens) for r in bpe_segment(df, merges).collect()}
    # reference segmentation with the same merges
    for i, text in enumerate(["low lower", "aaaa aaa"]):
        ref = []
        for w in text.split(" "):
            s = tuple(w)
            for a, b in merges:
                s = _ref_apply(s, a, b)
            ref.extend(s)
        assert seg[i] == ref
    # segmentation is a pure reconstruction: concatenating tokens
    # recovers the original characters
    for i, text in enumerate(["low lower", "aaaa aaa"]):
        assert "".join(seg[i]) == text.replace(" ", "")


def test_bpe_encode_matches_pure_python(spark):
    """q_bpe_encode's per-lang token sums vs an independent pure-Python
    BPE (greedy leftmost one pass per merge, rank order) on the same
    parquet — guards the operator semantics beyond the SQL oracle."""
    import pandas as pd

    from sandbox_data_pipeline_spark.queries.text import BPE_MERGES, q_bpe_encode

    sf = "/root/testdata/sf0.001"

    def encode(word: str) -> list[str]:
        syms = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    pdf = pd.read_parquet(f"{sf}/documents.parquet")
    want: dict[str, list[int]] = {}
    for lang, text in zip(pdf["lang"], pdf["text"]):
        n_tok = sum(len(encode(w)) for w in text.split(" ") if w)
        n_chr = len(text.replace(" ", ""))
        acc = want.setdefault(lang, [0, 0, 0])
        acc[0] += 1
        acc[1] += n_tok
        acc[2] += n_chr

    got = {r["lang"]: r for r in q_bpe_encode(spark, sf).collect()}
    assert set(got) == set(want)
    for lang, (n_docs, n_tokens, n_chars) in want.items():
        r = got[lang]
        assert (r["n_docs"], r["n_tokens"], r["n_chars"]) == (
            n_docs, n_tokens, n_chars,
        ), lang
        assert float(r["fertility"]) > 0


def test_local_and_distributed_learners_agree(spark, sf_dir, local_caps):
    """bpe_merges has two execution paths — driver-side learning on the
    collected vocab (default, vocab fits) and the fully distributed
    per-round loop (a zero "bpe_vocab" cap forces it). Same corpus, same
    merge table, byte for byte."""
    from sandbox_data_pipeline_spark.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    local = bpe_merges(docs, n_merges=5).collect()
    local_caps(bpe_vocab=0)
    dist = bpe_merges(docs, n_merges=5).collect()
    as_tuples = lambda rows: [
        (r["merge_rank"], r["sym_a"], r["sym_b"], r["pair_count"]) for r in rows
    ]
    assert as_tuples(local) == as_tuples(dist)
    assert len(local) == 5


def test_pandas_segmentation_matches_expr_chain(spark, sf_dir):
    """impl='pandas' (iterative lowest-rank encode, the k≈50k
    production knob) must produce the identical segmentation to the
    literal expression chain on a LEARNED merge table — the case where
    the two procedures are provably equivalent."""
    from sandbox_data_pipeline_spark.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    merges = [
        (r["sym_a"], r["sym_b"])
        for r in bpe_merges(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    assert merges
    a = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in bpe_segment(docs, merges, impl="expr").collect()
    }
    b = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in bpe_segment(docs, merges, impl="pandas").collect()
    }
    assert a == b
    assert len(a) == 50
