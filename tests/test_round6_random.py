"""Randomized batch-proofs for BPE token counts, fuzzy matching and
integer moments: one Spark job over hundreds of seeded-random inputs
per operator, checked against independent pure-Python implementations.
A failure here means the operator breaks on inputs the graded parquet
merely happens not to contain yet."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _bpe_counts(text: str, merges: list[tuple[str, str]]) -> tuple[int, int]:
    n_tok = 0
    for w in text.split(" "):
        if not w:
            continue
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        n_tok += len(syms)
    return n_tok, len(text.replace(" ", ""))


def test_bpe_token_counts_random_batch(spark):
    """bpe_token_counts vs pure-Python BPE over 300 random texts and a
    random (but valid: outputs buildable left-to-right) merge list,
    including adjacent-pair runs (the aa/aaa parity case)."""
    from sandbox_data_pipeline_spark.operators.bpe import bpe_token_counts

    rng = random.Random(61)
    alpha = "abcde"
    merges = [("a", "a"), ("a", "b"), ("aa", "b"), ("c", "d"), ("cd", "e")]
    rows = []
    for i in range(300):
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9)))
            for _ in range(rng.randint(0, 8))
        ]
        # salt in pathological runs
        if i % 7 == 0:
            words.append("a" * rng.randint(1, 9))
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["n_chr"])
        for r in bpe_token_counts(df, merges).select("doc_id", "n_tok", "n_chr").collect()
    }
    for did, text in rows:
        assert got[did] == _bpe_counts(text, merges), (did, text)


def test_fuzzy_match_random_batch(spark):
    """fuzzy_match_pairs vs pure-Python Levenshtein over random near-
    duplicate families sharing a blocking prefix."""
    from sandbox_data_pipeline_spark.operators.dedup import fuzzy_match_pairs

    rng = random.Random(17)
    rows = []
    did = 0
    originals = {}
    for fam in range(30):
        prefix = "".join(rng.choice(string.ascii_lowercase) for _ in range(8))
        body = "".join(rng.choice("abcdef ") for _ in range(40))
        for variant in range(rng.randint(1, 4)):
            b = list(body)
            for _ in range(rng.randint(0, 6)):  # a few random edits
                pos = rng.randrange(len(b))
                b[pos] = rng.choice("abcdef ")
            text = prefix + "".join(b)
            rows.append((did, text, "en"))
            originals[did] = text
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in fuzzy_match_pairs(df, prefix=8, body=96, max_dist=5).collect()
    }
    # exhaustively recompute expectation
    want = {}
    for i, ti, _ in rows:
        for j, tj, _ in rows:
            if i < j and ti[:8] == tj[:8]:
                d = _lev(ti[8 : 8 + 96], tj[8 : 8 + 96])
                if d <= 5:
                    want[(i, j)] = d
    assert got == want


def test_integer_moments_random_batch(spark):
    """integer_moments over random int64 columns incl. negatives."""
    from sandbox_data_pipeline_spark.operators.linalg import integer_moments

    rng = random.Random(29)
    rows = [
        (rng.randint(-10**6, 10**6), rng.randint(-10**6, 10**6))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "a long, b long").repartition(5)
    got = {
        (r["i"], r["j"]): int(r["s"]) for r in integer_moments(df, ["a", "b"]).collect()
    }
    a = [r[0] for r in rows]
    b = [r[1] for r in rows]
    assert got[(0, 0)] == 500
    assert got[(0, 1)] == sum(a) and got[(0, 2)] == sum(b)
    assert got[(1, 1)] == sum(x * x for x in a)
    assert got[(1, 2)] == sum(x * y for x, y in rows)
    assert got[(2, 2)] == sum(y * y for y in b)
