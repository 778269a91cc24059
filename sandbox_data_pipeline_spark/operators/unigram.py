"""Unigram-LM tokenizer (the SentencePiece family) — the second of
the two real-world subword algorithms, completing the tokenizer story
next to operators/bpe.py.

Two halves, mirroring the BPE architecture:

* TRAINING (``train_unigram`` / ``unigram_train_from_docs``) follows
  what production unigram trainers actually do: the corpus reduces
  distributively to a bounded ``(word, count)`` vocabulary (one
  groupBy — the identical shape bpe.py proved), and the EM loop runs
  driver-side over that bounded table. Hard-EM (Viterbi counts, not
  forward–backward expectations) — stated, not hidden: it converges to
  the same pruned vocabularies on the corpora this repo targets and
  keeps every step exactly replayable in tests. Determinism: all ties
  break lexicographically; probabilities are plain floats but every
  comparison that AFFECTS the vocabulary is on counts (ints) or on
  identical float expressions.

* ENCODING is Viterbi segmentation under piece COSTS (−log p, lower =
  better). ``viterbi_cost`` builds the whole DP as ONE JVM-side
  higher-order ``aggregate`` over the character positions (the
  apply_span_removal discipline — no Python UDF, no explode):
  acc[k+1] = best (cost, n_pieces) for the k-char prefix, each step a
  ≤max_piece-way arm comparison with (cost, then fewer pieces) as the
  deterministic tie-break. ``unigram_encode`` additionally returns the
  winning PIECES via the same DP in an Arrow-batched mapInPandas (the
  piece array is inherently row-varying — the multimodal-codec
  pattern), with the pandas and JVM paths pinned equal in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNK_COST = 20.0  # single unknown character (binary-exact literal)
INF = 1e9


# --- pure-Python reference + trainer (driver-side, bounded input) ----------


def viterbi_py(
    text: str, costs: dict[str, float], max_piece: int = 3
) -> tuple[float, list[str]]:
    """Reference Viterbi: min-total-cost segmentation; ties prefer
    fewer pieces (then the LONGEST first piece, which the fewer-pieces
    rule already implies at equal cost for our cost tables)."""
    n = len(text)
    best: list[tuple[float, int]] = [(0.0, 0)] + [(INF, 0)] * n
    back: list[int] = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(1, min(max_piece, i) + 1):
            piece = text[i - j : i]
            c = costs.get(piece, UNK_COST if j == 1 else INF)
            cand = (best[i - j][0] + c, best[i - j][1] + 1)
            if cand < best[i]:
                best[i] = cand
                back[i] = j
    pieces: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(text[i - j : i])
        i -= j
    return best[n][0], pieces[::-1]


def train_unigram(
    word_counts: list[tuple[str, int]],
    vocab_size: int = 64,
    iterations: int = 3,
    max_piece: int = 3,
) -> dict[str, float]:
    """Hard-EM unigram training over a bounded (word, count) table:
    seed = every substring up to ``max_piece`` chars weighted by
    occurrence count; each round re-segments every word under current
    costs and re-estimates piece probabilities from the Viterbi
    counts; prune to ``vocab_size`` by count (single chars always
    kept — coverage must never break). Returns piece → cost (−ln p).
    Deterministic: count ties break lexicographically."""
    import math

    seed: dict[str, int] = {}
    for w, c in word_counts:
        for i in range(len(w)):
            for j in range(1, min(max_piece, len(w) - i) + 1):
                p = w[i : i + j]
                seed[p] = seed.get(p, 0) + c
    total = sum(seed.values()) or 1
    costs = {p: -math.log(c / total) for p, c in seed.items()}
    chars = {p for p in seed if len(p) == 1}
    for _ in range(iterations):
        counts: dict[str, int] = {}
        for w, c in word_counts:
            _, pieces = viterbi_py(w, costs, max_piece)
            for p in pieces:
                counts[p] = counts.get(p, 0) + c
        # prune: top vocab_size by (count desc, piece asc); chars stay
        keep = set(chars)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for p, _ in ranked:
            if len(keep) >= max(vocab_size, len(chars)):
                break
            keep.add(p)
        tot = sum(c for p, c in counts.items() if p in keep) or 1
        costs = {
            p: -math.log(counts.get(p, 1) / (tot + len(chars)))
            for p in keep
        }
    return costs


def unigram_train_from_docs(
    docs: DataFrame,
    vocab_size: int = 64,
    iterations: int = 3,
    max_piece: int = 3,
    text_col: str = "text",
    max_types: int = 1_000_000,
) -> dict[str, float]:
    """Distributed reduction to the bounded (word, count) vocabulary
    (ONE groupBy over the corpus — the bpe.py shape), then the driver
    EM. Refuses corpora whose word-type count exceeds ``max_types``
    (the same loud guard bpe.py carries; at that point shard the
    trainer, don't silently sample)."""
    wc = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.col(text_col), " "), lambda t: t != F.lit("")
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_types = wc.count()
    if n_types > max_types:
        raise ValueError(
            f"unigram_train_from_docs: {n_types} word types exceeds the "
            f"{max_types} driver bound — shard the trainer"
        )
    rows = sorted((r["w"], r["c"]) for r in wc.collect())
    return train_unigram(
        rows, vocab_size=vocab_size, iterations=iterations, max_piece=max_piece
    )


# --- JVM-side Viterbi cost (whole DP in one higher-order aggregate) ---------


def viterbi_cost(
    text_col: str, costs: dict[str, float], max_piece: int = 3
) -> Column:
    """struct(c, n): minimal segmentation cost and its piece count for
    ``text_col`` under the piece-cost table, as ONE codegen expression:
    aggregate over positions 1..len carrying a SLIDING DP window of
    the last ``max_piece`` prefix-bests — constant work and constant
    allocation per character (an append-only DP array would copy
    O(len) structs per step, measured 56 s → ~2 s at sf0.1 on this
    corpus). Unknown single chars cost UNK_COST; unknown longer arms
    are pruned. Tie-break: lower cost, then fewer pieces — evaluated
    on identical operands in any engine."""
    text = F.col(text_col)
    by_len: dict[int, dict[str, float]] = {}
    for p, c in costs.items():
        by_len.setdefault(len(p), {})[p] = c
    maps = {
        j: F.create_map(
            *[
                x
                for p, c in sorted(by_len.get(j, {}).items())
                for x in (F.lit(p), F.lit(float(c)))
            ]
        )
        if by_len.get(j)
        else None
        for j in range(1, max_piece + 1)
    }

    W = max_piece  # window slots: acc[k] = best for prefix (i - W + k)

    def step(acc: Column, i: Column) -> Column:
        best = None
        for j in range(1, max_piece + 1):
            piece = text.substr(i - F.lit(j - 1), F.lit(j))
            m = maps[j]
            looked = (
                F.element_at(m, piece) if m is not None else F.lit(None)
            )
            cost = (
                F.coalesce(looked, F.lit(UNK_COST))
                if j == 1
                else F.coalesce(looked, F.lit(INF))
            )
            # prefix i-j lives at window slot W - j + 1 (1-indexed)
            prev = F.element_at(acc, W - j + 1)
            arm = F.when(
                i >= F.lit(j),
                F.struct(
                    (prev["c"] + cost).alias("c"),
                    (prev["n"] + F.lit(1)).alias("n"),
                ),
            )
            if best is None:
                best = arm
            else:
                better = arm.isNotNull() & (
                    best.isNull()
                    | (arm["c"] < best["c"])
                    | ((arm["c"] == best["c"]) & (arm["n"] < best["n"]))
                )
                best = F.when(better, arm).otherwise(best)
        return F.array(
            *[F.element_at(acc, k) for k in range(2, W + 1)], best
        )

    pad = F.struct(F.lit(INF).alias("c"), F.lit(0).alias("n"))
    init = F.array(
        *([pad] * (W - 1)),
        F.struct(F.lit(0.0).alias("c"), F.lit(0).alias("n")),
    )
    # Spark's sequence(1, 0) auto-steps -1 and yields [1, 0], so an
    # empty text would run bogus DP steps and return NULL — guard to
    # the (0 cost, 0 pieces) base case the python twin returns.
    return F.when(
        F.length(text) == 0,
        F.struct(F.lit(0.0).alias("c"), F.lit(0).alias("n")),
    ).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), F.length(text)),
            init,
            step,
            lambda acc: F.element_at(acc, -1),
        )
    )


def unigram_encode(
    docs: DataFrame,
    costs: dict[str, float],
    max_piece: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pieces array<string>, n_pieces, cost): full Viterbi
    segmentation via Arrow-batched mapInPandas with the cost table
    broadcast in the closure — the multimodal-codec pattern for
    row-varying array outputs. The JVM viterbi_cost twin is pinned
    equal (cost and count) in tests."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("pieces", T.ArrayType(T.StringType())),
            T.StructField("n_pieces", T.IntegerType()),
            T.StructField("cost", T.DoubleType()),
        ]
    )
    frozen = dict(costs)

    def run(batches):
        import pandas as pd

        from sandbox_data_pipeline_spark.operators.linalg import (
            coalesce_batches,
        )

        # session Arrow batches are payload-sized (512 rows, for the
        # media expansion path); the DP input is thin text, so buffer
        # back up to DP-sized batches
        for pdf in coalesce_batches(batches):
            out = []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                c, pieces = viterbi_py(txt or "", frozen, max_piece)
                out.append((did, pieces, len(pieces), c if txt else 0.0))
            yield pd.DataFrame(
                out, columns=["doc_id", "pieces", "n_pieces", "cost"]
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)


# One batch's dense-codepoint budget: the fast path pads every text of
# the batch to the batch max length (n x L uint32 matrix + one float64
# arm-cost matrix per piece length), so a batch mixing 100-char and
# 1M-char rows would waste padded cells. 16M cells keeps the matrices
# under ~0.5 GB; above it the original pandas-slice path runs unchanged
# (identical arithmetic — both are pinned to viterbi_py in tests).
# Not in operators/local_solve.LOCAL_CAPS: it is read inside the Python
# worker, where a driver-side table cannot reach it, and it picks a
# batch kernel, not local versus distributed.
VITERBI_DENSE_CELL_CAP = 16_000_000


def viterbi_batch(texts, costs: dict[str, float], max_piece: int = 3):
    """Vectorized batch Viterbi: the DP runs position-by-position but
    VECTORIZED ACROSS the documents of an Arrow batch — the
    batch-decoder shape production tokenizers use. Returns (cost
    ndarray, n_pieces ndarray) aligned with ``texts``.

    r12 fast path: the per-position pandas ``str.slice`` + python-dict
    ``map`` (an object allocation per row per position per arm — the
    measured residual of q_unigram_segment_cost) is replaced by a
    padded codepoint MATRIX and one vectorized lookup per arm length:
    pieces pack into int64 keys (21 bits/codepoint, collision-free for
    any unicode), found via searchsorted against the sorted vocab
    codes. Pad codepoint 0 never matches a key, so rows shorter than
    the batch max take the same UNK/INF defaults the slice path takes
    on short/empty slices. The COST VALUES, addition order, and
    (cost, fewer-pieces) tie-break are untouched — outputs are
    bit-identical to the pandas path and to viterbi_py (pinned in
    tests). Batches whose padded matrix exceeds
    VITERBI_DENSE_CELL_CAP fall back to the pandas path."""
    import numpy as np
    import pandas as pd

    s = pd.Series(list(texts), dtype="object").fillna("")
    n = len(s)
    lens = s.str.len().to_numpy(dtype=np.int64)
    L = int(lens.max()) if n else 0
    out_c = np.zeros(n)
    out_n = np.zeros(n, dtype=np.int64)
    if n == 0 or L == 0:
        return out_c, out_n
    # The packed int64 key holds 21 bits per codepoint, so only pieces
    # up to 3 codepoints fit (3*21=63). max_piece > 3 would overflow
    # the key build (r12 ADVICE) — route it to the pandas path, whose
    # string slices have no length limit.
    if n * L > VITERBI_DENSE_CELL_CAP or max_piece > 3:
        return _viterbi_batch_pandas(s, lens, L, costs, max_piece)
    # n x L codepoint matrix, zero-padded past each row's end
    mat = (
        np.asarray(s.to_numpy(), dtype=f"U{L}")
        .view(np.uint32)
        .reshape(n, L)
        .astype(np.int64)
    )
    # per-arm-length sorted (packed code, cost) lookup tables
    by_len: dict[int, list[tuple[int, float]]] = {}
    for p, c in costs.items():
        # A NaN cost must be a MISS (the pandas path's dict-map -> isnan
        # -> UNK/INF default); the searchsorted lookup would instead
        # propagate the NaN through every comparison (r12 ADVICE).
        if c != c:
            continue
        code = 0
        for ch in p:
            code = (code << 21) | ord(ch)
        by_len.setdefault(len(p), []).append((code, float(c)))
    # arm-cost matrix per piece length j: cost of text[i-j:i] at column
    # i-j, misses -> the slice path's defaults (UNK for j=1, INF else)
    arm_cost: dict[int, np.ndarray] = {}
    for j in range(1, max_piece + 1):
        if L - j + 1 <= 0:
            continue
        codes = mat[:, : L - j + 1].copy()
        for k in range(1, j):
            codes = (codes << 21) | mat[:, k : L - j + 1 + k]
        default = UNK_COST if j == 1 else INF
        items = sorted(by_len.get(j, []))
        if items:
            keys = np.array([k for k, _ in items], dtype=np.int64)
            vals = np.array([v for _, v in items])
            idx = np.searchsorted(keys, codes)
            idx_c = np.minimum(idx, len(keys) - 1)
            hit = keys[idx_c] == codes
            cost_mat = np.where(hit, vals[idx_c], default)
        else:
            cost_mat = np.full(codes.shape, default)
        # transposed (position-major): the DP loop reads one POSITION
        # column per arm per step — row-major storage would stride that
        # read across the whole matrix (measured 2.4 s -> 0.9 s)
        arm_cost[j] = np.ascontiguousarray(cost_mat.T)
    # ring[j-1] = best (c, n) for prefix i-j, updated as i advances
    ring_c = [np.full(n, INF) for _ in range(max_piece)]
    ring_n = [np.zeros(n, dtype=np.int64) for _ in range(max_piece)]
    ring_c[0] = np.zeros(n)  # best[0] = (0, 0)
    for i in range(1, L + 1):
        best_c = np.full(n, INF)
        best_n = np.zeros(n, dtype=np.int64)
        for j in range(1, min(max_piece, i) + 1):
            cand_c = ring_c[j - 1] + arm_cost[j][i - j]
            cand_n = ring_n[j - 1] + 1
            take = (cand_c < best_c) | ((cand_c == best_c) & (cand_n < best_n))
            best_c = np.where(take, cand_c, best_c)
            best_n = np.where(take, cand_n, best_n)
        # rotate the ring: prefix i becomes ring[0] (i.e. i-j for j=1)
        for j in range(max_piece - 1, 0, -1):
            ring_c[j] = ring_c[j - 1]
            ring_n[j] = ring_n[j - 1]
        ring_c[0] = best_c
        ring_n[0] = best_n
        done = lens == i
        if done.any():
            out_c[done] = best_c[done]
            out_n[done] = best_n[done]
    return out_c, out_n


def _viterbi_batch_pandas(s, lens, L, costs: dict[str, float], max_piece: int):
    """The pre-r12 pandas-slice batch DP — kept as the above-cap
    fallback (no padded matrix; memory tracks the strings themselves).
    Arithmetic is identical to the dense path by construction."""
    import numpy as np

    n = len(s)
    by_len: dict[int, dict[str, float]] = {}
    for p, c in costs.items():
        by_len.setdefault(len(p), {})[p] = float(c)
    out_c = np.zeros(n)
    out_n = np.zeros(n, dtype=np.int64)
    ring_c = [np.full(n, INF) for _ in range(max_piece)]
    ring_n = [np.zeros(n, dtype=np.int64) for _ in range(max_piece)]
    ring_c[0] = np.zeros(n)  # best[0] = (0, 0)
    for i in range(1, L + 1):
        best_c = np.full(n, INF)
        best_n = np.zeros(n, dtype=np.int64)
        for j in range(1, min(max_piece, i) + 1):
            table = by_len.get(j)
            pieces = s.str.slice(i - j, i)
            if table:
                looked = pieces.map(table).to_numpy(dtype=float, na_value=np.nan)
            else:
                looked = np.full(n, np.nan)
            default = UNK_COST if j == 1 else INF
            cost = np.where(np.isnan(looked), default, looked)
            cand_c = ring_c[j - 1] + cost
            cand_n = ring_n[j - 1] + 1
            take = (cand_c < best_c) | ((cand_c == best_c) & (cand_n < best_n))
            best_c = np.where(take, cand_c, best_c)
            best_n = np.where(take, cand_n, best_n)
        for j in range(max_piece - 1, 0, -1):
            ring_c[j] = ring_c[j - 1]
            ring_n[j] = ring_n[j - 1]
        ring_c[0] = best_c
        ring_n[0] = best_n
        done = lens == i
        if done.any():
            out_c[done] = best_c[done]
            out_n[done] = best_n[done]
    return out_c, out_n


def viterbi_cost_df(
    docs: DataFrame,
    costs: dict[str, float],
    max_piece: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_chars, seg_cost, n_pieces) via the vectorized batch
    DP over Arrow batches — the fast path for corpus-scale scoring
    (the pure-JVM viterbi_cost expression is exact but interpreted
    per character by Spark's higher-order-function runtime: measured
    41 s vs ~3 s at sf0.1 on this corpus)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("seg_cost", T.DoubleType()),
            T.StructField("n_pieces", T.IntegerType()),
        ]
    )
    frozen = dict(costs)

    def run(batches):
        import pandas as pd

        from sandbox_data_pipeline_spark.operators.linalg import (
            coalesce_batches,
        )

        for pdf in coalesce_batches(batches):
            c, np_ = viterbi_batch(pdf[text_col], frozen, max_piece)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "n_chars": pdf[text_col].str.len().to_numpy(),
                    "seg_cost": c.round(2),
                    "n_pieces": np_.astype("int32"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)
