"""Distributed quality classifier: a fastText-shaped hashed-token
linear model trained with fixed unrolled, diagonally-preconditioned
gradient steps in EXACT fixed-point arithmetic — the trainable member
of the text-quality family (operators/text.py holds the rule-based
Gopher filters and the model hooks).

Why this shape at 100 TB:
- **Hashed token features** (Weinberger et al. hashing trick — the
  fastText word-feature path): no vocabulary pass, no dictionary
  shuffle, no driver-side vocab — one corpus scan produces
  (doc, bucket, count) at a fixed feature width J, plus a token-count
  feature and a bias. The hash is the portable 60-bit md5
  (operators/dedup.py: portable_hash) so the DuckDB oracle replays
  bucket assignment bit-for-bit.
- **Distributed training, bounded driver state**: each of the T fixed
  gradient steps is ONE shuffle (groupBy bucket) producing a J+2-row
  gradient the driver folds into the weight vector — the
  per-partition partial-aggregate → driver-step contract of
  operators/bpe.py's trainer. Driver memory is O(J), never O(corpus).
- **Exact fixed-point arithmetic**: weights are integers scaled by
  2^20, the sigmoid is the hard sigmoid clamp(1/2 + z/4, 0, 1) (all
  dyadic — exact), gradient sums are integer sums (association-free,
  partition-count independent), and the one division per step is a
  floor of a double quotient whose operands sit far from
  representability boundaries. The oracle replays the IDENTICAL
  iteration as an unrolled CTE chain and must match hash-for-hash —
  floats would drift across engines and partitionings; integers
  cannot.
- **Exact diagonal preconditioning**: raw-count features are horribly
  conditioned (bucket counts ~ O(1), token counts ~ O(100)); naive
  batch GD limit-cycles between the majority answers. Dividing each
  gradient coordinate by the integer second moment ss_j = Σ x_j²
  (one extra bounded aggregate, computed once) is the standard
  diagonal-Newton fix and is exactly replayable — measured on the
  test corpus it lifts a degenerate majority predictor to ~90%
  label agreement in 16 steps.

Training labels come from a deterministic stopword-density rule
(function-word ratio — natural text carries 'the' at a stable rate,
template/spam text does not): the classifier learns to reproduce the
rule from hashed counts alone, which is the fastText quality-
classifier recipe (rule- or model-labeled seed set, hashed features)
from the CCNet / GPT-3 data-curation lineage.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.local_solve import fits_local

# fixed-point scale: weights and sigmoid live in units of 2^-20
Q_SCALE = 1 << 20
Q_HALF = 1 << 19
# feature width: 64 hashed-token buckets + token-count + bias
Q_BUCKETS = 64
Q_NTOK = Q_BUCKETS  # feature index of the token-count column
Q_BIAS = Q_BUCKETS + 1  # feature index of the always-on bias
Q_NFEATS = Q_BUCKETS + 2
# label rule: y = 1 iff count('the') * 25 >= n_tokens  (>= 4% density)
Q_LABEL_NUM = 25
# step: w_j -= floor(g_j * Q_STEP_NUM / ss_j)
Q_STEP_NUM = 2
Q_ITERS = 16


def _tokens(text_col: str):
    return F.filter(F.split(text_col, " "), lambda t: t != F.lit(""))


def hashed_token_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, j, cnt): token counts hashed into Q_BUCKETS buckets,
    plus a token-count row (j = Q_NTOK) and a bias row (j = Q_BIAS,
    cnt = 1) per document. One scan + one (doc, bucket) aggregate —
    <= J+2 rows per doc."""
    from sandbox_data_pipeline_spark.operators.dedup import portable_hash

    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("t")
    )
    hashed = toks.select(
        "doc_id", F.explode("t").alias("tok")
    ).select(
        "doc_id",
        F.pmod(portable_hash(F.col("tok"), salt="qc"), F.lit(Q_BUCKETS))
        .cast("int")
        .alias("j"),
    )
    counts = hashed.groupBy("doc_id", "j").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ntok = toks.select(
        "doc_id",
        F.lit(Q_NTOK).alias("j"),
        F.size("t").cast("long").alias("cnt"),
    )
    bias = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit(Q_BIAS).alias("j"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return counts.unionByName(ntok).unionByName(bias)


def rule_labels(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, y): the deterministic stopword-density seed rule —
    integer cross-multiplication, no ratio floats."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("t")
    )
    return toks.select(
        "doc_id",
        F.when(
            F.size(F.filter("t", lambda x: x == F.lit("the")))
            * Q_LABEL_NUM
            >= F.size("t"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
    )


def _hard_sigmoid_scaled(z):
    """clamp(2^19 + floor(z/4), 0, 2^20) — the hard sigmoid in 2^-20
    fixed point. z/4.0 is exact in double for |z| < 2^52; floor
    semantics match across engines."""
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(Q_SCALE).cast("long"),
            F.lit(Q_HALF) + F.floor(z / 4.0),
        ),
    )


def _wmap(weights: list[int]):
    return F.map_from_arrays(
        F.array(*[F.lit(j) for j in range(len(weights))]),
        F.array(*[F.lit(int(v)).cast("long") for v in weights]),
    )


def _lr_solve_local(iters: int):
    """All T gradient steps in one task, bit-identical to the
    distributed loop: every quantity is an int64 sum (association-free)
    except floor(z / 4.0) and the step division, whose long→double
    conversion + IEEE double ops are identical in numpy and the JVM.
    Emits the final (j, w) weight rows."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        ds, js, cs, ys = [], [], [], []
        for pdf in batches:
            if len(pdf):
                ds.append(pdf["doc_id"].to_numpy(np.int64))
                js.append(pdf["j"].to_numpy(np.int64))
                cs.append(pdf["cnt"].to_numpy(np.int64))
                ys.append(pdf["y"].to_numpy(np.int64))
        if not ds:
            return
        doc = np.concatenate(ds)
        j = np.concatenate(js)
        cnt = np.concatenate(cs)
        y = np.concatenate(ys)
        _, inv = np.unique(doc, return_inverse=True)
        n_docs = int(inv.max()) + 1
        ydoc = np.zeros(n_docs, dtype=np.int64)
        ydoc[inv] = y
        ss_acc = np.zeros(Q_NFEATS, dtype=np.int64)
        np.add.at(ss_acc, j, cnt * cnt)
        ss = np.maximum(ss_acc, 1)
        w = np.zeros(Q_NFEATS, dtype=np.int64)
        for _ in range(iters):
            z = np.zeros(n_docs, dtype=np.int64)
            np.add.at(z, inv, w[j] * cnt)
            s = np.minimum(
                np.int64(Q_SCALE),
                Q_HALF + np.floor(z.astype(np.float64) / 4.0).astype(np.int64),
            )
            s = np.maximum(np.int64(0), s)
            r = s - ydoc * Q_SCALE
            g = np.zeros(Q_NFEATS, dtype=np.int64)
            np.add.at(g, j, r[inv] * cnt)
            # float(g) * Q_STEP_NUM / ss — the driver update's exact
            # double-op order (see the loop below)
            w = w - np.floor(
                g.astype(np.float64) * Q_STEP_NUM / ss.astype(np.float64)
            ).astype(np.int64)
        yield pd.DataFrame(
            {"j": np.arange(Q_NFEATS, dtype=np.int64), "w": w}
        )

    return fn


def train_quality_lr(
    feats: DataFrame,
    labels: DataFrame,
    iters: int = Q_ITERS,
) -> list[int]:
    """T fixed preconditioned gradient steps; returns the integer
    weight vector (length Q_NFEATS, scale 2^-20).

    Capped local solve (r12): when the joined feature frame fits one
    task's budget (local_solve's "lr_rows"), ALL T steps run in a
    single mapInPandas task (_lr_solve_local) — the arithmetic is
    integer/dyadic-exact, so the weights are bit-identical to the
    distributed loop, enforced by a both-paths test. Plan: one count + one 1-partition shuffle + one
    task + one Q_NFEATS-row collect, replacing T cache-scan jobs and
    T+1 bounded collects. Above the cap, the distributed loop below is
    unchanged: per step ONE job whose per-doc margin z is a WINDOW sum
    over partitionBy(doc_id) satisfied by the cached hash partitioning
    (no Exchange, no broadcast build), ONE bounded (J+2)-row gradient
    collect, and a driver weight update in exact arithmetic. Integer
    window sums are association-free, so the weights are bit-identical
    to the earlier agg→join-back formulation (A/B-verified)."""
    from pyspark.sql import Window

    base = (
        feats.join(labels, "doc_id")
        .select("doc_id", "j", "cnt", "y")
        .repartition("doc_id")
        .persist()
    )
    try:
        if fits_local("lr_rows", base.count()):
            rows = (
                base.repartition(1)
                .mapInPandas(_lr_solve_local(iters), "j long, w long")
                .collect()
            )  # bounded: exactly Q_NFEATS rows
            w = [0] * Q_NFEATS
            for row in rows:
                w[row["j"]] = int(row["w"])
            return w
        # exact diagonal preconditioner: per-feature second moment
        ss_rows = base.groupBy("j").agg(
            F.sum(F.col("cnt") * F.col("cnt")).alias("ss")
        ).collect()  # bounded: <= Q_NFEATS rows
        ss = [1] * Q_NFEATS
        for row in ss_rows:
            ss[row["j"]] = max(1, int(row["ss"]))
        w = [0] * Q_NFEATS
        win = Window.partitionBy("doc_id")
        for _ in range(iters):
            wm = _wmap(w)
            zz = base.withColumn(
                "z",
                F.sum(F.element_at(wm, F.col("j")) * F.col("cnt")).over(win),
            )
            rr = zz.withColumn(
                "r",
                _hard_sigmoid_scaled(F.col("z")) - F.col("y") * F.lit(Q_SCALE),
            )
            grad = (
                rr.groupBy("j")
                .agg(F.sum(F.col("r") * F.col("cnt")).alias("g"))
                .collect()
            )  # bounded: <= Q_NFEATS rows
            for row in grad:
                j = row["j"]
                # float(g) FIRST — the oracle's CAST(g AS DOUBLE) * 2
                # / ss order, so both sides round identically even if
                # g ever exceeds 2^53 exactness
                w[j] -= int(math.floor(float(row["g"]) * Q_STEP_NUM / ss[j]))
        return w
    finally:
        base.unpersist(False)


def score_quality_lr(feats: DataFrame, weights: list[int]) -> DataFrame:
    """(doc_id, z, pred): map-side scoring — the weight vector is a
    literal map, z is one bucket aggregate, pred = z >= 0."""
    wm = _wmap(weights)
    z = feats.groupBy("doc_id").agg(
        F.sum(F.element_at(wm, F.col("j")) * F.col("cnt")).alias("z")
    )
    return z.select(
        "doc_id",
        "z",
        F.when(F.col("z") >= 0, F.lit(1)).otherwise(F.lit(0)).alias("pred"),
    )


def quality_classifier_report(
    docs: DataFrame,
    source_col: str = "source",
    iters: int = Q_ITERS,
) -> DataFrame:
    """Train on the corpus, score the corpus, report the per-source
    integer confusion (n_docs, n_label_pos, n_pred_pos, n_correct) —
    every output column an exact integer."""
    feats = hashed_token_features(docs)
    labels = rule_labels(docs)
    w = train_quality_lr(feats, labels, iters=iters)
    scored = score_quality_lr(feats, w).join(labels, "doc_id")
    per_doc = scored.join(
        docs.select("doc_id", F.col(source_col).alias("source")), "doc_id"
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").alias("n_label_pos"),
        F.sum("pred").alias("n_pred_pos"),
        F.sum(
            F.when(F.col("pred") == F.col("y"), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_correct"),
    )


# ---------------------------------------------------------------- DoReMi

DOREMI_ITERS = 5
DOREMI_M0 = 1 << 20  # initial per-source multiplicative weight
DOREMI_LOSS_E4 = 10000  # loss quantization: 1e-4 bits granularity


def doremi_weights(
    docs: DataFrame,
    iters: int = DOREMI_ITERS,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """DoReMi-style mixture reweighting (Xie et al. 2023, simplified):
    per-source EXCESS loss over the current mixture average drives a
    multiplicative weight update, iterated a fixed number of times.

    - Proxy loss: the corpus-trained unigram cross-entropy
      (bits/token, the q_unigram_bits quantity) aggregated per source
      — one vocabulary aggregate + one join, all distributed. The
      per-source loss is quantized to integer 1e-4 bits; from there
      the ENTIRE iteration is exact integer / dyadic-double
      arithmetic, replayed verbatim by the DuckDB oracle.
    - Update: m_i <- floor(m_i * (2^20 + e_i) / 2^20) with
      e_i = max(0, loss_i - floor(weighted mean loss)) — sources whose
      loss exceeds the current mixture average gain mass (the DoReMi
      excess-loss signal), at-or-below-average sources hold, and the
      normalized weight of below-average sources therefore decays.
      Every multiply stays under 2^53 and every divide is by a power
      of two, so the double arithmetic is EXACT and engine-identical.
    - Driver state: one integer per source (the same bounded-state
      contract as the k-means/BPE trainers); iterations are fixed.

    Output: (source, loss_e4, weight_ppm) — the quantized proxy loss
    and the final mixture weight in parts-per-million."""
    from pyspark.sql import SparkSession

    toks = docs.select(
        F.col(source_col).alias("source"),
        F.explode(_tokens(text_col)).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("total"))
    src_loss = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.round(
                F.avg(-F.log2(F.col("cnt") / F.col("total"))) * DOREMI_LOSS_E4
            )
            .cast("long")
            .alias("loss_e4")
        )
    )
    rows = sorted(
        ((r["source"], int(r["loss_e4"])) for r in src_loss.collect())
    )  # bounded: one row per source
    m = {s: DOREMI_M0 for s, _ in rows}
    for _ in range(iters):
        num = float(sum(m[s] * l for s, l in rows))
        den = sum(m[s] for s, _ in rows)
        avg = math.floor(num / den)
        for s, l in rows:
            e = max(0, l - avg)
            m[s] = math.floor(m[s] * (DOREMI_M0 + e) / float(DOREMI_M0))
    total_m = sum(m.values())
    out = [
        (s, l, int(math.floor(float(m[s]) * 1000000.0 / total_m)))
        for s, l in rows
    ]
    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(
        out, "source string, loss_e4 long, weight_ppm long"
    )
