"""Quality classifier (hashed-token LR, exact fixed-point GD) and
DoReMi mixture reweighting: separation on planted data, exactness of
the fixed-point contract, and the monotonicity law of the
excess-loss update."""

from __future__ import annotations

from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.quality import (
    doremi_weights,
    hashed_token_features,
    rule_labels,
    score_quality_lr,
    train_quality_lr,
)


def _planted_docs(spark, n_each=40):
    """Clean docs carry 'the' at natural (~8%) density; spam docs are
    'the'-free template repetitions — strong bigram/unigram signal."""
    clean = [
        (
            i,
            "the quick brown fox jumps over the lazy dog near "
            "the riverbank while the sun sets slowly",
            "clean",
        )
        for i in range(n_each)
    ]
    spam = [
        (
            n_each + i,
            "buy now click here buy now click here buy now "
            "click here limited offer act fast",
            "spam",
        )
        for i in range(n_each)
    ]
    return spark.createDataFrame(
        clean + spam, "doc_id long, text string, source string"
    )


def test_classifier_separates_planted_spam_from_clean(spark):
    docs = _planted_docs(spark)
    feats = hashed_token_features(docs)
    labels = rule_labels(docs)
    # the rule labels the planted sets perfectly (clean >= 4% 'the')
    got = {r["doc_id"]: r["y"] for r in labels.collect()}
    assert all(got[i] == 1 for i in range(40))
    assert all(got[40 + i] == 0 for i in range(40))
    w = train_quality_lr(feats, labels)
    scored = score_quality_lr(feats, w).join(labels, "doc_id")
    agree = scored.where(F.col("pred") == F.col("y")).count()
    assert agree == scored.count()  # full separation on planted data


def test_classifier_training_is_partition_count_independent(spark):
    """Integer gradient sums are association-free: the learned weight
    vector must be identical under different input partitioning."""
    docs = _planted_docs(spark, n_each=15)
    w1 = train_quality_lr(
        hashed_token_features(docs.repartition(1)),
        rule_labels(docs.repartition(1)),
        iters=4,
    )
    w13 = train_quality_lr(
        hashed_token_features(docs.repartition(13)),
        rule_labels(docs.repartition(13)),
        iters=4,
    )
    assert w1 == w13


def test_classifier_local_solve_matches_distributed_loop(spark, local_caps):
    """r12 capped local solve: the one-task numpy trainer must produce
    the BIT-IDENTICAL weight vector to the distributed window-sum loop
    (forced via a zero "lr_rows" cap) — every step is integer/dyadic arithmetic,
    so any divergence is a bug, not float noise."""
    docs = _planted_docs(spark, n_each=25)
    feats = hashed_token_features(docs)
    labels = rule_labels(docs)
    w_local = train_quality_lr(feats, labels, iters=6)
    local_caps(lr_rows=0)
    w_loop = train_quality_lr(feats, labels, iters=6)
    assert w_local == w_loop
    assert any(v != 0 for v in w_local)  # training actually moved


def test_classifier_beats_majority_on_real_corpus(spark, sf_dir):
    """On the driver's own documents table the trained scorer must do
    strictly better than the majority-class predictor — the guard
    against the degenerate all-negative fixed point."""
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.operators.quality import (
        quality_classifier_report,
    )

    rep = quality_classifier_report(table(spark, sf_dir, "documents"))
    tot = rep.agg(
        F.sum("n_docs").alias("n"),
        F.sum("n_label_pos").alias("pos"),
        F.sum("n_pred_pos").alias("pred_pos"),
        F.sum("n_correct").alias("ok"),
    ).collect()[0]
    majority = max(tot["pos"], tot["n"] - tot["pos"])
    assert tot["ok"] > majority
    assert 0 < tot["pred_pos"] < tot["n"]  # not a constant predictor


def test_doremi_high_loss_source_gains_weight(spark):
    """Monotonicity: a source with uniformly higher proxy loss (rare
    tokens -> high unigram bits) must end with a larger mixture weight
    than a repetitive low-loss source, and above the uniform share."""
    rows = []
    # low-loss: one repeated token (cross-entropy ~ -log2 of its mass)
    for i in range(30):
        rows.append((i, "common " * 20, "low"))
    # high-loss: tokens unique to each doc (count 1 -> max bits)
    for i in range(30):
        rows.append((100 + i, f"rare{i}a rare{i}b rare{i}c rare{i}d", "high"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in doremi_weights(docs).collect()}
    assert out["high"]["loss_e4"] > out["low"]["loss_e4"]
    assert out["high"]["weight_ppm"] > out["low"]["weight_ppm"]
    assert out["high"]["weight_ppm"] > 500000  # above the uniform share


def test_doremi_equal_losses_stay_uniform(spark):
    """With identical per-source losses there is no excess; weights
    must stay at the uniform share (the no-signal fixed point)."""
    rows = []
    for s in ("a", "b"):
        for i in range(20):
            rows.append((hash(s) % 7 * 100 + i, "same text here", s))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r["weight_ppm"] for r in doremi_weights(docs).collect()}
    assert out["a"] == out["b"] == 500000
