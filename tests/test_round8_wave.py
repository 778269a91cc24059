"""Classifier-QA, diversity, time-series and resampling queries:
pinned-value unit tests on tiny fixtures (the DuckDB oracle gate
covers the corpus; these pin the math itself)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_cohen_kappa_known_matrix(spark, monkeypatch):
    """Classic worked example: 2x2 with po=0.7, pe=0.52, kappa=0.375."""
    from sandbox_data_pipeline_spark.queries import text as text_mod

    pairs = (
        [("a", "a")] * 45
        + [("a", "b")] * 15
        + [("b", "a")] * 15
        + [("b", "b")] * 25
    )
    fake = spark.createDataFrame(
        pairs, "lang_declared string, lang_guess string"
    )
    monkeypatch.setattr(
        text_mod, "language_id", lambda df: fake.withColumn("doc_id", F.lit(0))
    )
    monkeypatch.setattr(text_mod, "table", lambda s, d, n: fake)
    r = text_mod.q_cohen_kappa(spark, "unused").collect()[0]
    assert r["n_docs"] == 100 and r["n_agree"] == 70
    assert r["po"] == 0.7
    # pe = (60*60 + 40*40) / 100^2 = 0.52
    assert r["pe"] == 0.52
    assert abs(r["kappa"] - (0.7 - 0.52) / (1 - 0.52)) < 1e-6


def test_class_f1_known_matrix(spark, monkeypatch):
    from sandbox_data_pipeline_spark.queries import text as text_mod

    pairs = [("a", "a")] * 8 + [("a", "b")] * 2 + [("b", "b")] * 5 + [
        ("b", "a")
    ] * 5
    fake = spark.createDataFrame(
        pairs, "lang_declared string, lang_guess string"
    )
    monkeypatch.setattr(
        text_mod, "language_id", lambda df: fake.withColumn("doc_id", F.lit(0))
    )
    monkeypatch.setattr(text_mod, "table", lambda s, d, n: fake)
    got = {r["cls"]: r for r in text_mod.q_class_f1(spark, "unused").collect()}
    a = got["a"]
    assert (a["tp"], a["fp"], a["fn"]) == (8, 5, 2)
    assert abs(a["precision"] - 8 / 13) < 1e-6
    assert abs(a["recall"] - 0.8) < 1e-6
    p, r_ = 8 / 13, 0.8
    assert abs(a["f1"] - 2 * p * r_ / (p + r_)) < 1e-6


def test_token_entropy_extremes(spark, monkeypatch):
    from sandbox_data_pipeline_spark.queries import text as text_mod

    docs = spark.createDataFrame(
        [
            (1, "x x x x"),          # zero entropy
            (2, "a b c d"),          # uniform over 4: entropy 2 bits
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text_mod, "table", lambda s, d, n: docs)
    got = {
        r["doc_id"]: r
        for r in text_mod.q_token_entropy(spark, "unused").collect()
    }
    assert got[1]["entropy"] == 0.0 and got[1]["n_types"] == 1
    assert got[2]["entropy"] == 2.0 and got[2]["n_tokens"] == 4


def test_burstiness_poisson_vs_bursty(spark, monkeypatch):
    from sandbox_data_pipeline_spark.queries import text as text_mod

    # 'flat' appears once in each of 4 docs (fano < 1: regular);
    # 'hot' appears 4 times in one doc (fano > 1: bursty)
    docs = spark.createDataFrame(
        [
            (1, "flat hot hot hot hot"),
            (2, "flat pad1"),
            (3, "flat pad2"),
            (4, "flat pad3"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text_mod, "table", lambda s, d, n: docs)
    got = {
        r["token"]: r["fano"]
        for r in text_mod.q_burstiness(spark, "unused").collect()
    }
    # flat: N=4, S1=4, S2=4 → (16-16)/16 = 0
    assert got["flat"] == 0.0
    # hot: N=4, S1=4, S2=16 → (64-16)/16 = 3
    assert got["hot"] == 3.0


def test_textrank_hub_outranks_leaf(spark, monkeypatch):
    from sandbox_data_pipeline_spark.queries import text as text_mod

    docs = spark.createDataFrame(
        [
            (1, "hub a hub b hub c"),
            (2, "hub d leaf e"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text_mod, "table", lambda s, d, n: docs)
    got = {
        r["token"]: r["pagerank"]
        for r in text_mod.q_textrank_keywords(spark, "unused").collect()
    }
    assert got["hub"] > got["leaf"]
    assert got["hub"] == max(got.values())


def test_autocorrelation_alternating_series(spark, monkeypatch):
    """Perfectly alternating daily counts: lag-1 ACF = -1, lag-2 = +1."""
    import datetime

    from sandbox_data_pipeline_spark.queries import analytics as a_mod

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(10):
        n = 10 if day % 2 == 0 else 2
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(days=day)))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    monkeypatch.setattr(a_mod, "table", lambda s, d, n: ev)
    got = {
        r["lag"]: r for r in a_mod.q_autocorrelation(spark, "unused").collect()
    }
    assert got[1]["acf"] == -1.0 and got[1]["n_pairs"] == 9
    assert got[2]["acf"] == 1.0 and got[2]["n_pairs"] == 8


def test_jackknife_matches_reference(spark, monkeypatch):
    """Jackknife SE against a from-scratch Python reference on the
    same grouping."""
    from sandbox_data_pipeline_spark.queries import analytics as a_mod

    rows = [(k, float(100 + (k * 37) % 59)) for k in range(200)]
    o = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
    monkeypatch.setattr(a_mod, "table", lambda s, d, n: o)
    got = a_mod.q_jackknife_ci(spark, "unused").collect()[0]

    g = a_mod.JK_GROUPS
    sums = [0.0] * g
    cnts = [0] * g
    for k, v in rows:
        sums[k % g] += v
        cnts[k % g] += 1
    S, N = sum(sums), sum(cnts)
    loo = [(S - sums[i]) / (N - cnts[i]) for i in range(g)]
    bar = sum(loo) / g
    se = math.sqrt((g - 1) / g * sum((m - bar) ** 2 for m in loo))
    assert got["n_orders"] == N
    assert abs(got["mean_price"] - S / N) < 1e-3
    assert abs(got["jk_se"] - se) < 1e-5
    assert got["ci_lo"] < got["mean_price"] < got["ci_hi"]


def test_personalized_pagerank_matches_reference(spark):
    """Exact 4-step synchronous-walk replica in pure Python over a
    path graph plus a disconnected pair, seed {1}: every value must
    match (to the 6-dp rounding); the disconnected component gets
    zero seed mass."""
    from sandbox_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11)]  # 10-11 disconnected
    und = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(und, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r
        for r in personalized_pagerank(edges, seeds, iterations=4).collect()
    }

    nbrs: dict[int, list[int]] = {}
    for a, b in und:
        nbrs.setdefault(a, []).append(b)
    nodes = sorted(nbrs)
    r = {v: (1.0 if v == 1 else 0.0) for v in nodes}
    for _ in range(4):
        r = {
            v: (1.0 - 0.85) * (1.0 if v == 1 else 0.0)
            + 0.85 * sum(r[u] / len(nbrs[u]) for u in nbrs[v])
            for v in nodes
        }
    assert got[1]["is_seed"] == 1
    for v in nodes:
        assert abs(got[v]["ppr"] - r[v]) < 1e-6, (v, got[v]["ppr"], r[v])
    assert got[10]["ppr"] == 0.0 and got[11]["ppr"] == 0.0
    # mass is conserved up to the rounding: sum <= 1
    assert 0.9 < sum(x["ppr"] for x in got.values()) <= 1.0 + 1e-9


def test_theilsen_resists_outlier(spark, monkeypatch):
    """Linear series with one wild outlier day: Theil-Sen slope stays
    at the true slope 5 while OLS would bend."""
    import datetime

    from sandbox_data_pipeline_spark.queries import analytics as a_mod

    base = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for day in range(9):
        n = 10 + 5 * day if day != 4 else 500  # outlier on day 4
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(days=day)))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    monkeypatch.setattr(a_mod, "table", lambda s, d, n: ev)
    r = a_mod.q_theilsen_trend(spark, "unused").collect()[0]
    assert r["n_days"] == 9 and r["n_pairs"] == 36
    assert r["slope"] == 5.0


def test_conformal_coverage_guarantee(spark, monkeypatch):
    """Split-conformal marginal guarantee: empirical coverage on the
    held-out split is >= the nominal 90% (exchangeable synthetic
    data), and qhat is exactly the ceil(0.9*(n+1))-th calibration
    residual."""
    from sandbox_data_pipeline_spark.queries import analytics as a_mod

    rows = [
        (k, "P%d" % (k % 3), float(100 + (k * 37) % 59)) for k in range(400)
    ]
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    monkeypatch.setattr(a_mod, "table", lambda s, d, n: o)
    r = a_mod.q_conformal_interval(spark, "unused").collect()[0]
    assert r["n_cal"] == 200 and r["n_test"] == 200
    assert r["coverage"] >= 0.9
    # reference qhat from scratch
    means = {}
    for k, g, y in rows:
        if k % 2 == 0:
            means.setdefault(g, []).append(y)
    gm = {g: sum(v) / len(v) for g, v in means.items()}
    cal = sorted(abs(y - gm[g]) for k, g, y in rows if k % 2 == 0)
    import math

    qhat = cal[min(len(cal), math.ceil(0.9 * (len(cal) + 1))) - 1]
    assert abs(r["qhat"] - qhat) < 1e-3


def test_runs_test_alternating_vs_blocked(spark, monkeypatch):
    """Alternating series → many runs (z > 0); blocked series → few
    runs (z < 0); both against hand-counted run totals."""
    import datetime

    from sandbox_data_pipeline_spark.queries import analytics as a_mod

    base = datetime.datetime(2024, 5, 1)

    def series(pattern):
        rows, eid = [], 0
        for day, n in enumerate(pattern):
            for _ in range(n):
                rows.append((eid, base + datetime.timedelta(days=day)))
                eid += 1
        return spark.createDataFrame(rows, "event_id long, ts timestamp")

    alt = series([10, 2] * 6)  # 12 days, strict alternation
    monkeypatch.setattr(a_mod, "table", lambda s, d, n: alt)
    r = a_mod.q_runs_test(spark, "unused").collect()[0]
    assert r["n_runs"] == 12 and r["z"] > 0

    blk = series([10] * 6 + [2] * 6)  # two blocks
    monkeypatch.setattr(a_mod, "table", lambda s, d, n: blk)
    r2 = a_mod.q_runs_test(spark, "unused").collect()[0]
    assert r2["n_runs"] == 2 and r2["z"] < 0
