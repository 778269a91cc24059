"""Differential tests for the change-point, k-core and rule-mining
queries: CUSUM's window-function closed form vs the textbook
recursion, k-core peeling vs a pure-Python peel (plus the
bounded-unroll convergence claim), association rules / stump split /
PR curve vs brute-force references on seeded random data."""

from __future__ import annotations

import random
from decimal import Decimal

from pyspark.sql import functions as F


def _cusum_ref(xs: list[int]) -> list[int]:
    """Textbook recursion, in the same n-scaled integer units as the
    query: S_t = max(0, S_{t-1} + n*x_t - total)."""
    n, total = len(xs), sum(xs)
    s, out = 0, []
    for x in xs:
        s = max(0, s + n * x - total)
        out.append(s)
    return out


def test_cusum_closed_form_matches_recursion(spark):
    rng = random.Random(707)
    rows = []
    for g in ("a", "b", "c"):
        base = rng.randrange(50, 200)
        for d in range(40):
            # inject a level shift halfway through series "b"
            lift = 80 if (g == "b" and d >= 20) else 0
            rows.append((g, d, base + rng.randrange(0, 30) + lift))
    df = spark.createDataFrame(rows, "g string, d int, x long")
    from pyspark.sql import Window

    per = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("x").alias("total")
    )
    w = Window.partitionBy("g").orderBy("d")
    cum = (
        df.join(F.broadcast(per), "g")
        .select("g", "d", "x", F.sum(
            F.col("n_days") * F.col("x") - F.col("total")
        ).over(w).alias("p"))
        .select(
            "g", "d", "x",
            (F.col("p") - F.least(F.lit(0), F.min("p").over(w))).alias("s"),
        )
    )
    got = {(r["g"], r["d"]): r["s"] for r in cum.collect()}
    for g in ("a", "b", "c"):
        xs = [x for (gg, d, x) in rows if gg == g]
        ref = _cusum_ref(xs)
        for d, want in enumerate(ref):
            assert got[(g, d)] == want, (g, d)
    # the injected shift must actually alarm (S > total on series b)
    total_b = sum(x for (g, d, x) in rows if g == "b")
    assert max(got[("b", d)] for d in range(40)) > total_b


def _peel(edges: set[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    while True:
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, c in deg.items() if c >= k}
        nxt = {(a, b) for a, b in edges if a in keep and b in keep}
        if nxt == edges:
            return edges
        edges = nxt


def test_kcore_matches_python_peel(spark):
    rng = random.Random(4242)
    edges = set()
    while len(edges) < 300:
        a, b = rng.randrange(80), rng.randrange(80)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    e = spark.createDataFrame(sorted(edges), "pa long, pb long")
    for _ in range(6):
        nodes = e.select(F.col("pa").alias("n")).unionAll(
            e.select(F.col("pb").alias("n"))
        )
        keep = (
            nodes.groupBy("n").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 3).select("n")
        )
        e = (
            e.join(keep.withColumnRenamed("n", "pa"), "pa", "semi")
            .join(keep.withColumnRenamed("n", "pb"), "pb", "semi")
            .localCheckpoint(eager=True)
        )
    got = {(r["pa"], r["pb"]) for r in e.collect()}
    assert got == _peel(edges, 3)


def test_kcore_bounded_unroll_converged_on_testdata(spark):
    """The registry query unrolls 4 peel rounds; assert the fixpoint
    arrives within 3 on the shipped corpus, so the bounded unroll IS
    the k-core there (docstring claim)."""
    from sandbox_data_pipeline_spark.catalog import table

    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = bi.select("o", F.col("p").alias("pa"))
    b = bi.select("o", F.col("p").alias("pb"))
    e = (
        a.join(b, "o").where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2).select("pa", "pb")
    )
    snaps = []
    for _ in range(4):
        nodes = e.select(F.col("pa").alias("n")).unionAll(
            e.select(F.col("pb").alias("n"))
        )
        keep = (
            nodes.groupBy("n").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 3).select("n")
        )
        e = (
            e.join(keep.withColumnRenamed("n", "pa"), "pa", "semi")
            .join(keep.withColumnRenamed("n", "pb"), "pb", "semi")
            .localCheckpoint(eager=True)
        )
        snaps.append({(r["pa"], r["pb"]) for r in e.collect()})
    assert snaps[2] == snaps[3], "peel did not converge within 3 rounds"


def test_association_rules_brute_force(spark):
    rng = random.Random(11)
    baskets = [
        sorted(rng.sample(range(30), rng.randrange(2, 6))) for _ in range(120)
    ]
    rows = [(i, p) for i, bk in enumerate(baskets) for p in bk]
    bi = spark.createDataFrame(rows, "o long, p long").distinct()
    item = {}
    for bk in baskets:
        for p in bk:
            item[p] = item.get(p, 0) + 1
    pair: dict[tuple[int, int], int] = {}
    for bk in baskets:
        for i in range(len(bk)):
            for j in range(i + 1, len(bk)):
                pair[(bk[i], bk[j])] = pair.get((bk[i], bk[j]), 0) + 1
    a = bi.select("o", F.col("p").alias("pa"))
    b = bi.select("o", F.col("p").alias("pb"))
    got = {
        (r["pa"], r["pb"]): r["n"]
        for r in a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
        .collect()
    }
    want = {k: v for k, v in pair.items() if v >= 3}
    assert got == want


def test_best_split_and_pr_curve_brute_force(spark):
    rng = random.Random(99)
    pts = [(rng.uniform(-1, 1), rng.random() < 0.5) for _ in range(400)]
    df = spark.createDataFrame(pts, "score double, pos boolean")
    hist: dict[int, list[int]] = {}
    import math

    for s, pos in pts:
        b = math.floor(s * 32)
        hist.setdefault(b, [0, 0])[0 if pos else 1] += 1
    bins = sorted(hist)
    tp_all = sum(v[0] for v in hist.values())
    tn_all = sum(v[1] for v in hist.values())
    # stump accuracy per boundary (left = bins <= b)
    want_acc = {}
    pl = nl = 0
    for b in bins:
        pl += hist[b][0]
        nl += hist[b][1]
        want_acc[b] = max(pl + tn_all - nl, nl + tp_all - pl)
    from pyspark.sql import Window

    h = df.select(
        F.floor(F.col("score") * 32).cast("int").alias("bin"), "pos"
    ).groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    got = {
        r["bin"]: max(
            r["pl"] + tn_all - r["nl"], r["nl"] + tp_all - r["pl"]
        )
        for r in h.select(
            "bin",
            F.sum("np").over(w).alias("pl"),
            F.sum("nn").over(w).alias("nl"),
        ).collect()
    }
    assert got == want_acc
    # PR sweep from the top bin down
    want_pr = {}
    tp = fp = 0
    for b in sorted(bins, reverse=True):
        tp += hist[b][0]
        fp += hist[b][1]
        want_pr[b] = (tp, fp)
    wd = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    got_pr = {
        r["bin"]: (r["tp"], r["fp"])
        for r in h.select(
            "bin",
            F.sum("np").over(wd).alias("tp"),
            F.sum("nn").over(wd).alias("fp"),
        ).collect()
    }
    assert got_pr == want_pr


def test_chi2_ranking_matches_numpy(spark):
    """q_chi2_terms' decimal chi-square must rank tokens exactly as a
    float reference does on the shipped corpus (sf0.001)."""
    from sandbox_data_pipeline_spark.queries.text import q_chi2_terms

    out = q_chi2_terms(spark, "/root/testdata/sf0.001").collect()
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    docs = con.sql("SELECT doc_id, lang, text FROM documents").fetchall()
    n = len(docs)
    lang_sz: dict[str, int] = {}
    tok_docs: dict[str, set[int]] = {}
    lang_tok: dict[tuple[str, str], int] = {}
    for doc_id, lang, text in docs:
        lang_sz[lang] = lang_sz.get(lang, 0) + 1
        for t in set(w for w in text.split(" ") if w):
            tok_docs.setdefault(t, set()).add(doc_id)
            lang_tok[(lang, t)] = lang_tok.get((lang, t), 0) + 1
    ref: dict[str, list[tuple[float, str]]] = {}
    for (lang, t), a in lang_tok.items():
        df = len(tok_docs[t])
        if df < 5:
            continue
        b = df - a
        c = lang_sz[lang] - a
        d = n - df - c
        den = df * (n - df) * lang_sz[lang] * (n - lang_sz[lang])
        chi2 = n * (a * d - b * c) ** 2 / den
        ref.setdefault(lang, []).append((-chi2, t))
    for lang in ref:
        ref[lang] = [t for _, t in sorted(ref[lang])[:10]]
    got: dict[str, list[tuple[int, str]]] = {}
    for r in out:
        got.setdefault(r["lang"], []).append((r["rn"], r["tok"]))
        assert isinstance(r["chi2"], Decimal)
    for lang, toks in got.items():
        assert [t for _, t in sorted(toks)] == ref[lang], lang


def test_t_closeness_brute_force(spark):
    """q_t_closeness vs a direct float TV computation on sf0.001."""
    from sandbox_data_pipeline_spark.queries.dq import (
        L_DIV_BUCKET,
        q_t_closeness,
    )

    out = {
        (r["lang"], r["source"]): (r["cls_n"], float(r["t_close"]))
        for r in q_t_closeness(spark, "/root/testdata/sf0.001").collect()
    }
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        "SELECT lang, source, floor(n_chars / %d) FROM "
        "'/root/testdata/sf0.001/documents.parquet'" % L_DIV_BUCKET
    ).fetchall()
    from collections import Counter

    glob = Counter(s for _, _, s in rows)
    n = len(rows)
    per: dict[tuple[str, str], Counter] = {}
    for lang, src, s in rows:
        per.setdefault((lang, src), Counter())[s] += 1
    for key, cnt in per.items():
        n_c = sum(cnt.values())
        tv = 0.5 * sum(
            abs(cnt.get(s, 0) / n_c - glob[s] / n) for s in glob
        )
        got_n, got_t = out[key]
        assert got_n == n_c
        assert abs(got_t - tv) < 5e-5, (key, got_t, tv)


def test_feature_hashing_sign_bit_exact(spark):
    """The sign bit must be bit 4 of the 60-bit portable hash —
    computed by shiftright, since floor(h/16) in doubles corrupts
    hashes past 2^53 (regression for the bug the oracle caught)."""
    import hashlib

    from sandbox_data_pipeline_spark.queries.text import (
        FH_BUCKETS,
        q_feature_hashing,
    )

    out = {
        (r["doc_id"], r["bucket"]): r["val"]
        for r in q_feature_hashing(spark, "/root/testdata/sf0.001").collect()
    }
    import duckdb

    con = duckdb.connect()
    docs = con.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    want: dict[tuple[int, int], int] = {}
    for doc_id, text in docs:
        for tok in text.split(" "):
            if not tok:
                continue
            h = int(hashlib.md5(("fh" + tok).encode()).hexdigest()[:15], 16)
            b = h % FH_BUCKETS
            sign = 1 - 2 * ((h >> 4) & 1)
            want[(doc_id, b)] = want.get((doc_id, b), 0) + sign
    assert out == want


def test_group_ttest_moment_assembly(spark):
    """Welch t from the query vs numpy-free direct computation."""
    from sandbox_data_pipeline_spark.queries.analytics import q_group_ttest

    out = {
        r["event_type"]: (r["n1"], r["n2"], r["t_stat"])
        for r in q_group_ttest(spark, "/root/testdata/sf0.001").collect()
    }
    import datetime

    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        "SELECT event_type, ts, CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE)"
        " FROM '/root/testdata/sf0.001/events.parquet'"
        " WHERE ts < TIMESTAMP '2024-01-15'"
    ).fetchall()
    cut = datetime.datetime(2024, 1, 8)
    groups: dict[str, tuple[list, list]] = {}
    for et, ts, v in rows:
        groups.setdefault(et, ([], []))[0 if ts < cut else 1].append(v)
    for et, (a, b) in groups.items():
        n1, n2 = len(a), len(b)
        m1, m2 = sum(a) / n1, sum(b) / n2
        v1 = (sum(x * x for x in a) - sum(a) ** 2 / n1) / (n1 - 1)
        v2 = (sum(x * x for x in b) - sum(b) ** 2 / n2) / (n2 - 1)
        t = (m1 - m2) / (v1 / n1 + v2 / n2) ** 0.5
        gn1, gn2, gt = out[et]
        assert (gn1, gn2) == (n1, n2)
        assert abs(gt - t) < 5e-5, (et, gt, t)


def test_lof_matches_python_reference(spark):
    """q_lof_outliers vs a direct Python LOF on the same SRP-kNN
    graph (sf0.001): identical integer distances, reach sums, and
    per-term exact-decimal assembly."""
    from sandbox_data_pipeline_spark.operators.similarity import knn_join
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.queries.similarity import (
        DIM,
        PLANES,
        TOPK,
        q_lof_outliers,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    edges = [
        (r["query_id"], r["cand_id"], int(1000000 - (r["cos6"] * 1000000 + 0.5) // 1))
        for r in knn_join(
            emb, emb, dim=DIM, planes=PLANES, k=TOPK, multiprobe=1
        ).collect()
    ]
    nb: dict[int, list[tuple[int, int]]] = {}
    for p, o, d in edges:
        nb.setdefault(p, []).append((o, d))
    kdist = {p: max(d for _, d in os) for p, os in nb.items()}
    n_nb = {p: len(os) for p, os in nb.items()}
    r_sum = {
        p: max(1, sum(max(kdist[o], d) for o, d in os))
        for p, os in nb.items()
    }

    def dr(num, den, scale):  # dec_ratio: round-half-away on integers
        q, rm = divmod(abs(num) * 10**scale * 2 + abs(den), 2 * abs(den))
        sign = -1 if (num < 0) != (den < 0) else 1
        return sign * q

    want = {}
    for p, os in nb.items():
        terms = [
            dr(n_nb[o] * r_sum[p], r_sum[o] * n_nb[p] * n_nb[p], 6)
            for o, _ in os
        ]
        want[p] = (n_nb[p], kdist[p], sum(terms))
    got = {
        r["vec_id"]: (
            r["n_nb"],
            r["kdist"],
            int(r["lof"].scaleb(6)),
        )
        for r in q_lof_outliers(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_kaplan_meier_python_reference(spark):
    """q_kaplan_meier vs a direct KM computation on sf0.001."""
    import datetime
    import math

    import duckdb

    from sandbox_data_pipeline_spark.queries.analytics import (
        KM_HORIZON,
        q_kaplan_meier,
    )

    rows = duckdb.sql(
        "SELECT user_id, min(ts), min(CASE WHEN event_type='purchase'"
        " THEN ts END) FROM '/root/testdata/sf0.001/events.parquet'"
        " GROUP BY 1"
    ).fetchall()
    horizon = datetime.datetime.fromisoformat(KM_HORIZON)
    durs = []
    for _, t0, tp in rows:
        if tp is not None:
            durs.append((int((tp - t0).total_seconds() // 3600), 1))
        else:
            durs.append((int((horizon - t0).total_seconds() // 3600), 0))
    times = sorted({t for t, _ in durs})
    n = len(durs)
    surv, want = 1.0, {}
    left = 0
    for t in times:
        at_risk = n - left
        d = sum(1 for tt, e in durs if tt == t and e == 1)
        leaving = sum(1 for tt, _ in durs if tt == t)
        if d > 0:
            surv *= (at_risk - d) / at_risk
            want[t] = (d, at_risk, round(surv, 4))
        left += leaving
    got = {
        r["dur_h"]: (r["d"], r["n_risk"], round(r["surv"], 4))
        for r in q_kaplan_meier(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want
