"""Similarity operator semantics: exactness of brute force vs numpy,
LSH bucket stability and recall sanity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    hyperplanes,
    lsh_buckets,
    lsh_topk,
    near_dup_pairs,
)


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05, 0.0], 1),
        (4, [-1.0, 0.0, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_exact(spark):
    emb = _emb(spark)
    q = emb.where("vec_id = 0")
    got = brute_force_topk(emb, q, k=2).collect()
    assert [r.cand_id for r in got] == [1, 2]
    cos01 = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert abs(got[0].cos_sim - round(round(cos01, 6), 4)) < 1e-9
    assert [r.rank for r in got] == [1, 2]


def test_hyperplanes_deterministic():
    assert hyperplanes(8, 4) == hyperplanes(8, 4)
    assert all(x in (1.0, -1.0) for row in hyperplanes(16, 2) for x in row)


def test_lsh_buckets_group_similar_vectors(spark):
    b = {r.vec_id: r.bucket for r in lsh_buckets(_emb(spark), dim=4, planes=6).collect()}
    assert b[0] == b[1]  # nearly identical vectors share every sign
    assert b[2] == b[3]
    assert b[0] != b[4]  # antipodal vector flips every plane


def test_lsh_topk_subset_of_brute_force(spark):
    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(emb, q, k=3).collect()}
    approx = {(r.query_id, r.cand_id) for r in lsh_topk(emb, q, dim=64, planes=4, k=3).collect()}
    # every approx hit must be a real vector pair; recall is partial by design
    assert approx  # finds something at 4 planes
    for pair in approx:
        assert pair[0] != pair[1]
    assert len(approx & exact) > 0


def test_near_dup_blocked_pairs(spark):
    pairs = {(r.id_a, r.id_b): r.cos_sim for r in
             near_dup_pairs(_emb(spark), threshold=0.9, block_col="label").collect()}
    assert (0, 1) in pairs and (2, 3) in pairs
    # cross-label pairs are never compared (blocking)
    assert all(a // 2 == b // 2 for a, b in pairs)


def test_near_dup_default_blocks_on_lsh_bucket(spark):
    """Scale guard: the DEFAULT block key is the LSH bucket, so a hot
    label value cannot become a cartesian bomb. Same-label antipodal
    vectors land in different buckets and are never even compared —
    observable with a permissive threshold that label-blocking would
    emit."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0], 7), (1, [-1.0, 0.0, 0.0, 0.0], 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    by_label = near_dup_pairs(df, threshold=-1.0, block_col="label").count()
    by_bucket = near_dup_pairs(df, threshold=-1.0).count()
    assert by_label == 1 and by_bucket == 0
    # and true near-dups are still found by the default path
    found = {(r.id_a, r.id_b) for r in near_dup_pairs(_emb(spark), threshold=0.9).collect()}
    assert (0, 1) in found and (2, 3) in found


def test_ivf_assign_nearest_centroid(spark):
    from sandbox_data_pipeline_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = _emb(spark)
    cents = ivf_centroids(emb, n_centroids=3)  # centroids = vec 0, 1, 2
    assert [c[0] for c in cents] == [0, 1, 2]
    lists = {r.vec_id: r.list_id for r in ivf_assign(emb, cents).collect()}
    # each centroid assigns to itself (cos=1); vec 3 to centroid 2; vec 4
    # (antipodal to 0) is least-negative against centroid 2 (orthogonal → 0)
    assert lists[0] == 0 and lists[1] == 1 and lists[2] == 2
    assert lists[3] == 2
    assert lists[4] == 2


def test_ivf_kmeans_centroids_improve_recall(spark):
    """k-means|| centroids behind the ivf_centroids contract must beat
    the deterministic first-N pick at equal nprobe (measured 0.52 vs
    0.28 recall@5 on this fixture; assert the ordering, not the exact
    values)."""
    from sandbox_data_pipeline_spark.operators.similarity import (
        ivf_centroids,
        ivf_centroids_kmeans,
        ivf_topk,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") % 100 == 0)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(emb, q, k=5).collect()}

    def recall(cents):
        approx = {(r.query_id, r.cand_id) for r in
                  ivf_topk(emb, q, n_centroids=16, nprobe=2, k=5, centroids=cents).collect()}
        return len(approx & exact) / len(exact)

    km = ivf_centroids_kmeans(emb, 16)
    assert len(km) == 16 and all(len(v) == 64 for _, v in km)
    assert recall(km) > recall(ivf_centroids(emb, 16))


def test_ivf_topk_subset_of_brute_force(spark):
    from sandbox_data_pipeline_spark.operators.similarity import ivf_topk

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(emb, q, k=3).collect()}
    approx = {(r.query_id, r.cand_id) for r in
              ivf_topk(emb, q, n_centroids=8, nprobe=2, k=3).collect()}
    assert approx
    for qid, cid in approx:
        assert qid != cid
    assert len(approx & exact) > 0


def test_knn_join_no_broadcast_and_recall(spark):
    from sandbox_data_pipeline_spark.operators.similarity import knn_join

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    got = knn_join(queries, emb, dim=64, planes=8, k=5, multiprobe=1)
    # the point of knn_join: no broadcast — not at the default threshold
    # and not with it off (emulating corpus-scale sides). Both sides
    # meet in ONE hash exchange on the bucket, which the Arrow scoring
    # node reads (through its within-partition sort).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold in (prev, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            plan = (
                knn_join(queries, emb, dim=64, planes=8, k=5, multiprobe=1)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastExchange" not in plan, threshold
            lines = plan.splitlines()
            i = next(i for i, line in enumerate(lines) if "MapInArrow" in line)
            assert "Sort [bucket" in lines[i + 1], lines[i : i + 3]
            assert "Exchange hashpartitioning(bucket" in lines[i + 2], lines[i : i + 3]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    exact = brute_force_topk(emb, queries, k=5)
    got_pairs = {(r.query_id, r.cand_id) for r in got.collect()}
    exact_pairs = {(r.query_id, r.cand_id) for r in exact.collect()}
    # multiprobe recall: well above chance, asserted loosely (SRP is
    # probabilistic; the constant is pinned by the deterministic planes)
    # near-uniform synthetic vectors are SRP's worst case (no true
    # neighbors); chance is k/N ≈ 0.005 — assert well above that
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.1, recall
    # every emitted neighbor shares (or is Hamming-1 from) the query bucket
    assert all(r.rank <= 5 for r in got.collect())


def test_knn_join_multiprobe_beats_single_probe(spark):
    from sandbox_data_pipeline_spark.operators.similarity import knn_join

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    exact = {
        (r.query_id, r.cand_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def rec(mp):
        pairs = {
            (r.query_id, r.cand_id)
            for r in knn_join(queries, emb, dim=64, planes=8, k=5, multiprobe=mp).collect()
        }
        return len(pairs & exact) / len(exact)

    assert rec(1) >= rec(0)


def _knn_edge_vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, None),
        (4, [1.0, None, 0.0, 0.0]),
        (5, [1.0, 0.0, 0.0]),  # 3-long: zip_with pads it with a null
        (6, [0.9, 0.1, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_join_null_and_ragged_vectors(spark):
    from sandbox_data_pipeline_spark.operators.similarity import knn_join

    emb = _knn_edge_vectors(spark)
    got = [
        tuple(r)
        for r in knn_join(emb, emb, dim=4, planes=2, k=6, multiprobe=1)
        .orderBy("query_id", "rank")
        .collect()
    ]
    near = (0.9939, 0.993884)
    null = (None, None)
    # only 1, 2 and 6 score; 1->2 and 1->6 tie and break on cand_id;
    # every pair with a null vector, a null element or a length
    # mismatch has a null score and ranks last, in cand_id order
    assert got == [
        (1, 1, 2, *near), (1, 2, 6, *near), (1, 3, 3, *null), (1, 4, 4, *null), (1, 5, 5, *null),
        (2, 1, 6, 1.0, 1.0), (2, 2, 1, *near), (2, 3, 3, *null), (2, 4, 4, *null), (2, 5, 5, *null),
        (3, 1, 1, *null), (3, 2, 2, *null), (3, 3, 4, *null), (3, 4, 5, *null), (3, 5, 6, *null),
        (4, 1, 1, *null), (4, 2, 2, *null), (4, 3, 3, *null), (4, 4, 5, *null), (4, 5, 6, *null),
        (5, 1, 1, *null), (5, 2, 2, *null), (5, 3, 3, *null), (5, 4, 4, *null), (5, 5, 6, *null),
        (6, 1, 2, 1.0, 1.0), (6, 2, 1, *near), (6, 3, 3, *null), (6, 4, 4, *null), (6, 5, 5, *null),
    ]


def test_knn_join_zero_vector_divides_by_zero(spark):
    from sandbox_data_pipeline_spark.operators.similarity import knn_join

    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]), (3, [0.9, 0.1, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        knn_join(emb, emb, dim=4, planes=1, k=2, multiprobe=1).collect()


def test_knn_join_hot_bucket_matches_pair_join(spark):
    """A bucket holding more than KNN_TILE_ROWS query rows (planes=1
    with multiprobe puts every query in both buckets) scores exactly
    like the explicit bucket join with cosine_pre."""
    import random

    from pyspark.sql import Window

    from sandbox_data_pipeline_spark.operators.similarity import (
        KNN_TILE_ROWS,
        _bucket_expr,
        _norm,
        as_double_array,
        cosine_pre,
        knn_join,
    )

    rng = random.Random(7)
    n, dim = KNN_TILE_ROWS + 300, 8
    rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]) for i in range(n)]
    rows[5] = (5, None)
    rows[300] = (300, [0.5] * (dim - 1))
    rows[301] = (301, [0.25, None] + [0.5] * (dim - 2))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def side(name, vec, norm):
        return emb.withColumn("_v", as_double_array("embedding")).select(
            F.col("vec_id").alias(name),
            F.col("_v").alias(vec),
            _norm("_v").alias(norm),
            _bucket_expr("_v", dim, 1).alias("bucket"),
        )

    q = side("query_id", "qv", "qn")
    q = q.select("query_id", "qv", "qn", F.explode(F.array("bucket", F.col("bucket").bitwiseXOR(1))).alias("bucket"))
    sims = (
        q.join(side("cand_id", "cv", "cn"), "bucket")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", F.round(cosine_pre("qv", "cv", "qn", "cn"), 6).alias("cos6"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos6").desc(), "cand_id")
    ref = (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 7)
        .select("query_id", "rank", "cand_id", F.round("cos6", 4).alias("cos_sim"), "cos6")
    )
    got = knn_join(emb, emb, dim=dim, planes=1, k=7, multiprobe=1)
    assert got.groupBy("query_id").count().where("count != 7").count() == 0
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_knn_kernel_folds_exactly_across_batch_boundaries():
    """The Arrow kernel alone (no Spark): a bucket split over several
    input batches, an empty batch included, scores the same pairs as
    one batch, and every dot is the Python left fold acc + x * y."""
    import pyarrow as pa

    from sandbox_data_pipeline_spark.operators.similarity import _knn_score_buckets

    rows = [  # (side, id, v, bucket), sorted by bucket
        (0, 1, [0.1, 0.7, -0.3], 0),
        (1, 2, [0.3, -0.2, 0.9], 0),
        (0, 3, [1e-8, 0.5, 0.25], 0),
        (1, 4, None, 0),
        (1, 1, [0.1, 0.7, -0.3], 0),
        (0, 5, [0.6, 0.6, 0.6], 3),
        (1, 6, [0.2, 0.4], 3),
        (1, 7, [-0.6, 0.1, 0.6], 3),
    ]
    schema = pa.schema(
        [("side", pa.int32()), ("id", pa.int64()), ("v", pa.list_(pa.float64())), ("bucket", pa.int32())]
    )
    whole = pa.RecordBatch.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)

    def scored(batches):
        out = pa.Table.from_batches(list(_knn_score_buckets(iter(batches))))
        return sorted(zip(*(out.column(c).to_pylist() for c in out.column_names)))

    def fold(a, b):
        if a is None or b is None or len(a) != len(b):
            return None
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    want = sorted(
        (q[1], c[1], fold(q[2], c[2]), math.sqrt(fold(q[2], q[2])), None if c[2] is None else math.sqrt(fold(c[2], c[2])))
        for q in rows
        for c in rows
        if q[0] == 0 and c[0] == 1 and q[3] == c[3]
    )
    assert scored([whole]) == want
    assert scored([whole.slice(0, 2), whole.slice(2, 0), whole.slice(2, 4), whole.slice(6)]) == want


def test_semantic_dedup_keep_first_within_cluster(spark):
    from sandbox_data_pipeline_spark.operators.similarity import semantic_dedup

    # one coarse cluster → all pairs compared: 1 drops against 0
    # (cos ≈ 0.994), 3 against 2 (cos ≈ 0.999); 2 and 4 are orthogonal/
    # antipodal to every earlier vector and survive
    emb = _emb(spark)
    got = {r.vec_id: r for r in semantic_dedup(emb, threshold=0.9, n_centroids=1).collect()}
    assert len(got) == 5  # verdict for every input vector
    assert not got[0].is_dropped  # lowest id of its similar pair survives
    assert got[1].is_dropped  # ≥0.9 cosine to the earlier vector 0
    assert not got[2].is_dropped
    assert got[3].is_dropped
    assert not got[4].is_dropped  # antipodal: similar to nothing
    assert len({r.list_id for r in got.values()}) == 1

    # with each near-parallel pair's lower id as its own centroid, the
    # pair still co-clusters (0.994 ≫ cross-cluster cosines) and the
    # same verdicts hold
    got2 = {r.vec_id: r for r in semantic_dedup(emb, threshold=0.9, n_centroids=2).collect()}
    assert not got2[0].is_dropped and not got2[2].is_dropped


def test_pq_roundtrip_and_adc_recall(spark):
    from sandbox_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = pq_codebook(emb, dim=64)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    enc = pq_encode(emb, cb, dim=64)
    rows = enc.collect()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    # a codebook member must encode to itself (distance 0 per subspace)
    first = sorted(rows, key=lambda r: r.vec_id)[0]
    assert list(first.codes) == [0] * 8

    q = emb.where(F.col("vec_id") % 100 == 0)
    adc = {(r.query_id, r.cand_id) for r in pq_adc_topk(emb, q, dim=64, k=5).collect()}
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(emb, q, k=5).collect()}
    # ADC on a 16-codeword deterministic codebook is coarse; require
    # well-above-chance overlap with exact top-k (chance ≈ k/N = 1%)
    assert len(adc & exact) / len(exact) >= 0.1


def test_build_ann_index_matches_component_operators(spark):
    from sandbox_data_pipeline_spark.operators.similarity import (
        build_ann_index,
        ivf_assign,
        ivf_centroids,
        lsh_buckets,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = {r.vec_id: r for r in build_ann_index(emb, dim=64, planes=8, n_centroids=16).collect()}
    buckets = {r.vec_id: r.bucket for r in lsh_buckets(emb, dim=64, planes=8).collect()}
    lists = {r.vec_id: r.list_id for r in ivf_assign(emb, ivf_centroids(emb, 16)).collect()}
    assert set(idx) == set(buckets) == set(lists)
    for vid, row in idx.items():
        assert row.bucket == buckets[vid]
        assert row.list_id == lists[vid]
        assert row.norm > 0


def test_rerank_model_contract(spark):
    """Arrow-batched rerank hook: scores land per pair, deterministic
    stub orders higher-overlap pairs above lower-overlap ones."""
    from sandbox_data_pipeline_spark.operators.similarity import (
        heuristic_rerank_batch,
        rerank_model,
    )

    pairs = spark.createDataFrame(
        [
            (1, "big table scan fast", "big table scan fast"),
            (2, "big table scan fast", "small window sort slow"),
        ],
        ["pair_id", "text_a", "text_b"],
    )
    out = {r["pair_id"]: r["rerank_score"] for r in rerank_model(pairs, heuristic_rerank_batch).collect()}
    assert out[1] == 1.0
    assert out[2] < out[1]


def test_hybrid_rrf_fuses_both_lists(spark):
    """RRF fusion: scores equal 1/(60+lex)+1/(60+sem); docs in both
    lists outrank single-list docs with comparable ranks; output is
    top-10 by fused score."""
    from sandbox_data_pipeline_spark.queries.similarity import (
        RRF_K,
        RRF_TOP,
        q_hybrid_rrf,
    )

    rows = q_hybrid_rrf(spark, "/root/testdata/sf0.001").orderBy("fused_rank").collect()
    assert 0 < len(rows) <= RRF_TOP
    prev = None
    for r in rows:
        want = 0.0
        if r["lex_rank"] is not None:
            want += 1.0 / (RRF_K + r["lex_rank"])
        if r["sem_rank"] is not None:
            want += 1.0 / (RRF_K + r["sem_rank"])
        assert abs(r["rrf"] - want) < 1e-9
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        if prev is not None:
            assert r["rrf"] <= prev + 1e-12  # non-increasing
        prev = r["rrf"]
    # a doc present in both lists must beat one with only a worse single rank
    both = [r for r in rows if r["lex_rank"] and r["sem_rank"]]
    only = [r for r in rows if (r["lex_rank"] is None) ^ (r["sem_rank"] is None)]
    if both and only:
        assert max(b["rrf"] for b in both) > min(o["rrf"] for o in only)


def test_mmr_pandas_and_joins_paths_agree(spark, sf_dir):
    """mmr_rerank has two selection backends — applyInPandas greedy
    (default; one shuffle of the bounded pool) and the original
    bounded-join plan. Same pool, same selections, same rounded
    scores: the pandas path replicates the JVM double arithmetic
    (left-fold dots, repr-based HALF_UP rounding) exactly."""
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.operators.similarity import mmr_rerank
    from sandbox_data_pipeline_spark.queries.similarity import _queries_df

    emb = table(spark, sf_dir, "embeddings")
    qd = _queries_df(spark, sf_dir)
    a = {
        tuple(r)
        for r in mmr_rerank(emb, qd, 10, 3, 0.7, impl="joins").collect()
    }
    b = {
        tuple(r)
        for r in mmr_rerank(emb, qd, 10, 3, 0.7, impl="pandas").collect()
    }
    assert a == b
    assert len(a) > 0


def test_kmeans_exact_local_matches_loop(spark, local_caps):
    """r12: the one-task integer k-means must return bit-identical
    centroids to the exploded broadcast-join loop (forced via a zero
    cell cap)."""
    import sandbox_data_pipeline_spark.operators.similarity as sim

    emb = spark.createDataFrame(
        [
            (i, [((i * 13 + p * 7) % 100) / 100.0 for p in range(8)])
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    )
    local = sim.ivf_centroids_kmeans_exact(emb, n_centroids=4, n_iter=3, dim=8)
    local_caps(kmeans_cells=0)
    loop = sim.ivf_centroids_kmeans_exact(emb, n_centroids=4, n_iter=3, dim=8)
    assert local == loop
