"""Similarity-search queries over the `embeddings` table with DuckDB
oracles (list_dot_product on DOUBLE[] mirrors the Spark zip_with dot;
deterministic md5-derived hyperplanes make LSH cross-engine exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.queries._envproof import stable_round, stable_round_sql
from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    hyperplanes,
    ivf_assign,
    ivf_centroids,
    ivf_topk,
    lsh_buckets,
    lsh_topk,
    near_dup_pairs,
)
from sandbox_data_pipeline_spark.session import cut

DIM = 64
PLANES = 8
TOPK = 5
QUERY_MOD = 100  # query set = vec_id % 100 == 0
# The synthetic embeddings have no true near-dups (max within-label
# cosine ≈ 0.45), so the declared query uses a low threshold to keep
# the correctness comparison non-trivial; production callers pass
# ~0.95+ to the operator.
NEAR_T = 0.35


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") % QUERY_MOD == 0)


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _queries_df(spark, sf_dir), k=TOPK)


def q_similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_buckets(table(spark, sf_dir, "embeddings"), dim=DIM, planes=PLANES)


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, _queries_df(spark, sf_dir), dim=DIM, planes=PLANES, k=TOPK)


def q_similarity_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked on the label column (explicit opt-in: the synthetic
    labels are low-cardinality but bounded here; the operator DEFAULT
    is LSH-bucket blocking — see q_similarity_near_dup_lsh)."""
    return near_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=NEAR_T, block_col="label"
    )


def q_similarity_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator's scale-safe DEFAULT path: pairs blocked on the
    sign-random-projection bucket (expected occupancy N/2^planes), so
    the within-block all-pairs join stays bounded at any corpus size."""
    return near_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=NEAR_T, dim=DIM, planes=PLANES
    )


N_CENTROIDS = 16
NPROBE = 2


def q_similarity_ivf_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list assignment: nearest deterministic centroid per
    vector, computed map-side (no corpus shuffle)."""
    emb = table(spark, sf_dir, "embeddings")
    return ivf_assign(emb, ivf_centroids(emb, N_CENTROIDS))


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: probe the NPROBE nearest inverted lists
    per query, exact cosine re-rank inside them."""
    emb = table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, _queries_df(spark, sf_dir), n_centroids=N_CENTROIDS, nprobe=NPROBE, k=TOPK
    )


KMEANS_ITER = 3


def q_similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k on k-means centroids (the production path: centroids
    at density modes instead of arbitrary vectors). Uses the
    exact-integer Lloyd variant (operators/similarity.py:
    ivf_centroids_kmeans_exact) so the ENTIRE pipeline — quantize,
    3 Lloyd iterations, assignment, probe, re-rank — replays
    bit-identically in the DuckDB oracle; MLlib k-means|| stays
    available for recall experiments (tests/test_similarity.py)."""
    from sandbox_data_pipeline_spark.operators.similarity import (
        ivf_centroids_kmeans_exact,
    )

    emb = table(spark, sf_dir, "embeddings")
    cents = ivf_centroids_kmeans_exact(
        emb, N_CENTROIDS, n_iter=KMEANS_ITER, dim=DIM
    )
    return ivf_topk(
        emb,
        _queries_df(spark, sf_dir),
        nprobe=NPROBE,
        k=TOPK,
        centroids=cents,
    )


# --- DuckDB oracles ---------------------------------------------------------

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _oracle_topk() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id AS cand_id, v FROM v),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c ON cand_id <> query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id, round(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOPK}
"""


def _bucket_sql(vcol: str) -> str:
    terms = []
    for p, plane in enumerate(hyperplanes(DIM, PLANES)):
        arr = "[" + ", ".join(f"{x:.1f}" for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vcol}, {arr}) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


def _oracle_lsh_buckets() -> str:
    return f"""
SELECT vec_id, {_bucket_sql('v')} AS bucket
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""


def _oracle_lsh_topk() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, {_bucket_sql('v')} AS bucket FROM v),
q AS (SELECT v.vec_id AS query_id, v, bucket FROM v JOIN b USING (vec_id)
      WHERE v.vec_id % {QUERY_MOD} = 0),
c AS (SELECT v.vec_id AS cand_id, v, bucket FROM v JOIN b USING (vec_id)),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c USING (bucket)
  WHERE cand_id <> query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id, round(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOPK}
"""


_IVF_BASE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM v ORDER BY vec_id LIMIT {{n_centroids}}),
asg AS (
  SELECT vec_id, centroid_id AS list_id FROM (
    SELECT a.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY a.vec_id ORDER BY
               round(list_dot_product(a.v, c.cv) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id
           ) AS rn
    FROM v a CROSS JOIN cent c
  ) WHERE rn = 1
)
"""


def _oracle_ivf_lists() -> str:
    return _IVF_BASE.format(n_centroids=N_CENTROIDS) + "SELECT vec_id, list_id FROM asg"


def _oracle_ivf_topk() -> str:
    cos = _COS.format(a="q.qv", b="cv.v")
    return (
        _IVF_BASE.format(n_centroids=N_CENTROIDS)
        + f""",
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % {QUERY_MOD} = 0),
probes AS (
  SELECT query_id, centroid_id AS list_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id ORDER BY
               round(list_dot_product(q.qv, c.cv) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
sims AS (
  SELECT p.query_id, a.vec_id AS cand_id, round({cos}, 6) AS cos_sim
  FROM probes p
  JOIN asg a USING (list_id)
  JOIN q ON q.query_id = p.query_id
  JOIN v cv ON cv.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id, round(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOPK}
"""
    )


def _oracle_ivf_kmeans_topk() -> str:
    """Replay ivf_centroids_kmeans_exact + ivf_topk in SQL: quantized
    integer Lloyd iterations as chained CTEs (assign → per-dim sums →
    half-away integer means → empty-cluster coalesce), then the same
    probe/re-rank skeleton as _oracle_ivf_topk against the computed
    centroids."""
    parts = [
        f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 10000) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
         list_transform(q, x -> x * 100) AS cv
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {N_CENTROIDS})
)"""
    ]
    for i in range(1, KMEANS_ITER + 1):
        parts.append(
            f""",
a{i} AS (
  SELECT vec_id, j FROM (
    SELECT q.vec_id, c.j,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(range(1, {DIM + 1}),
               t -> (q.q[t] * 100 - c.cv[t]) * (q.q[t] * 100 - c.cv[t]))) ASC,
             c.j ASC) AS rn
    FROM qv q CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
),
u{i} AS (
  SELECT a.j, t.p, sum(q.q[t.p]) AS s, count(*) AS n
  FROM a{i} a JOIN qv q USING (vec_id), range(1, {DIM + 1}) t(p)
  GROUP BY a.j, t.p
),
n{i} AS (
  SELECT j, list(CAST(CASE WHEN s >= 0 THEN (2 * s * 100 + n) // (2 * n)
                      ELSE -((2 * (-s) * 100 + n) // (2 * n)) END AS BIGINT)
                 ORDER BY p) AS cv
  FROM u{i} GROUP BY j
),
c{i} AS (
  SELECT p.j, COALESCE(nn.cv, p.cv) AS cv
  FROM c{i - 1} p LEFT JOIN n{i} nn USING (j)
)"""
        )
    cos = _COS.format(a="q.qv", b="cv.v")
    parts.append(
        f""",
cent AS (
  SELECT j AS centroid_id,
         list_transform(cv, x -> CAST(x AS DOUBLE) / 1000000.0) AS cv
  FROM c{KMEANS_ITER}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
asg AS (
  SELECT vec_id, centroid_id AS list_id FROM (
    SELECT a.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY a.vec_id ORDER BY
               round(list_dot_product(a.v, c.cv) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id
           ) AS rn
    FROM v a CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % {QUERY_MOD} = 0),
probes AS (
  SELECT query_id, centroid_id AS list_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id ORDER BY
               round(list_dot_product(q.qv, c.cv) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
sims AS (
  SELECT p.query_id, a.vec_id AS cand_id, round({cos}, 6) AS cos_sim
  FROM probes p
  JOIN asg a USING (list_id)
  JOIN q ON q.query_id = p.query_id
  JOIN v cv ON cv.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id, round(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOPK}
"""
    )
    return "".join(parts)


def _oracle_near_dup() -> str:
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 4) AS cos_sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({cos}, 4) >= {NEAR_T}
"""


def _oracle_near_dup_lsh() -> str:
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
v AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM raw)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 4) AS cos_sim
FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({cos}, 4) >= {NEAR_T}
"""


QUERIES = {
    "q_similarity_topk": q_similarity_topk,
    "q_similarity_lsh_buckets": q_similarity_lsh_buckets,
    "q_similarity_lsh_topk": q_similarity_lsh_topk,
    "q_similarity_near_dup": q_similarity_near_dup,
    "q_similarity_near_dup_lsh": q_similarity_near_dup_lsh,
    "q_similarity_ivf_lists": q_similarity_ivf_lists,
    "q_similarity_ivf_topk": q_similarity_ivf_topk,
    "q_similarity_ivf_kmeans_topk": q_similarity_ivf_kmeans_topk,
}

ORACLE = {
    "q_similarity_ivf_lists": _oracle_ivf_lists(),
    "q_similarity_ivf_topk": _oracle_ivf_topk(),
    "q_similarity_ivf_kmeans_topk": _oracle_ivf_kmeans_topk(),
    "q_similarity_topk": _oracle_topk(),
    "q_similarity_lsh_buckets": _oracle_lsh_buckets(),
    "q_similarity_lsh_topk": _oracle_lsh_topk(),
    "q_similarity_near_dup": _oracle_near_dup(),
    "q_similarity_near_dup_lsh": _oracle_near_dup_lsh(),
}


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, long form (label, dim_idx, mean): posexplode
    puts every vector component on its own row, then one
    partial-combined aggregation per (label, dim). Long form keeps the
    shuffle rows fixed-width and the result engine-comparable; pivoting
    back to array<float> is a cheap collect_list at presentation."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("label", F.col("pos").alias("dim_idx"))
        .agg(F.round(F.avg("col"), 6).alias("mean_val"))
    )


_ORACLE_CENTROIDS = f"""
WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dims AS (SELECT unnest(range({DIM})) AS i)
SELECT label,
       CAST(i AS INTEGER) AS dim_idx,
       round(avg(v[i + 1]), 6) AS mean_val
FROM v CROSS JOIN dims
GROUP BY label, i
"""

QUERIES["q_embedding_centroids"] = q_embedding_centroids
ORACLE["q_embedding_centroids"] = _ORACLE_CENTROIDS


def q_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-shaped query: ANN top-3 per query vector joined back to
    the matched document's metadata (embeddings.vec_id == documents
    .doc_id). The metadata join is a broadcast of the hit set — the
    expensive similarity work never carries the wide document columns."""
    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("cand_id"), "lang", "source"
    )
    hits = brute_force_topk(emb, _queries_df(spark, sf_dir), k=3)
    return hits.join(docs, "cand_id").select(
        "query_id", "rank", "cand_id", "cos_sim", "lang", "source"
    )


def _oracle_semantic_search() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id AS cand_id, v FROM v),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c ON cand_id <> query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id,
       round(cos_sim, 4) AS cos_sim, d.lang, d.source
FROM ranked JOIN documents d ON d.doc_id = cand_id
WHERE rank <= 3
"""


QUERIES["q_semantic_search"] = q_semantic_search
ORACLE["q_semantic_search"] = _oracle_semantic_search()


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality metric as a query: recall@k of the LSH path against
    exact brute force, per query vector. The operational check a
    production ANN deployment runs on a sample before trusting the
    approximate path."""
    emb = table(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    exact = brute_force_topk(emb, q, k=TOPK).select(
        "query_id", F.col("cand_id").alias("exact_id")
    )
    approx = lsh_topk(emb, q, dim=DIM, planes=PLANES, k=TOPK).select(
        "query_id", F.col("cand_id").alias("approx_id")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (exact.exact_id == approx.approx_id),
    ).groupBy(exact.query_id.alias("query_id")).agg(F.count(F.lit(1)).alias("hits"))
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("hits"), F.lit(0)) / F.col("k"), 4).alias("recall"),
        )
    )


def _oracle_ann_recall() -> str:
    exact = _oracle_topk().strip()
    approx = _oracle_lsh_topk().strip()
    return f"""
WITH exact_hits AS ({exact}),
approx_hits AS ({approx}),
hits AS (
  SELECT e.query_id, count(*) AS hits
  FROM exact_hits e JOIN approx_hits a
    ON a.query_id = e.query_id AND a.cand_id = e.cand_id
  GROUP BY e.query_id
),
ks AS (SELECT query_id, count(*) AS k FROM exact_hits GROUP BY query_id)
SELECT ks.query_id, round(coalesce(hits.hits, 0) / ks.k, 4) AS recall
FROM ks LEFT JOIN hits ON hits.query_id = ks.query_id
"""


QUERIES["q_ann_recall"] = q_ann_recall
ORACLE["q_ann_recall"] = _oracle_ann_recall()


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup resolution: cosine pairs → connected
    components (same duplicate_clusters operator as text dedup — the
    cluster step is representation-agnostic)."""
    from sandbox_data_pipeline_spark.operators.dedup import duplicate_clusters

    pairs = q_similarity_near_dup(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return duplicate_clusters(pairs).withColumnsRenamed(
        {"doc_id": "vec_id", "cluster_id": "cluster_id"}
    )


def _oracle_embedding_clusters() -> str:
    return f"""
WITH RECURSIVE
pairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM ({_oracle_near_dup()}) nd),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach (a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS vec_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
"""


QUERIES["q_embedding_dup_clusters"] = q_embedding_dup_clusters
ORACLE["q_embedding_dup_clusters"] = _oracle_embedding_clusters()


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization report: per-vector scale, max reconstruction
    error, and a code checksum (arrays don't cross the value-hash, so
    the codes are summarized by their exact integer sum)."""
    from sandbox_data_pipeline_spark.operators.similarity import quantize_int8

    q = quantize_int8(table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        "max_abs_err",
        F.expr(
            "aggregate(codes, cast(0 as bigint), (acc, v) -> acc + cast(v as bigint))"
        ).alias("codes_sum"),
    )


_ORACLE_QUANTIZE = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
q AS (SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(round(x / scale, 0) AS INTEGER)) AS codes
      FROM s)
SELECT vec_id,
       round(scale, 6) AS scale,
       round(list_max(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - codes[i] * scale))), 6) AS max_abs_err,
       CAST(list_sum(codes) AS BIGINT) AS codes_sum
FROM q
"""

QUERIES["q_embedding_quantize"] = q_embedding_quantize
ORACLE["q_embedding_quantize"] = _ORACLE_QUANTIZE


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdict per vector: coarse cluster (map-side centroid
    assignment), within-cluster keep-first semantic dedup at the
    near-dup threshold. The 100 TB path of embedding dedup — pairwise
    work is confined to a cluster, never the corpus."""
    from sandbox_data_pipeline_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        table(spark, sf_dir, "embeddings"),
        threshold=NEAR_T,
        n_centroids=N_CENTROIDS,
    )


def _oracle_semdedup() -> str:
    cos = _COS.format(a="a.v", b="b.v")
    return (
        _IVF_BASE.format(n_centroids=N_CENTROIDS)
        + f""",
withv AS (SELECT v.vec_id, v.v, asg.list_id FROM v JOIN asg USING (vec_id)),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM withv a JOIN withv b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE round({cos}, 4) >= {NEAR_T}
)
SELECT w.vec_id, w.list_id,
       w.vec_id IN (SELECT vec_id FROM dropped) AS is_dropped
FROM withv w
"""
    )


QUERIES["q_semdedup"] = q_semdedup
ORACLE["q_semdedup"] = _oracle_semdedup()


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes per vector (8 subspaces × 16
    codewords → 8 small ints ≈ 32× compression). Codebook is the
    deterministic first-K pick; encoding is argmin rounded-L2² per
    subspace, entirely map-side. Codes are emitted as a joined string +
    exact sum so the value-hash compares them portably."""
    from sandbox_data_pipeline_spark.operators.similarity import pq_codebook, pq_encode

    emb = table(spark, sf_dir, "embeddings")
    enc = pq_encode(emb, pq_codebook(emb, DIM), DIM)
    return enc.select(
        "vec_id",
        F.concat_ws("-", F.col("codes")).alias("code_str"),
        F.expr("aggregate(codes, 0, (a, c) -> a + c)").alias("code_sum"),
    )


def _pq_oracle_cte() -> str:
    """Shared CTE: codebook = subvectors of the 16 lowest-id vectors,
    codes = argmin rounded-L2² per subspace (ties → lowest code)."""
    from sandbox_data_pipeline_spark.operators.similarity import PQ_K, PQ_M

    sub = DIM // PQ_M
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb_src AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
  FROM v ORDER BY vec_id LIMIT {PQ_K}
),
cw AS (
  SELECT s.s, cb_src.code, list_slice(cb_src.v, s.s * {sub} + 1, (s.s + 1) * {sub}) AS cw
  FROM cb_src CROSS JOIN (SELECT unnest(range({PQ_M})) AS s) s
),
dists AS (
  SELECT a.vec_id, cw.s, cw.code,
         round(list_sum(list_transform(range(1, {sub} + 1),
               i -> (list_slice(a.v, cw.s * {sub} + 1, (cw.s + 1) * {sub})[i] - cw.cw[i]) ^ 2)), 6) AS d2
  FROM v a CROSS JOIN cw
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
    FROM dists
  ) WHERE rn = 1
)
"""


def _oracle_pq_codes() -> str:
    return (
        _pq_oracle_cte()
        + """
SELECT vec_id,
       string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS code_str,
       CAST(sum(code) AS INTEGER) AS code_sum
FROM codes GROUP BY vec_id
"""
    )


QUERIES["q_pq_codes"] = q_pq_codes
ORACLE["q_pq_codes"] = _oracle_pq_codes()


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: exact query vector vs candidates
    reconstructed from their 8-byte codes — the scan that reads codes,
    not vectors (the memory-bound regime PQ exists for). Ranked by
    6-decimal cosine; emitted score coarsened to 2 decimals (engine
    libm lane-order drift, same policy as q_knn_join)."""
    from sandbox_data_pipeline_spark.operators.similarity import pq_adc_topk

    emb = table(spark, sf_dir, "embeddings")
    out = pq_adc_topk(emb, _queries_df(spark, sf_dir), DIM, k=TOPK)
    return out.select(
        "query_id", "rank", "cand_id", stable_round(F.col("adc_sim"), 2).alias("adc2")
    )


def _oracle_pq_adc_topk() -> str:
    from sandbox_data_pipeline_spark.operators.similarity import PQ_M

    sub = DIM // PQ_M
    cos = _COS.format(a="q.qv", b="r.rv")
    return (
        _pq_oracle_cte()
        + f""",
recon AS (
  SELECT codes.vec_id AS cand_id, flatten(list(cw.cw ORDER BY codes.s)) AS rv
  FROM codes JOIN cw ON cw.s = codes.s AND cw.code = codes.code
  GROUP BY codes.vec_id
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % {QUERY_MOD} = 0),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS adc_sim
  FROM q JOIN recon r ON cand_id <> query_id
),
ranked AS (
  SELECT query_id, cand_id, adc_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY adc_sim DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id,
       (floor(round(adc_sim, 4) * 100.0 + 0.5) / 100.0) AS adc2
FROM ranked WHERE rank <= {TOPK}
"""
    )


QUERIES["q_pq_adc_topk"] = q_pq_adc_topk
ORACLE["q_pq_adc_topk"] = _oracle_pq_adc_topk()


KNN_QUERY_MOD = 20  # 5% of the corpus queries — large enough to forbid broadcast


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-only KNN join: a corpus-scale query set (5% of vectors)
    against the corpus, co-bucketed by SRP with Hamming-1 multiprobe.
    Neither side broadcasts — the plan this engine runs when the
    'queries' are themselves 100 TB of vectors."""
    from sandbox_data_pipeline_spark.operators.similarity import knn_join

    emb = table(spark, sf_dir, "embeddings")
    out = knn_join(
        emb.where(F.col("vec_id") % KNN_QUERY_MOD == 0),
        emb,
        dim=DIM,
        planes=PLANES,
        k=TOPK,
        multiprobe=1,
    )
    # The hashed contract is the RANKING (rank breaks ties on the
    # 6-decimal cosine + cand_id); the emitted score is coarsened to 2
    # decimals because both engines' list-dot kernels sum in different
    # lane orders — a 1-ulp drift at a 4-decimal half boundary is real
    # (observed), at 2 decimals it is negligible.
    return out.select(
        "query_id", "rank", "cand_id", stable_round(F.col("cos_sim"), 2).alias("cos2")
    )


def _oracle_knn_join() -> str:
    cos = _COS.format(a="q.qv", b="c.v")
    probe_list = "[b.bucket" + "".join(
        f", xor(b.bucket, {1 << p})" for p in range(PLANES)
    ) + "]"
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, {_bucket_sql('v')} AS bucket FROM v),
q AS (
  SELECT v.vec_id AS query_id, v.v AS qv, unnest({probe_list}) AS bucket
  FROM v JOIN b USING (vec_id)
  WHERE v.vec_id % {KNN_QUERY_MOD} = 0
),
c AS (SELECT v.vec_id AS cand_id, v, bucket FROM v JOIN b USING (vec_id)),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c USING (bucket)
  WHERE cand_id <> query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id,
       (floor(round(cos_sim, 4) * 100.0 + 0.5) / 100.0) AS cos2
FROM ranked WHERE rank <= {TOPK}
"""


QUERIES["q_knn_join"] = q_knn_join
ORACLE["q_knn_join"] = _oracle_knn_join()


def q_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index-build pass: norm + SRP bucket + IVF list per
    vector in one map-side scan (see build_ann_index)."""
    from sandbox_data_pipeline_spark.operators.similarity import build_ann_index

    return build_ann_index(
        table(spark, sf_dir, "embeddings"),
        dim=DIM,
        planes=PLANES,
        n_centroids=N_CENTROIDS,
    )


def _oracle_ann_index() -> str:
    return (
        _IVF_BASE.format(n_centroids=N_CENTROIDS)
        + f"""
SELECT v.vec_id,
       round(sqrt(list_dot_product(v.v, v.v)), 6) AS norm,
       {_bucket_sql('v.v')} AS bucket,
       asg.list_id
FROM v JOIN asg USING (vec_id)
"""
    )


QUERIES["q_ann_index"] = q_ann_index
ORACLE["q_ann_index"] = _oracle_ann_index()


INCR_MOD = 10  # batch = vec_id % 10 == 0, base = the rest


def q_ann_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance report: a new vector batch is
    assigned with the BASE corpus's frozen centroids (append-only — the
    increment never reshuffles the existing index) and the per-list
    occupancy growth is the drift signal a serving deployment watches
    to schedule centroid re-training. Map-side assignment on both
    sides; the report aggregates |lists| rows."""
    from sandbox_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % INCR_MOD != 0)
    batch = emb.where(F.col("vec_id") % INCR_MOD == 0)
    cents = ivf_centroids(base, N_CENTROIDS)
    b = ivf_assign(base, cents).groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_base")
    )
    n = ivf_assign(batch, cents).groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return (
        b.join(n, "list_id", "full")
        .select(
            "list_id",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.round(
                F.coalesce("n_new", F.lit(0)) / F.coalesce("n_base", F.lit(1)), 6
            ).alias("growth_ratio"),
        )
    )


def _oracle_ann_drift() -> str:
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
base AS (SELECT * FROM v WHERE vec_id % {INCR_MOD} <> 0),
batch AS (SELECT * FROM v WHERE vec_id % {INCR_MOD} = 0),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM base ORDER BY vec_id LIMIT {N_CENTROIDS}),
asg_base AS (
  SELECT vec_id, centroid_id AS list_id FROM (
    SELECT a.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY a.vec_id ORDER BY
               round(list_dot_product(a.v, c.cv) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id
           ) AS rn
    FROM base a CROSS JOIN cent c
  ) WHERE rn = 1
),
asg_batch AS (
  SELECT vec_id, centroid_id AS list_id FROM (
    SELECT a.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY a.vec_id ORDER BY
               round(list_dot_product(a.v, c.cv) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id
           ) AS rn
    FROM batch a CROSS JOIN cent c
  ) WHERE rn = 1
),
b AS (SELECT list_id, count(*) AS n_base FROM asg_base GROUP BY 1),
n AS (SELECT list_id, count(*) AS n_new FROM asg_batch GROUP BY 1)
SELECT coalesce(b.list_id, n.list_id) AS list_id,
       coalesce(n_base, 0) AS n_base,
       coalesce(n_new, 0) AS n_new,
       round(coalesce(n_new, 0) / coalesce(n_base, 1), 6) AS growth_ratio
FROM b FULL OUTER JOIN n ON b.list_id = n.list_id
"""


QUERIES["q_ann_index_drift"] = q_ann_index_drift
ORACLE["q_ann_index_drift"] = _oracle_ann_drift()


def q_crosslingual_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual duplicate detection: embedding near-dup pairs
    whose documents carry DIFFERENT language tags — the translated-
    duplicate signal text shingles cannot see (no shared n-grams
    across languages; the embedding space is the only blocker that
    catches it). Pairs from the scale-safe LSH-blocked path, language
    tags joined narrowly by id."""
    pairs = q_similarity_near_dup_lsh(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .where(F.col("lang_a") != F.col("lang_b"))
        .select("id_a", "id_b", "cos_sim", "lang_a", "lang_b")
    )


def _oracle_crosslingual() -> str:
    return f"""
WITH nd AS ({_oracle_near_dup_lsh()})
SELECT nd.id_a, nd.id_b, nd.cos_sim, a.lang AS lang_a, b.lang AS lang_b
FROM nd
JOIN documents a ON a.doc_id = nd.id_a
JOIN documents b ON b.doc_id = nd.id_b
WHERE a.lang <> b.lang
"""


QUERIES["q_crosslingual_dups"] = q_crosslingual_dups
ORACLE["q_crosslingual_dups"] = _oracle_crosslingual()


HARD_CEIL = NEAR_T  # negatives must sit BELOW the near-dup threshold


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query, the top-k most-similar
    candidates strictly BELOW the near-duplicate ceiling — the pairs a
    contrastive loss learns the most from, with likely-positives
    excluded by the same threshold the near-dup detector uses
    (operators/similarity.py: brute_force_topk(ceiling=...))."""
    emb = table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb, _queries_df(spark, sf_dir), k=TOPK, ceiling=HARD_CEIL
    )


def _oracle_hard_negatives() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id AS cand_id, v FROM v),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c ON cand_id <> query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims WHERE cos_sim < {HARD_CEIL}
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id, round(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOPK}
"""


QUERIES["q_hard_negatives"] = q_hard_negatives
ORACLE["q_hard_negatives"] = _oracle_hard_negatives()


def q_training_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets assembled end-to-end: anchors and
    positives from the near-duplicate detector (cos >= NEAR_T, label-
    blocked), negatives from the deterministic hash ring
    (operators/ids.py) — one row per (anchor, positive) with its ring
    negative. The composition query a contrastive data loader actually
    consumes; every leg is itself oracle-verified."""
    from sandbox_data_pipeline_spark.operators.ids import ring_negative_samples

    emb = table(spark, sf_dir, "embeddings")
    pos = near_dup_pairs(emb, threshold=NEAR_T, block_col="label").select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("positive_id"),
        F.col("cos_sim").alias("pos_sim"),
    )
    neg = (
        ring_negative_samples(emb, k=1, id_col="vec_id")
        .where(F.col("neg_idx") == 1)
        .select(F.col("anchor_id"), F.col("negative_id"))
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id", "positive_id", "negative_id", "pos_sim"
    )


def _oracle_triplets() -> str:
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pos AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS positive_id, round({cos}, 4) AS pos_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({cos}, 4) >= {NEAR_T}
),
ranked AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
  FROM embeddings
),
nn AS (SELECT count(*) AS n, count(*) // 2 AS step FROM ranked),
neg AS (
  SELECT a.vec_id AS anchor_id, p.vec_id AS negative_id
  FROM ranked a CROSS JOIN nn JOIN ranked p ON p.r = (a.r + step) % n
  WHERE a.vec_id <> p.vec_id
)
SELECT anchor_id, positive_id, negative_id, pos_sim
FROM pos JOIN neg USING (anchor_id)
"""


QUERIES["q_training_triplets"] = q_training_triplets
ORACLE["q_training_triplets"] = _oracle_triplets()


def q_rag_index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval index build — the RAG-prep composition:
    overlapping chunk manifests (operators/text.py: chunk_documents)
    joined to each document's embedding with the SRP bucket assigned
    inline on the embedding scan (operators/similarity.py:
    lsh_buckets), plus routing metadata. The output is the chunk-level
    manifest a vector store ingests: (chunk span, bucket, lang,
    source).

    One Catalyst plan: the chunk explode is shuffle-free; the two
    joins key on doc_id so AQE lays both out on one hash layout (at
    100 TB neither side broadcasts — embeddings are corpus-sized —
    and that single co-keyed exchange is the whole cost)."""
    from sandbox_data_pipeline_spark.operators.similarity import lsh_buckets
    from sandbox_data_pipeline_spark.operators.text import chunk_documents

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, stride=24).select(
        "doc_id", "chunk_idx", "tok_start", "tok_end", "n_chunk_toks"
    )
    buckets = lsh_buckets(table(spark, sf_dir, "embeddings"), DIM, PLANES).select(
        F.col("vec_id").alias("doc_id"), "bucket"
    )
    meta = docs.select("doc_id", "lang", "source")
    return (
        chunks.join(buckets, "doc_id")
        .join(meta, "doc_id")
        .select(
            "doc_id", "chunk_idx", "tok_start", "tok_end", "n_chunk_toks",
            "bucket", "lang", "source",
        )
    )


def _oracle_rag_index() -> str:
    from sandbox_data_pipeline_spark.queries.text import _oracle_doc_chunks

    return f"""
WITH chunks AS ({_oracle_doc_chunks()}),
b AS (
  SELECT vec_id AS doc_id, {_bucket_sql('v')} AS bucket
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
)
SELECT c.doc_id, c.chunk_idx, c.tok_start, c.tok_end, c.n_chunk_toks,
       b.bucket, d.lang, d.source
FROM chunks c JOIN b USING (doc_id) JOIN documents d USING (doc_id)
"""


QUERIES["q_rag_index_pipeline"] = q_rag_index_pipeline
ORACLE["q_rag_index_pipeline"] = _oracle_rag_index()


MMR_POOL = 10
MMR_K = 3
MMR_LAM = 0.7


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: MMR re-ranking of the top-10
    relevance pool down to 3 diverse results per query; see
    operators/similarity.py: mmr_rerank."""
    from sandbox_data_pipeline_spark.operators.similarity import mmr_rerank

    return mmr_rerank(
        table(spark, sf_dir, "embeddings"),
        _queries_df(spark, sf_dir),
        pool_k=MMR_POOL,
        select_k=MMR_K,
        lam=MMR_LAM,
    )


def _oracle_mmr() -> str:
    # emit the EXACT IEEE doubles the Spark side uses: lam and (1-lam)
    # as computed in binary, not their decimal shorthand
    lam = repr(MMR_LAM)
    one_minus = repr(1.0 - MMR_LAM)
    cos_qc = _COS.format(a="q.v", b="c.v")
    cos_ss = _COS.format(a="p.cv", b="s.cv")
    steps = []
    for k in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, cand_id, cv FROM s{j}" for j in range(1, k)
        )
        steps.append(f"""selu{k - 1} AS MATERIALIZED ({prev}),
scored{k} AS MATERIALIZED (
  SELECT p.query_id, p.cand_id, p.rel, p.cv,
         round(CAST({lam} AS DOUBLE) * p.rel
               - CAST({one_minus} AS DOUBLE) * max(round({cos_ss}, 6)), 6)
           AS mmr_score
  FROM pool p
  JOIN selu{k - 1} s ON s.query_id = p.query_id
  LEFT JOIN selu{k - 1} x ON x.query_id = p.query_id AND x.cand_id = p.cand_id
  WHERE x.cand_id IS NULL
  GROUP BY p.query_id, p.cand_id, p.rel, p.cv
),
s{k} AS MATERIALIZED (
  SELECT query_id, {k} AS mmr_rank, cand_id, rel, mmr_score, cv
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr_score DESC, cand_id) AS r
    FROM scored{k}
  ) WHERE r = 1
)""")
    chain = ",\n".join(steps)
    union = " UNION ALL ".join(
        f"SELECT query_id, mmr_rank, cand_id, rel, mmr_score FROM s{j}"
        for j in range(1, MMR_K + 1)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id AS cand_id, v FROM v),
pool AS MATERIALIZED (
  SELECT query_id, cand_id, rel, cv, r FROM (
    SELECT query_id, cand_id, round({cos_qc}, 6) AS rel, c.v AS cv,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round({cos_qc}, 6) DESC, cand_id) AS r
    FROM q JOIN c ON cand_id <> query_id
  ) WHERE r <= {MMR_POOL}
),
s1 AS MATERIALIZED (
  SELECT query_id, 1 AS mmr_rank, cand_id, rel, rel AS mmr_score, cv
  FROM pool WHERE r = 1
),
{chain}
SELECT query_id, mmr_rank, cand_id,
       round(rel, 4) AS relevance, round(mmr_score, 4) AS mmr_score
FROM ({union})
"""


QUERIES["q_mmr_rerank"] = q_mmr_rerank
ORACLE["q_mmr_rerank"] = _oracle_mmr()


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus gram matrix (second-moment matrix) of the embedding
    column — the distributed half of PCA/whitening. One numpy matmul
    per Arrow batch emits d(d+1)/2 upper-triangle partials; a tiny
    groupBy(i,j) sums them (operators/linalg.py module docstring for
    the 100 TB budget). Graded in the quantized-exact mode: components
    truncated at 1e-6 and summed in decimal(38,0), which both engines
    replay bit-identically — truncating double(float32)*1e6 has no
    round-half tie channel, and integer sums are association-free."""
    from sandbox_data_pipeline_spark.operators.linalg import gram_matrix

    emb = table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, col="embedding", dim=DIM, quantize_scale=6)


_ORACLE_GRAM = f"""
WITH q AS (
  SELECT vec_id,
         CAST(t.i AS INTEGER) AS i,
         CAST(trunc(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS x
  FROM embeddings, range({DIM}) t(i)
)
SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS s, COUNT(*) AS n_vecs
FROM q a JOIN q b USING (vec_id)
WHERE a.i <= b.i
GROUP BY 1, 2
"""

QUERIES["q_embedding_gram"] = q_embedding_gram
ORACLE["q_embedding_gram"] = _ORACLE_GRAM


# --- Hybrid retrieval: reciprocal-rank fusion --------------------------------

RRF_K = 60
RRF_DEPTH = 20
RRF_TOP = 10
RRF_QUERY_VEC = 0  # the pinned semantic query: embeddings row vec_id 0


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the lexical BM25 list and the semantic
    cosine list with reciprocal-rank fusion (score = Σ 1/(k + rank)).
    Ranks are exact integers, each 1/(k+r) is one correctly-rounded
    IEEE division and the fusion is one fixed-order addition — so the
    fused scores are bit-identical cross-engine and the ordering is
    deterministic (ties break on id). Both input lists are top-DEPTH
    only, so fusion runs on 2·DEPTH rows regardless of corpus size —
    the production shape: retrieval prunes, fusion is free."""
    from sandbox_data_pipeline_spark.operators.similarity import brute_force_topk
    from sandbox_data_pipeline_spark.operators.text import bm25_topk
    from sandbox_data_pipeline_spark.queries.text import BM25_TERMS

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, BM25_TERMS, k=RRF_DEPTH).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("lex_rank")
    )
    qv = emb.where(F.col("vec_id") == RRF_QUERY_VEC)
    sem = brute_force_topk(emb, qv, k=RRF_DEPTH).select(
        F.col("cand_id").alias("id"), F.col("rank").alias("sem_rank")
    )
    one = F.lit(1.0)
    zero = F.lit(0.0)
    fused = lex.join(sem, "id", "full_outer").select(
        "id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(one / (F.lit(RRF_K) + F.col("lex_rank")), zero)
            + F.coalesce(one / (F.lit(RRF_K) + F.col("sem_rank")), zero)
        ).alias("rrf"),
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= RRF_TOP)
        .select("fused_rank", "id", "lex_rank", "sem_rank", "rrf")
    )


def _oracle_hybrid_rrf() -> str:
    from sandbox_data_pipeline_spark.queries.text import _oracle_bm25

    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH lex AS (
  SELECT doc_id AS id, rank AS lex_rank FROM ({_oracle_bm25()}) WHERE rank <= {RRF_DEPTH}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id = {RRF_QUERY_VEC}),
c AS (SELECT vec_id AS cand_id, v FROM v),
sims AS (
  SELECT cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c ON cand_id <> query_id
),
sem AS (
  SELECT id, sem_rank FROM (
    SELECT cand_id AS id,
           CAST(row_number() OVER (ORDER BY cos_sim DESC, cand_id) AS INTEGER)
             AS sem_rank
    FROM sims
  ) WHERE sem_rank <= {RRF_DEPTH}
),
fused AS (
  SELECT id, lex_rank, sem_rank,
         coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + lex_rank), CAST(0 AS DOUBLE))
           + coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + sem_rank), CAST(0 AS DOUBLE))
           AS rrf
  FROM lex FULL OUTER JOIN sem USING (id)
)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INTEGER) AS fused_rank,
       id, lex_rank, sem_rank, rrf
FROM fused
ORDER BY rrf DESC, id
LIMIT {RRF_TOP}
"""


QUERIES["q_hybrid_rrf"] = q_hybrid_rrf
ORACLE["q_hybrid_rrf"] = _oracle_hybrid_rrf()


def q_auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of a scoring function against binary labels via
    the Mann-Whitney rank statistic — the classifier-quality metric a
    quality-filter training pipeline reports (score = first embedding
    component, positive = label < 5; the VALUE is incidental, the
    exact distributed computation is the product).

    Tie-safe: per distinct score, the doubled average 1-based rank is
    min_rank + max_rank + 2 (exact integers), so
    AUC = (2*ranksum - 2*n_pos*(n_pos+1)/2) / (2*n_pos*n_neg) computes
    from integer sums with ONE final division. Ranks come from the
    two-phase range ranking (operators/ids.py) — no single-partition
    sort; the per-score collapse is a groupBy (partial-combined), not
    a window, so nothing scales past the range exchange."""
    from sandbox_data_pipeline_spark.operators.ids import stable_global_ids

    rows = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("score"),
        (F.col("label") < 5).alias("pos"),
    )
    ranked = stable_global_ids(rows, ["score", "vec_id"], out="r")
    grp = ranked.groupBy("score").agg(
        F.min("r").alias("mn"),
        F.max("r").alias("mx"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
    )
    rs = grp.agg(
        F.sum(F.col("np") * (F.col("mn") + F.col("mx") + 2)).alias("ranksum2")
    )
    tot = rows.agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("n_neg"),
    )
    return tot.crossJoin(F.broadcast(rs)).select(
        "n_pos",
        "n_neg",
        stable_round(
            (F.col("ranksum2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


ORACLE["q_auc_score"] = f"""
WITH rows_ AS (
  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score, (label < 5) AS pos FROM embeddings
),
ranked AS (
  SELECT score, pos,
         row_number() OVER (ORDER BY score, vec_id) - 1 AS r
  FROM rows_
),
grp AS (
  SELECT score, min(r) AS mn, max(r) AS mx,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np
  FROM ranked GROUP BY 1
),
rs AS (
  SELECT CAST(sum(np * (mn + mx + 2)) AS BIGINT) AS ranksum2 FROM grp
),
tot AS (
  SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM rows_
)
SELECT n_pos, n_neg,
       {stable_round_sql("(ranksum2 - n_pos * (n_pos + 1)) / (2 * n_pos * n_neg)", 6)} AS auc
FROM tot CROSS JOIN rs
"""
QUERIES["q_auc_score"] = q_auc_score


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table of the same score/label pair: 10 equal-width
    score bins between the global min and max, positive rate per bin
    — the reliability-diagram input. Bin edges derive from one
    2-value broadcast aggregate; binning is a scan-side expression;
    the result is a 10-row groupBy. Bin ids and counts are exact
    integers; the only float is the final rate (identical operands
    both engines; the bin-assignment division sees the same global
    min/max on both sides)."""
    rows = table(spark, sf_dir, "embeddings").select(
        F.col("embedding")[0].cast("double").alias("score"),
        (F.col("label") < 5).alias("pos"),
    )
    mm = rows.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    binned = rows.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("score") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 10
            ),
        )
        .cast("int")
        .alias("bin"),
        "pos",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            stable_round(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
        )
    )


ORACLE["q_calibration_bins"] = f"""
WITH rows_ AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS score, (label < 5) AS pos FROM embeddings
),
mm AS (SELECT min(score) AS lo, max(score) AS hi FROM rows_),
binned AS (
  SELECT CAST(least(9, floor((score - lo) / (hi - lo) * 10)) AS INTEGER) AS bin,
         pos
  FROM rows_ CROSS JOIN mm
)
SELECT bin, count(*) AS n,
       CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       {stable_round_sql("sum(CASE WHEN pos THEN 1 ELSE 0 END) / count(*)", 6)} AS pos_rate
FROM binned GROUP BY 1
"""
QUERIES["q_calibration_bins"] = q_calibration_bins


# --- Histogram-based decision-stump split finding ---------------------------


def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based best-split search for a decision stump on one
    embedding feature against a binary label — the inner loop of
    gradient-boosted-tree training, done the way LightGBM does it at
    scale: bin the feature ONCE (here fixed-width bins, floor(f*32)),
    reduce to per-bin class counts, and scan split candidates over
    the tiny histogram instead of sorting raw rows.

    Every candidate boundary b (left = bins <= b) gets the exact stump
    accuracy: max(posL + negR, negL + posR) — pure integers from
    cumulative sums over the ordered histogram. Scale: ONE full-data
    shuffle (the per-bin aggregate, bounded at |bins| groups); the
    boundary scan is a window over the <= 64-row histogram. No global
    row sort ever happens — that is the point."""
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio

    rows = table(spark, sf_dir, "embeddings").select(
        F.floor(F.col("embedding")[0].cast("double") * 32).cast("int").alias("bin"),
        (F.col("label") < 5).alias("pos"),
    )
    hist = rows.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("n_neg"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = hist.agg(
        F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn")
    )
    cum = hist.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.sum("n_pos").over(w).alias("pos_l"),
        F.sum("n_neg").over(w).alias("neg_l"),
        "tp",
        "tn",
    )
    return cum.select(
        "bin",
        "pos_l",
        "neg_l",
        F.greatest(
            F.col("pos_l") + F.col("tn") - F.col("neg_l"),
            F.col("neg_l") + F.col("tp") - F.col("pos_l"),
        ).alias("acc"),
        dec_ratio(
            F.greatest(
                F.col("pos_l") + F.col("tn") - F.col("neg_l"),
                F.col("neg_l") + F.col("tp") - F.col("pos_l"),
            ),
            F.col("tp") + F.col("tn"),
            0,
            4,
        ).alias("acc_rate"),
    )


def _oracle_best_split() -> str:
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio_sql

    acc = (
        "greatest(pos_l + tn - neg_l, neg_l + tp - pos_l)"
    )
    return f"""
WITH rows_ AS (
  SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 32) AS INTEGER) AS bin,
         (label < 5) AS pos
  FROM embeddings
),
hist AS (
  SELECT bin,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM rows_ GROUP BY 1
),
tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM hist),
cum AS (
  SELECT bin,
         CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) AS pos_l,
         CAST(sum(n_neg) OVER (ORDER BY bin) AS BIGINT) AS neg_l,
         CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn
  FROM hist CROSS JOIN tot
)
SELECT bin, pos_l, neg_l,
       {acc} AS acc,
       {dec_ratio_sql(acc, "tp + tn", 0, 4)} AS acc_rate
FROM cum
"""


ORACLE["q_best_split"] = _oracle_best_split()
QUERIES["q_best_split"] = q_best_split


# --- Binned precision-recall curve ------------------------------------------


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned precision-recall curve for the same score/label pair as
    q_auc_score — one (precision, recall) operating point per score
    bin, sweeping the threshold from the highest bin down. The
    ranking-quality diagnostic read next to the scalar AUC.

    Same scale shape as q_best_split: one bounded-cardinality bin
    aggregate is the only full-data shuffle; the threshold sweep is a
    descending cumulative window over the <= 64-row histogram, and
    the class totals broadcast. Exact integers into dec_ratio."""
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio

    rows = table(spark, sf_dir, "embeddings").select(
        F.floor(F.col("embedding")[0].cast("double") * 32).cast("int").alias("bin"),
        (F.col("label") < 5).alias("pos"),
    )
    hist = rows.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("n_neg"),
    )
    tot = hist.agg(F.sum("n_pos").alias("tp_all"))
    w = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.sum("n_pos").over(w).alias("tp"),
        F.sum("n_neg").over(w).alias("fp"),
        "tp_all",
    )
    return cum.select(
        "bin",
        "tp",
        "fp",
        dec_ratio(F.col("tp"), F.col("tp") + F.col("fp"), 0, 4).alias("precision_d"),
        dec_ratio(F.col("tp"), F.col("tp_all"), 0, 4).alias("recall_d"),
    )


def _oracle_pr_curve() -> str:
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio_sql

    return f"""
WITH rows_ AS (
  SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 32) AS INTEGER) AS bin,
         (label < 5) AS pos
  FROM embeddings
),
hist AS (
  SELECT bin,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM rows_ GROUP BY 1
),
tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp_all FROM hist),
cum AS (
  SELECT bin,
         CAST(sum(n_pos) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
         CAST(sum(n_neg) OVER (ORDER BY bin DESC) AS BIGINT) AS fp,
         tp_all
  FROM hist CROSS JOIN tot
)
SELECT bin, tp, fp,
       {dec_ratio_sql("tp", "tp + fp", 0, 4)} AS precision_d,
       {dec_ratio_sql("tp", "tp_all", 0, 4)} AS recall_d
FROM cum
"""


ORACLE["q_pr_curve"] = _oracle_pr_curve()
QUERIES["q_pr_curve"] = q_pr_curve


# --- Local Outlier Factor over the SRP-KNN graph ----------------------------

LOF_FLAG_X1E6 = 1_300_000  # flag lof > 1.3


def q_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig et al.) over the embedding
    corpus: each point's density relative to its neighbors' — the
    density-adaptive outlier detector that a global distance cutoff
    can't replicate (a point at cluster's edge and a point in a
    sparse region have the same kNN radius but very different LOF).

    The kNN graph comes from the SAME shuffle-only SRP-bucketed KNN
    join the retrieval family uses (neither side broadcasts, per-
    bucket work bounded by 2^planes occupancy) — LOF at 100 TB is
    exactly 'ANN graph + three bounded joins', and the graph is the
    expensive part, already paid. Distances integerize from the
    ranked 4-decimal cosine (d = 10^4 − cos·10^4), so reach-dist,
    k-dist, and the density sums are EXACT integers; the two
    divisions per term go through dec_ratio. Neighborhood sizes vary
    with bucket occupancy, so the variable-n LOF form is used:
    LOF(p) = Σ_o (n_o·R_p)/(R_o·n_p²), each term one exact decimal.
    R=0 (an all-duplicate neighborhood) clamps to 1 — the point is
    infinitely dense; its LOF terms carry R_p=0 and emit 0."""
    from sandbox_data_pipeline_spark.operators.similarity import knn_join
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio

    emb = table(spark, sf_dir, "embeddings")
    # eager cut (r12): the kNN graph feeds kd, reach AND terms —
    # exchange reuse does not cover all three references, so the
    # bucketed join pipeline executed repeatedly (measured interleaved
    # min-of-3: 3.2–3.8 s → 2.6–2.9 s). k·N-bounded rows.
    edges = cut(
        knn_join(emb, emb, dim=DIM, planes=PLANES, k=TOPK, multiprobe=1)
        .select(
            F.col("query_id").alias("p"),
            F.col("cand_id").alias("o"),
            # integerize from the 6-decimal RANKING score (cos6), not
            # the 4-decimal display score: re-rounding cos6 to 4 lands
            # on exact decimal ties where Spark (HALF_UP) and DuckDB
            # (half-even) split — observed as ±1e-4 distance flips
            (F.lit(1000000) - F.floor(F.col("cos6") * 1000000 + F.lit(0.5)))
            .cast("long")
            .alias("d"),
        )
    )
    kd = edges.groupBy("p").agg(
        F.max("d").alias("kdist"), F.count(F.lit(1)).alias("n_nb")
    )
    reach = edges.join(
        kd.select(F.col("p").alias("o"), F.col("kdist").alias("kdist_o")),
        "o",
    ).select("p", "o", F.greatest(F.col("kdist_o"), F.col("d")).alias("rd"))
    r = reach.groupBy("p").agg(F.sum("rd").alias("r_raw"))
    r = r.join(kd, "p").select(
        "p", "n_nb", "kdist", F.greatest(F.col("r_raw"), F.lit(1)).alias("r")
    )
    terms = (
        edges.join(r.select("p", "n_nb", "r"), "p")
        .join(
            r.select(
                F.col("p").alias("o"),
                F.col("n_nb").alias("n_o"),
                F.col("r").alias("r_o"),
            ),
            "o",
        )
        .select(
            "p",
            dec_ratio(
                F.col("n_o").cast("decimal(38,0)") * F.col("r"),
                F.col("r_o").cast("decimal(38,0)")
                * F.col("n_nb")
                * F.col("n_nb"),
                0,
                6,
            ).alias("term"),
        )
    )
    lof = terms.groupBy("p").agg(F.sum("term").alias("lof_raw"))
    return (
        lof.join(r, "p")
        .select(
            F.col("p").alias("vec_id"),
            "n_nb",
            "kdist",
            F.col("lof_raw").cast("decimal(18,6)").alias("lof"),
            F.when(
                F.col("lof_raw") * 1000000 > LOF_FLAG_X1E6, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("is_outlier"),
        )
    )


def _oracle_lof() -> str:
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio_sql

    cos = _COS.format(a="q.qv", b="c.v")
    probe_list = "[b.bucket" + "".join(
        f", xor(b.bucket, {1 << p})" for p in range(PLANES)
    ) + "]"
    term = dec_ratio_sql("ro.n_nb * rp.r", "ro.r * rp.n_nb * rp.n_nb", 0, 6)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS MATERIALIZED (SELECT vec_id, {_bucket_sql('v')} AS bucket FROM v),
q AS (
  SELECT v.vec_id AS query_id, v.v AS qv, unnest({probe_list}) AS bucket
  FROM v JOIN b USING (vec_id)
),
c AS (SELECT v.vec_id AS cand_id, v, bucket FROM v JOIN b USING (vec_id)),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c USING (bucket)
  WHERE cand_id <> query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sims
),
edges AS MATERIALIZED (
  SELECT query_id AS p, cand_id AS o,
         CAST(1000000 - floor(cos_sim * 1000000 + 0.5) AS BIGINT) AS d
  FROM ranked WHERE rank <= {TOPK}
),
kd AS MATERIALIZED (
  SELECT p, max(d) AS kdist, count(*) AS n_nb FROM edges GROUP BY 1
),
reach AS (
  SELECT e.p, e.o, greatest(ko.kdist, e.d) AS rd
  FROM edges e JOIN kd ko ON ko.p = e.o
),
r AS MATERIALIZED (
  SELECT reach.p, kd.n_nb, kd.kdist,
         greatest(sum(rd), 1) AS r
  FROM reach JOIN kd ON kd.p = reach.p
  GROUP BY 1, 2, 3
),
terms AS (
  SELECT e.p, {term} AS term
  FROM edges e
  JOIN r rp ON rp.p = e.p
  JOIN r ro ON ro.p = e.o
),
lof AS (SELECT p, sum(term) AS lof_raw FROM terms GROUP BY 1)
SELECT r.p AS vec_id, CAST(r.n_nb AS BIGINT) AS n_nb,
       CAST(r.kdist AS BIGINT) AS kdist,
       CAST(lof_raw AS DECIMAL(18,6)) AS lof,
       CAST(CASE WHEN lof_raw * 1000000 > {LOF_FLAG_X1E6} THEN 1 ELSE 0 END
            AS INTEGER) AS is_outlier
FROM lof JOIN r ON r.p = lof.p
"""


QUERIES["q_lof_outliers"] = q_lof_outliers
ORACLE["q_lof_outliers"] = _oracle_lof()


# --- nDCG@k retrieval evaluation --------------------------------------------

# 1/log2(rank+1) discounts and their prefix sums, precomputed ONCE in
# Python and embedded as IDENTICAL double literals in both engines —
# the discounts are irrational, but a shared literal cannot drift.
_DCG_DISCOUNT = {r: 1.0 / __import__("math").log2(r + 1) for r in range(1, TOPK + 1)}
_IDCG_PREFIX = {0: 0.0}
for _r in range(1, TOPK + 1):
    _IDCG_PREFIX[_r] = _IDCG_PREFIX[_r - 1] + _DCG_DISCOUNT[_r]
del _r


def q_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k of the SRP-bucketed KNN retrieval against the label
    column (relevant = neighbor shares the query's label) — the
    ranking-quality metric that, unlike q_ann_recall's set overlap,
    penalizes putting the relevant neighbors LOW. Closes the
    retrieval-eval loop: recall (set), AUC (global order), nDCG
    (per-query order).

    The log2 discounts are per-rank constants, so DCG is a sum of
    shared double literals gated by integer relevance flags, and IDCG
    is a 6-way CASE on the relevant count — no engine libm call
    anywhere. One broadcast label join onto the bounded KNN edge
    list; the per-query aggregate rides the edge list's existing
    (query) partitioning."""
    emb = table(spark, sf_dir, "embeddings")
    edges = q_knn_join(spark, sf_dir)
    labels = emb.select("vec_id", "label")
    j = (
        edges.join(
            F.broadcast(labels.select(F.col("vec_id").alias("query_id"),
                                      F.col("label").alias("q_label"))),
            "query_id",
        )
        .join(
            F.broadcast(labels.select(F.col("vec_id").alias("cand_id"),
                                      F.col("label").alias("c_label"))),
            "cand_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("q_label") == F.col("c_label")).cast("int").alias("rel"),
        )
    )
    disc = F.lit(0.0)
    for r, d in _DCG_DISCOUNT.items():
        disc = F.when(F.col("rank") == r, F.lit(d)).otherwise(disc)
    per_q = j.groupBy("query_id").agg(
        F.sum("rel").alias("n_rel"),
        F.sum(F.col("rel") * disc).alias("dcg"),
    )
    idcg = F.lit(0.0)
    for n, v in _IDCG_PREFIX.items():
        idcg = F.when(F.col("n_rel") == n, F.lit(v)).otherwise(idcg)
    return per_q.select(
        "query_id",
        "n_rel",
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(stable_round(F.col("dcg") / idcg, 6))
        .alias("ndcg"),
    )


def _oracle_ndcg() -> str:
    disc = " ".join(
        f"WHEN {r} THEN {d!r}" for r, d in _DCG_DISCOUNT.items()
    )
    idcg = " ".join(
        f"WHEN {n} THEN {v!r}" for n, v in _IDCG_PREFIX.items()
    )
    knn = _oracle_knn_join().replace("cos2", "cos2_ignored")
    return f"""
WITH knn AS ({knn}),
lab AS (SELECT vec_id, label FROM embeddings),
j AS (
  SELECT knn.query_id, knn.rank,
         CAST(ql.label = cl.label AS INTEGER) AS rel
  FROM knn
  JOIN lab ql ON ql.vec_id = knn.query_id
  JOIN lab cl ON cl.vec_id = knn.cand_id
),
per_q AS (
  SELECT query_id,
         CAST(sum(rel) AS BIGINT) AS n_rel,
         sum(rel * (CASE rank {disc} ELSE 0.0 END)) AS dcg
  FROM j GROUP BY 1
)
SELECT query_id, n_rel,
       CASE WHEN n_rel = 0 THEN 0.0
            ELSE {stable_round_sql("dcg / (CASE n_rel " + idcg + " ELSE 1.0 END)", 6)}
       END AS ndcg
FROM per_q
"""


QUERIES["q_ndcg_at_k"] = q_ndcg_at_k
ORACLE["q_ndcg_at_k"] = _oracle_ndcg()


MATRYOSHKA_DIM = 16


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: recall@k of exact
    search on the FIRST 16 of 64 embedding dimensions against exact
    full-dimension search — the measurement behind serving truncated
    (MRL) embeddings at a fraction of the memory/compute. Same
    brute-force operator on a sliced vector column; the prefix slice
    is a narrow projection, so the cost is two broadcast scans, not a
    new index."""
    emb = table(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    exact = brute_force_topk(emb, q, k=TOPK).select(
        "query_id", F.col("cand_id").alias("exact_id")
    )
    pre = emb.select(
        "vec_id", F.slice("embedding", 1, MATRYOSHKA_DIM).alias("embedding")
    )
    pre_q = q.select(
        "vec_id", F.slice("embedding", 1, MATRYOSHKA_DIM).alias("embedding")
    )
    approx = brute_force_topk(pre, pre_q, k=TOPK).select(
        "query_id", F.col("cand_id").alias("approx_id")
    )
    hits = (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (exact.exact_id == approx.approx_id),
        )
        .groupBy(exact.query_id.alias("query_id"))
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("k"), 4
            ).alias("recall_prefix"),
        )
    )


def _oracle_matryoshka() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id AS cand_id, v FROM v),
sims AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM q JOIN c ON cand_id <> query_id
),
exact_hits AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, cand_id) AS rank
    FROM sims
  ) WHERE rank <= {TOPK}
),
vp AS (
  SELECT vec_id, CAST(embedding[1:{MATRYOSHKA_DIM}] AS DOUBLE[]) AS v
  FROM embeddings
),
qp AS (SELECT vec_id AS query_id, v FROM vp WHERE vec_id % {QUERY_MOD} = 0),
cp AS (SELECT vec_id AS cand_id, v FROM vp),
simsp AS (
  SELECT query_id, cand_id, round({cos}, 6) AS cos_sim
  FROM qp q JOIN cp c ON cand_id <> query_id
),
approx_hits AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, cand_id) AS rank
    FROM simsp
  ) WHERE rank <= {TOPK}
),
hits AS (
  SELECT e.query_id, count(*) AS hits
  FROM exact_hits e JOIN approx_hits a
    ON a.query_id = e.query_id AND a.cand_id = e.cand_id
  GROUP BY e.query_id
),
ks AS (SELECT query_id, count(*) AS k FROM exact_hits GROUP BY query_id)
SELECT ks.query_id,
       round(coalesce(hits.hits, 0) / ks.k, 4) AS recall_prefix
FROM ks LEFT JOIN hits ON hits.query_id = ks.query_id
"""


QUERIES["q_matryoshka_recall"] = q_matryoshka_recall
ORACLE["q_matryoshka_recall"] = _oracle_matryoshka()


def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the histogram-binned calibrated classifier (the
    q_calibration_bins predictor: p̂ = its bin's positive rate) plus
    the Murphy decomposition terms — with p̂ = the empirical bin rate,
    reliability is identically 0, so Brier = uncertainty − resolution,
    and the output cross-checks itself. Everything reduces on the
    10-row bin table: per-bin (p − y)² mass is a fixed double tree on
    exact integer counts, and the two Σs over bins run as ordered
    cumulative windows (bin asc; non-negative terms, MAX = last) —
    never an order-free double sum. One corpus scan total."""
    rows = table(spark, sf_dir, "embeddings").select(
        F.col("embedding")[0].cast("double").alias("score"),
        (F.col("label") < 5).alias("pos"),
    )
    mm = rows.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    binned = rows.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("score") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 10
            ),
        )
        .cast("int")
        .alias("bin"),
        "pos",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
    )
    p = F.col("n_pos").cast("double") / F.col("n")
    terms = bins.select(
        "bin",
        "n",
        "n_pos",
        (
            F.col("n_pos") * (F.lit(1.0) - p) * (F.lit(1.0) - p)
            + (F.col("n") - F.col("n_pos")) * p * p
        ).alias("sq_mass"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = terms.withColumn("cum_sq", F.sum("sq_mass").over(w))
    agg = cum.groupBy().agg(
        F.sum("n").alias("n_items"),
        F.sum("n_pos").alias("n_pos"),
        F.max("cum_sq").alias("sq_total"),
    )
    pbar = F.col("n_pos").cast("double") / F.col("n_items")
    brier = F.col("sq_total") / F.col("n_items")
    unc = pbar * (F.lit(1.0) - pbar)
    return agg.select(
        F.col("n_items").cast("long").alias("n_items"),
        stable_round(brier, 6).alias("brier"),
        stable_round(unc, 6).alias("uncertainty"),
        stable_round(unc - brier, 6).alias("resolution"),
    )


ORACLE["q_brier_score"] = """
WITH rows_ AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS score, (label < 5) AS pos
  FROM embeddings
),
mm AS (SELECT min(score) AS lo, max(score) AS hi FROM rows_),
binned AS (
  SELECT CAST(least(9, floor((score - lo) / (hi - lo) * 10)) AS INTEGER)
           AS bin,
         pos
  FROM rows_ CROSS JOIN mm
),
bins AS (
  SELECT bin, count(*) AS n,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
  FROM binned GROUP BY 1
),
terms AS (
  SELECT bin, n, n_pos,
         n_pos * (1.0 - CAST(n_pos AS DOUBLE) / n)
               * (1.0 - CAST(n_pos AS DOUBLE) / n)
         + (n - n_pos) * (CAST(n_pos AS DOUBLE) / n)
                       * (CAST(n_pos AS DOUBLE) / n) AS sq_mass
  FROM bins
),
cum AS (
  SELECT n, n_pos,
         sum(sq_mass) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_sq
  FROM terms
),
agg AS (
  SELECT sum(n) AS n_items, sum(n_pos) AS n_pos, max(cum_sq) AS sq_total
  FROM cum
)
SELECT CAST(n_items AS BIGINT) AS n_items,
       (floor((sq_total / n_items) * 1000000.0 + 0.5) / 1000000.0) AS brier,
       (floor(((CAST(n_pos AS DOUBLE) / n_items)
               * (1.0 - CAST(n_pos AS DOUBLE) / n_items)) * 1000000.0 + 0.5)
        / 1000000.0) AS uncertainty,
       (floor((((CAST(n_pos AS DOUBLE) / n_items)
                * (1.0 - CAST(n_pos AS DOUBLE) / n_items))
               - (sq_total / n_items)) * 1000000.0 + 0.5)
        / 1000000.0) AS resolution
FROM agg
"""
QUERIES["q_brier_score"] = q_brier_score


# --- Exact power-iteration PCA ------------------------------------------------

PCA_POWER_ITERS = 8
PCA_Q_SCALE = 2  # components truncated at 10^2 — sized so the whole
#                  iteration stays inside exact int64/double windows
PCA_V_SCALE = 128  # eigenvector carried with max-abs component = 2^7


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by EXACT
    fixed-point power iteration — the missing eigensolver half of
    q_embedding_gram's distributed PCA story.

    Distributed part: the d x d gram via one Arrow matmul per batch +
    a tiny (i, j) rollup (operators/linalg.py: gram_matrix, quantized
    mode — association-free integer sums). Driver part: 8 power steps
    on the collected 64x64 INTEGER matrix (2080-row collect — the
    bounded-driver-state contract of the BPE/k-means trainers); each
    step rescales the iterate to max-abs 2^7 with a floor whose
    operands sit provably clear of representability boundaries, so
    the whole trajectory is bit-identical across engines and
    partitionings, and the oracle replays it as 8 unrolled CTEs.
    All-positive start -> converges to the dominant eigenvector of
    the PSD gram with a stable sign. Output: the 64 integer loadings
    + the Rayleigh quotient (descaled to raw-embedding units)."""
    import math

    from sandbox_data_pipeline_spark.operators.linalg import gram_matrix

    emb = table(spark, sf_dir, "embeddings")
    rows = gram_matrix(
        emb, col="embedding", dim=DIM, quantize_scale=PCA_Q_SCALE
    ).collect()  # bounded: d(d+1)/2 = 2080 rows
    G = [[0] * DIM for _ in range(DIM)]
    for r in rows:
        i, j, s = r["i"], r["j"], int(r["s"])
        G[i][j] = s
        G[j][i] = s
    v = [PCA_V_SCALE] * DIM
    for _ in range(PCA_POWER_ITERS):
        u = [sum(G[i][j] * v[j] for j in range(DIM)) for i in range(DIM)]
        m = max(max(abs(x) for x in u), 1)
        # float(u*128)/m mirrors the oracle's CAST(... AS DOUBLE)/m
        v = [int(math.floor(float(x * PCA_V_SCALE) / m)) for x in u]
    num = sum(v[i] * G[i][j] * v[j] for i in range(DIM) for j in range(DIM))
    den = sum(x * x for x in v)
    out = spark.createDataFrame(
        [(i, v[i], num, den) for i in range(DIM)],
        "dim int, loading long, _num long, _den long",
    )
    qsq = float(10 ** (2 * PCA_Q_SCALE))
    return out.select(
        "dim",
        "loading",
        stable_round(
            F.col("_num").cast("double")
            / F.col("_den").cast("double")
            / F.lit(qsq),
            4,
        ).alias("rayleigh"),
    )


def _oracle_pca_power() -> str:
    steps = []
    prev = "v0"
    for k in range(1, PCA_POWER_ITERS + 1):
        steps.append(
            f"""u{k} AS MATERIALIZED (
  SELECT g.i, sum(g.s * v.x) AS u
  FROM gfull g JOIN {prev} v ON v.i = g.j GROUP BY 1
),
m{k} AS (SELECT greatest(max(abs(u)), 1) AS m FROM u{k}),
v{k} AS MATERIALIZED (
  SELECT u.i,
         CAST(floor(CAST(u.u * {PCA_V_SCALE} AS DOUBLE) / m.m) AS BIGINT)
           AS x
  FROM u{k} u CROSS JOIN m{k} m
)"""
        )
        prev = f"v{k}"
    chain = ",\n".join(steps)
    qsq = float(10 ** (2 * PCA_Q_SCALE))
    return f"""
WITH q AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         CAST(trunc(CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE)
                    * {float(10 ** PCA_Q_SCALE)}) AS BIGINT) AS x
  FROM embeddings, range({DIM}) t(i)
),
gup AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS s
  FROM q a JOIN q b USING (vec_id)
  WHERE a.i <= b.i GROUP BY 1, 2
),
gfull AS MATERIALIZED (
  SELECT i, j, s FROM gup
  UNION ALL
  SELECT j, i, s FROM gup WHERE i < j
),
v0 AS (
  SELECT CAST(t.i AS INTEGER) AS i, CAST({PCA_V_SCALE} AS BIGINT) AS x
  FROM range({DIM}) t(i)
),
{chain},
ray AS (
  SELECT
    (SELECT sum(a.x * g.s * b.x)
     FROM gfull g JOIN {prev} a ON a.i = g.i JOIN {prev} b ON b.i = g.j)
      AS num,
    (SELECT sum(x * x) FROM {prev}) AS den
)
SELECT v.i AS dim,
       v.x AS loading,
       {stable_round_sql(
           'CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE) / ' + str(qsq), 4
       )} AS rayleigh
FROM {prev} v CROSS JOIN ray r
"""


QUERIES["q_pca_power"] = q_pca_power
ORACLE["q_pca_power"] = _oracle_pca_power()


DBSCAN_EPS = 0.02
DBSCAN_MINPTS = 5


def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-partitioned DBSCAN over the embeddings' first two
    coordinates (the 2-D spatial regime grid DBSCAN is built for) —
    density clustering that finds arbitrary-shape clusters AND labels
    noise, which the k-means/IVF family cannot. Candidates come only
    from eps-grid 3x3 neighborhoods (exact by construction — see
    operators/similarity.grid_dbscan), cores are minPts-dense points,
    clusters are core-graph connected components, borders attach to
    their min core cluster. The oracle replays eps-neighborhoods
    brute-force + a recursive-CTE closure, so the hash match proves
    the grid candidate generation loses no pair."""
    from sandbox_data_pipeline_spark.operators.similarity import grid_dbscan

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].alias("x"),
        F.col("embedding")[1].alias("y"),
    )
    return grid_dbscan(emb, eps=DBSCAN_EPS, min_pts=DBSCAN_MINPTS)


def _oracle_dbscan() -> str:
    eps2 = repr(DBSCAN_EPS * DBSCAN_EPS)
    return f"""
WITH RECURSIVE
p AS (
  SELECT vec_id AS pid, CAST(embedding[1] AS DOUBLE) AS x,
         CAST(embedding[2] AS DOUBLE) AS y
  FROM embeddings
),
pairs AS (
  SELECT a.pid AS pid, b.pid AS qid
  FROM p a JOIN p b
    ON a.pid <> b.pid
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {eps2}
),
deg AS (SELECT pid, count(*) AS n_nbrs FROM pairs GROUP BY 1),
roles AS (
  SELECT p.pid, coalesce(d.n_nbrs, 0) + 1 >= {DBSCAN_MINPTS} AS is_core
  FROM p LEFT JOIN deg d ON d.pid = p.pid
),
core_pairs AS (
  SELECT pr.pid AS a, pr.qid AS b FROM pairs pr
  JOIN roles r1 ON r1.pid = pr.pid AND r1.is_core
  JOIN roles r2 ON r2.pid = pr.qid AND r2.is_core
),
reach (a, b) AS (
  SELECT a, b FROM core_pairs
  UNION
  SELECT r.a, e.b FROM reach r JOIN core_pairs e ON r.b = e.a
),
core_lab AS (
  SELECT r.pid,
         coalesce(
           (SELECT least(r.pid, min(rc.b)) FROM reach rc WHERE rc.a = r.pid),
           r.pid
         ) AS cluster_id
  FROM roles r WHERE r.is_core
),
border AS (
  SELECT pr.pid, min(cl.cluster_id) AS cluster_id
  FROM pairs pr
  JOIN roles r ON r.pid = pr.pid AND NOT r.is_core
  JOIN core_lab cl ON cl.pid = pr.qid
  GROUP BY 1
)
SELECT r.pid AS vec_id,
       CASE WHEN r.is_core THEN 'core'
            WHEN b.pid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(CASE WHEN r.is_core THEN c.cluster_id
                 ELSE b.cluster_id END AS BIGINT) AS cluster_id
FROM roles r
LEFT JOIN core_lab c ON c.pid = r.pid
LEFT JOIN border b ON b.pid = r.pid
"""


QUERIES["q_dbscan_grid"] = q_dbscan_grid
ORACLE["q_dbscan_grid"] = _oracle_dbscan()
