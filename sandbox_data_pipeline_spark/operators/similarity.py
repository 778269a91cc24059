"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; sign-random-projection
LSH (SimHash for vectors) is the scale path — candidates only within
matching hash buckets, turning O(Q·N) into O(Q·N/2^planes) expected.

Dot products are ``aggregate(zip_with(...))`` array expressions, with
one exception. Spark's higher-order functions never enter whole-stage
codegen: each call is interpreted and boxes every element. Per vector
(norms, SRP buckets) that is cheap. The broadcast top-k operators pay
it per pair but keep it, because blocking them would shuffle a corpus
that today streams map-side. ``knn_join`` already shuffles both sides
by bucket, so it scores each bucket in one Arrow kernel
(``mapInArrow``) that runs the same exact left fold over whole blocks
in numpy; its values are bit-identical to the expression's. The LSH
hyperplanes are deterministic (derived from md5 in the driver), so
results are reproducible and cross-engine checkable.

At 100 TB: the candidate set (query side) is small and broadcast; the
corpus side never shuffles for brute force (map-side join + per-partition
partial top-k via the window rank's partial sort). For LSH, the corpus
is bucketed once (one narrow pass) and reused across query batches.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.local_solve import fits_local
from sandbox_data_pipeline_spark.session import cut


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> columns, in-codegen."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_pre(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine with PRE-computed norm columns: the pair stage pays one
    dot instead of three (norms are per-vector, so every pair-join here
    computes them per ROW at scan time, not per PAIR). Bit-identical to
    ``cosine`` — same operand tree dot/(na·nb), norms produced by the
    same sqrt(dot(v,v)) expression on the same values."""
    return _dot(a, b) / (F.col(na) * F.col(nb))


def as_double_array(col: str) -> Column:
    return F.col(col).cast("array<double>")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ceiling: float | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries is expected small → broadcast; candidates stream by in one
    pass. Ranking is row_number over (query, rounded-sim desc, id) —
    the rounding keeps ranking deterministic across float-sum orders.

    ``ceiling`` (exclusive) drops candidates AT OR ABOVE that cosine
    before ranking — the hard-negative-mining mode: the closest
    candidates that are still below the near-duplicate threshold, the
    pairs a contrastive loss learns the most from.
    """
    cand = embeddings.withColumn("_v", as_double_array(vec_col)).select(
        F.col(id_col).alias("cand_id"), F.col("_v").alias("cvec"), _norm("_v").alias("cn")
    )
    q = queries.withColumn("_v", as_double_array(vec_col)).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qvec"), _norm("_v").alias("qn")
    )
    sims = (
        cand.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_pre("qvec", "cvec", "qn", "cn"), 6).alias("cos_sim"),
        )
    )
    if ceiling is not None:
        sims = sims.where(F.col("cos_sim") < F.lit(ceiling))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


def hyperplanes(dim: int, planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(plane||dim) — reproducible
    in any engine, no RNG state."""
    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def _bucket_expr(vcol: str, dim: int, planes: int) -> Column:
    """SRP bucket as ONE column expression over an existing double-array
    column — rides the scan that already carries the vector, so no
    consumer ever joins the bucket back by id (a corpus self-join)."""
    bucket = None
    for p, plane in enumerate(hyperplanes(dim, planes)):
        arr = "array(" + ", ".join(f"{x}D" for x in plane) + ")"
        bit = F.when(F.expr(f"aggregate(zip_with({vcol}, {arr}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection bucket per vector: bit p = (v·h_p >= 0).
    One narrow pass, no shuffle; bucket ids are stable across runs."""
    v = embeddings.withColumn("_v", as_double_array(vec_col))
    return v.select(F.col(id_col), _bucket_expr("_v", dim, planes).alias("bucket"))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    planes: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket,
    then exact cosine rank inside it. Each side computes its bucket
    inline on the scan that carries its vector (no bucket join-back);
    the only join is candidate×query on the bucket id, query side
    broadcast."""
    cand = embeddings.withColumn("_v", as_double_array(vec_col)).select(
        F.col(id_col).alias("cand_id"),
        F.col("_v").alias("cvec"),
        _norm("_v").alias("cn"),
        _bucket_expr("_v", dim, planes).alias("bucket"),
    )
    q = queries.withColumn("_v", as_double_array(vec_col)).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("qvec"),
        _norm("_v").alias("qn"),
        _bucket_expr("_v", dim, planes).alias("bucket"),
    )
    sims = cand.join(F.broadcast(q), ["bucket"]).where(F.col("cand_id") != F.col("query_id")).select(
        "query_id", "cand_id", F.round(cosine_pre("qvec", "cvec", "qn", "cn"), 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Coarse centroids for IVF: the vectors with the N smallest ids
    (TakeOrdered on a narrow projection — one scan, O(C) heap, no
    shuffle). Production IVF would k-means these; a deterministic pick
    keeps the operator cross-engine checkable while the contract
    (centroid list → inverted lists) is identical."""
    rows = (
        embeddings.select(F.col(id_col), as_double_array(vec_col).alias("v"))
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    return [(r[0], list(r[1])) for r in rows]


def ivf_centroids_kmeans(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Production centroids behind the same contract as
    ``ivf_centroids``: k-means|| (Spark MLlib's distributed k-means
    initialization + Lloyd iterations) over the corpus. Same return
    shape — (centroid_id, vector) with ids 0..k-1 — so ``ivf_assign``
    and ``ivf_topk`` consume either interchangeably.

    Iterative float k-means is not cross-engine reproducible, so the
    deterministic first-N pick stays the oracle-checked path; this one
    is for recall, which tests measure against brute force (it probes
    actual density modes instead of arbitrary vectors). At 100 TB: run
    on a sample — centroid quality converges long before full-corpus
    passes pay off — then one map-side assign pass over everything."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.select(
        array_to_vector(as_double_array(vec_col)).alias("features")
    )
    km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter, initMode="k-means||")
    model = km.fit(feats)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def _kmeans_exact_local(
    cents0: list[list[int]], n_centroids: int, n_iter: int, dim: int
):
    """All Lloyd iterations in one task, integer-exact and therefore
    bit-identical to the distributed loop: distances via the int64
    matmul expansion |a-c|^2 = a.a - 2a.c + c.c (every term bounded by
    64*10^12, far inside int64), argmin ties to the lowest centroid id
    (np.argmin first-occurrence == min_by struct(d, j)), means as the
    same round-half-away integer division, empty clusters keep their
    coords. Emits the final (j, pos, cval) rows."""

    def _half_away(num: int, den: int) -> int:
        if num >= 0:
            return (2 * num + den) // (2 * den)
        return -((2 * (-num) + den) // (2 * den))

    def fn(batches):
        import numpy as np
        import pandas as pd

        chunks = []
        for pdf in batches:
            if len(pdf):
                chunks.append(np.stack(pdf["q"].to_numpy()).astype("int64"))
        if not chunks:
            return
        x = np.concatenate(chunks)
        cents = [list(c) for c in cents0]
        a = x * 100
        a2 = (a * a).sum(axis=1)
        for _ in range(n_iter):
            c = np.array(cents, dtype="int64")
            d = a2[:, None] - 2 * (a @ c.T) + (c * c).sum(axis=1)[None, :]
            asg = np.argmin(d, axis=1)
            for j in range(n_centroids):
                mask = asg == j
                n = int(mask.sum())
                if n:
                    s = x[mask].sum(axis=0)
                    cents[j] = [_half_away(int(s[p]) * 100, n) for p in range(dim)]
        yield pd.DataFrame(
            {
                "j": np.repeat(np.arange(n_centroids), dim).astype("int32"),
                "pos": np.tile(np.arange(dim), n_centroids).astype("int32"),
                "cval": np.array(
                    [c for cv in cents for c in cv], dtype="int64"
                ),
            }
        )

    return fn


def ivf_centroids_kmeans_exact(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Lloyd k-means whose every step is exact integer arithmetic, so a
    SQL oracle replays it bit-for-bit (MLlib's float k-means is
    association-order-dependent and ungradeable):

    * quantize: q[i] = floor(double(x[i]) · 10⁴) — double multiply +
      floor are IEEE-identical in both engines, no rounding ties;
    * init: the ``n_centroids`` lowest-id vectors (the deterministic
      ivf_centroids pick), coords scaled by another 10²;
    * iterate: assign to argmin integer squared-L2 (ties → lowest
      centroid id), recompute means as round-half-away integer division
      (sum·100 over count), empty clusters keep their coords;
    * return floats coord/10⁶ — exact int→double conversion.

    Assignment is one map-side expression per iteration (centroids are
    driver literals); the update is a (k·dim)-row aggregate + bounded
    collect per iteration — the same bounded-metadata pattern as the
    PQ codebooks. At 100 TB: iterate on a sample, then one assign pass."""
    qv = embeddings.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000)"
            " AS BIGINT))"
        ).alias("q"),
    )
    init = qv.orderBy("vid").limit(n_centroids).collect()
    cents: list[list[int]] = [[c * 100 for c in r["q"]] for r in init]

    if fits_local("kmeans_cells", qv.count() * dim):
        # capped local solve (r12): every Lloyd iteration in one task
        # over the quantized int64 cells (n_vectors x dim) —
        # integer-exact, so bit-identical to the loop below. The k*dim
        # result collect is bounded metadata, same as the loop's
        # per-iteration sums collect.
        rows = (
            qv.select("q")
            .repartition(1)
            .mapInPandas(
                _kmeans_exact_local(cents, n_centroids, n_iter, dim),
                "j int, pos int, cval long",
            )
            .collect()
        )
        final = {(r["j"], r["pos"]): int(r["cval"]) for r in rows}
        cents = [
            [final[(j, p)] for p in range(dim)] for j in range(n_centroids)
        ]
        return [(j, [c / 1000000.0 for c in cv]) for j, cv in enumerate(cents)]

    # (vid, pos, val) long form, materialized once and reused by every
    # iteration's two consumers. Broadcast-join against the k·dim
    # centroid frame keeps the whole iteration in whole-stage codegen —
    # the literal-expression / higher-order-function formulations
    # measured ~20 s per iteration at sf0.1 (interpreted lambdas per
    # element); this shape runs the same arithmetic in ~1 s.
    qe = cut(qv.select("vid", F.posexplode("q").alias("pos", "val")))

    def _half_away(num: int, den: int) -> int:
        if num >= 0:
            return (2 * num + den) // (2 * den)
        return -((2 * (-num) + den) // (2 * den))

    spark = embeddings.sparkSession
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(j, p, c) for j, cv in enumerate(cents) for p, c in enumerate(cv)],
            "j int, pos int, cval long",
        )
        diff = F.col("val") * 100 - F.col("cval")
        dists = (
            qe.join(F.broadcast(cdf), "pos")
            .groupBy("vid", "j")
            .agg(F.sum(diff * diff).alias("d"))
        )
        asg = dists.groupBy("vid").agg(
            F.min_by("j", F.struct("d", "j")).alias("j")
        )
        sums = (
            qe.join(asg, "vid")
            .groupBy("j", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new: dict[int, list[int]] = {}
        for r in sums:
            new.setdefault(r["j"], [0] * dim)[r["pos"]] = _half_away(
                int(r["s"]) * 100, int(r["n"])
            )
        cents = [new.get(j, cents[j]) for j in range(n_centroids)]
    return [
        (j, [c / 1000000.0 for c in cv]) for j, cv in enumerate(cents)
    ]


def _centroid_cos(vcol: str, vnorm_col: str, cvec: list[float]) -> Column:
    """cos(v, c) with the centroid embedded as a literal array, its norm
    precomputed driver-side, and the vector norm read from an existing
    column — one codegen'd expression per centroid, no join, no Python."""
    import math

    arr = "array(" + ", ".join(f"{x}D" for x in cvec) + ")"
    cnorm = math.sqrt(sum(x * x for x in cvec))
    dot = F.expr(f"aggregate(zip_with({vcol}, {arr}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    return F.round(dot / (F.col(vnorm_col) * F.lit(cnorm)), 6)


def _assign_expr(
    vcol: str, vnorm_col: str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid id (max rounded cosine, ties → lowest centroid
    id) as ONE expression over existing vector/norm columns — consumers
    compute it on the scan carrying the vector instead of joining an
    assignment frame back by id."""
    sims = F.array(*[_centroid_cos(vcol, vnorm_col, cvec) for _, cvec in centroids])
    ids = F.array(*[F.lit(cid) for cid, _ in centroids])
    return F.element_at(ids, F.array_position(sims, F.array_max(sims)).cast("int"))


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max rounded cosine,
    ties → lowest centroid id). Pure map-side: the corpus never
    shuffles — at 100 TB this is the pass that builds the inverted
    lists, and it parallelizes embarrassingly."""
    v = embeddings.withColumn("_v", as_double_array(vec_col)).withColumn(
        "_vn", _norm("_v")
    )
    return v.select(F.col(id_col), _assign_expr("_v", "_vn", centroids).alias("list_id"))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` inverted lists
    whose centroids are nearest each query. Corpus side = one map-side
    assignment pass; query side is small and broadcast after exploding
    its probe set; exact cosine re-ranks within the probed lists.

    ``centroids`` accepts any list matching the ivf_centroids contract
    (e.g. ivf_centroids_kmeans for recall-optimal lists); defaults to
    the deterministic oracle-checkable pick."""
    cents = centroids or ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    cand = (
        embeddings.withColumn("_v", as_double_array(vec_col))
        .withColumn("_vn", _norm("_v"))
        .select(
            F.col(id_col).alias("cand_id"),
            F.col("_v").alias("cvec"),
            F.col("_vn").alias("cn"),
            _assign_expr("_v", "_vn", cents).alias("list_id"),
        )
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qvec")
    ).withColumn("_qn", _norm("qvec"))
    probe_structs = F.array(
        *[
            F.struct(
                (-_centroid_cos("qvec", "_qn", cvec)).alias("nc"), F.lit(cid).alias("cid")
            )
            for cid, cvec in cents
        ]
    )
    q = qv.select(
        "query_id",
        "qvec",
        F.col("_qn").alias("qn"),
        F.explode(
            F.transform(
                F.slice(F.array_sort(probe_structs), 1, nprobe), lambda s: s["cid"]
            )
        ).alias("list_id"),
    )
    sims = (
        cand.join(F.broadcast(q), ["list_id"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_pre("qvec", "cvec", "qn", "cn"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x|/127,
    q_i = round(x_i / scale). Cuts ANN memory/IO 4× (the standard
    serving trick before IVF/LSH probing re-ranks in float). Pure
    row-local array expressions — zero shuffle, scan-bound at 100 TB.

    Output keeps the int8 codes plus the reconstruction report
    (per-vector scale and max absolute error) so a pipeline can gate on
    quantization loss before swapping the serving index."""
    v = as_double_array(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    codes = F.transform(v, lambda x: F.round(x / scale, 0).cast("int"))
    err = F.array_max(
        F.zip_with(v, codes, lambda x, q: F.abs(x - q.cast("double") * scale))
    )
    return embeddings.select(
        F.col(id_col),
        codes.alias("codes"),
        F.round(scale, 6).alias("scale"),
        F.round(err, 6).alias("max_abs_err"),
    )


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.98,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked: only pairs
    sharing a block key are compared.

    The DEFAULT block key is the vector's sign-random-projection LSH
    bucket — expected occupancy N/2^planes, so the within-block
    all-pairs join is bounded by design, and true near-dups (cosine ≈
    1) land in the same bucket with probability (1 - θ/π)^planes ≈ 1.
    Pass ``block_col`` to block on a data column only when its
    per-value cardinality provably bounds block size — at 100 TB a
    popular label value is a cartesian bomb. ``dim`` (vector length) is
    probed from the first row if not given."""
    if block_col is None:
        if dim is None:
            dim = embeddings.select(F.size(vec_col).alias("d")).first()["d"]
        v = embeddings.withColumn("_v0", as_double_array(vec_col)).select(
            F.col(id_col),
            F.col("_v0").alias("_v"),
            _norm("_v0").alias("_n"),
            _bucket_expr("_v0", dim, planes).alias("_blk"),
        )
    else:
        v = embeddings.withColumn("_v0", as_double_array(vec_col)).select(
            F.col(id_col),
            F.col(block_col).alias("_blk"),
            F.col("_v0").alias("_v"),
            _norm("_v0").alias("_n"),
        )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("_blk"), F.col("_v").alias("va"), F.col("_n").alias("na")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("_blk"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
    )
    return (
        a.join(b, ["_blk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine_pre("va", "vb", "na", "nb"), 4).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-cluster the corpus,
    compare pairs only WITHIN a cluster, and drop every vector whose
    rounded cosine to a lower-id vector in its cluster reaches the
    threshold (keep-first, deterministic).

    Two-stage plan: (1) map-side centroid assignment — the corpus never
    shuffles to be clustered (centroids ride along as literal codegen'd
    expressions); (2) within-cluster self-join keyed on the cluster id.
    Per-cluster work is quadratic in cluster size, so n_centroids is the
    scale knob — grow it ~√N (FAISS guidance) to keep expected occupancy
    flat; the skew guard is the same as IVF's: a data-defined block
    column is never used, only the centroid partition.

    ``centroids`` takes any ivf_centroids-contract list (pass the
    k-means|| pick for production recall); the default deterministic
    pick keeps the operator oracle-checkable. Returns one row per input
    vector: (id, list_id, is_dropped).
    """
    cents = centroids or ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    # r12: v feeds BOTH self-join sides and the final verdict join
    # under distinct aliases, so the scan + the k x dim literal
    # centroid-assignment expression ran 3x (exchange reuse cannot
    # dedupe renamed branches); one eager cut of the bounded
    # (id, vec, norm, list_id) frame runs it once — interleaved A/B
    # at sf0.1: 3.07 -> 2.31 s
    v = cut(
        embeddings.withColumn("_v0", as_double_array(vec_col))
        .withColumn("_vn0", _norm("_v0"))
        .select(
            F.col(id_col),
            F.col("_v0").alias("_v"),
            F.col("_vn0").alias("_vn"),
            _assign_expr("_v0", "_vn0", cents).alias("list_id"),
        )
    )
    a = v.select(
        F.col(id_col).alias("id_a"), "list_id", F.col("_v").alias("va"), F.col("_vn").alias("na")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), "list_id", F.col("_v").alias("vb"), F.col("_vn").alias("nb")
    )
    dropped = (
        a.join(b, ["list_id"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine_pre("va", "vb", "na", "nb"), 4) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return v.join(dropped, id_col, "left").select(
        F.col(id_col),
        "list_id",
        F.coalesce(F.col("_dropped"), F.lit(False)).alias("is_dropped"),
    )


# --- Product quantization ---------------------------------------------------

PQ_M = 8  # subspaces
PQ_K = 16  # codewords per subspace


def pq_codebook(
    embeddings: DataFrame,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebook: codeword j of subspace s is the s-th
    subvector of the j-th lowest-id vector (same contract spirit as
    ivf_centroids — production swaps in per-subspace k-means behind the
    identical shape, ``codebook[s][j] -> list[float]``). One bounded
    collect of k rows; everything downstream is map-side."""
    if dim % m != 0:
        raise ValueError(
            f"PQ requires dim divisible by m: dim={dim}, m={m} — a silent "
            f"truncation to {m * (dim // m)} dims would make every ADC "
            "reconstruction shorter than the query and the ranking garbage"
        )
    sub = dim // m
    rows = (
        embeddings.select(F.col(id_col), as_double_array(vec_col).alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [
        [list(r["v"])[s * sub : (s + 1) * sub] for r in rows] for s in range(m)
    ]


def _sq_l2(sub_expr: str, cw: list[float]) -> Column:
    arr = "array(" + ", ".join(f"{x}D" for x in cw) + ")"
    return F.round(
        F.expr(
            f"aggregate(zip_with({sub_expr}, {arr}, (x, y) -> (x - y) * (x - y)),"
            " 0D, (acc, v) -> acc + v)"
        ),
        6,
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: list[list[list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to m PQ codes: per subspace, the argmin
    rounded-L2² codeword (ties → lowest code). Codewords are literal
    arrays inside whole-stage codegen — zero shuffle, zero Python; the
    classic 32× memory cut (64 floats → 8 bytes) that makes a 100 TB
    vector corpus fit a serving tier. Output: (id, codes array<int>)."""
    m = len(codebook)
    if dim % m != 0:
        raise ValueError(
            f"PQ requires dim divisible by m: dim={dim}, m={m}"
        )
    sub = dim // m
    v = embeddings.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    codes = []
    for s, cws in enumerate(codebook):
        sub_expr = f"slice(_v, {s * sub + 1}, {sub})"
        dists = F.array(*[_sq_l2(sub_expr, cw) for cw in cws])
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return v.select(F.col(id_col), F.array(*codes).alias("codes"))


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    codebook: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: queries stay exact, candidates are
    their PQ reconstructions (codes → codeword arrays → concatenated
    vector), scored by cosine. The reconstruction is pure expression
    work — element_at into the literal codebook per subspace — so the
    scan reads ONLY the 8-byte codes where a brute-force pass reads the
    full vectors: the memory-bound regime PQ exists for. Broadcast
    query side, per-query row_number top-k (WindowGroupLimit keeps the
    rank partial)."""
    cb = codebook or pq_codebook(embeddings, dim)
    m = len(cb)
    enc = pq_encode(embeddings, cb, dim, id_col, vec_col)
    parts = []
    for s, cws in enumerate(cb):
        lit = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x}D" for x in cw) + ")" for cw in cws
            )
            + ")"
        )
        parts.append(F.expr(f"element_at({lit}, codes[{s}] + 1)"))
    recon = F.concat(*parts)
    cand = enc.select(F.col(id_col).alias("cand_id"), recon.alias("_cv")).select(
        "cand_id", F.col("_cv").alias("cvec"), _norm("_cv").alias("cn")
    )
    q = queries.withColumn("_v", as_double_array(vec_col)).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qvec"), _norm("_v").alias("qn")
    )
    sims = (
        cand.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine_pre("qvec", "cvec", "qn", "cn"), 6).alias("adc_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_sim").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", F.round("adc_sim", 4).alias("adc_sim"))
    )


# Query rows per scoring tile in knn_join: one tile's dot block is
# KNN_TILE_ROWS x (corpus rows in the bucket) doubles, one Arrow batch.
KNN_TILE_ROWS = 256


def _fold(a, b, pairwise: bool):
    """Dot products as the exact left fold acc = 0.0; acc = acc + a_i*b_i
    for i = 0..d-1 — the IEEE operation order of
    aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v),
    so every value is bit-identical to that expression. ``pairwise``
    folds every row of ``a`` against every row of ``b``; otherwise row
    i of ``a`` against row i of ``b``."""
    import numpy as np

    mul = np.multiply.outer if pairwise else np.multiply
    acc = np.zeros((len(a), len(b)) if pairwise else len(a))
    for i in range(a.shape[1]):
        acc += mul(a[:, i], b[:, i])
    return acc


def _score_bucket(parts):
    """Score one bucket's rows (side 0 = query, 1 = corpus): ``dot`` of
    every (query, corpus) pair plus both norms sqrt(fold(v, v)). A null
    vector or a null element gives a null norm and null dots; vectors of
    different length give a null dot (zip_with pads the shorter with
    nulls). Yields one Arrow batch per KNN_TILE_ROWS query rows."""
    import numpy as np
    import pyarrow as pa

    t = pa.Table.from_batches(parts).combine_chunks()
    side = t.column("side").to_numpy()
    qi, ci = np.flatnonzero(side == 0), np.flatnonzero(side == 1)
    if not len(qi) or not len(ci):
        return
    id_type = t.schema.field("id").type
    ids = t.column("id").to_numpy()
    v = t.column("v").chunk(0)
    off = v.offsets.to_numpy()
    lens = np.diff(off)
    ok = ~v.is_null().to_numpy(zero_copy_only=False)
    if v.values.null_count:
        bad = np.cumsum(~v.values.is_valid().to_numpy(zero_copy_only=False))
        bad = np.concatenate([[0], bad])
        ok &= bad[off[1:]] == bad[off[:-1]]
    # Zero-padding every vector to the longest leaves each fold exact
    # (acc + 0.0 * 0.0 == acc, and acc, starting at +0.0, is never -0.0);
    # pairs of different length are masked below.
    col = np.arange(lens[ok].max(initial=0))
    filled = ok[:, None] & (col < lens[:, None])
    m = np.zeros(filled.shape)
    m[filled] = v.values.to_numpy(zero_copy_only=False)[(off[:-1, None] + col)[filled]]
    norm = np.sqrt(_fold(m, m, pairwise=False))
    for s in range(0, len(qi), KNN_TILE_ROWS):
        tq = qi[s : s + KNN_TILE_ROWS]
        dot = _fold(m[tq], m[ci], pairwise=True)
        known = ok[tq, None] & ok[ci] & (lens[tq, None] == lens[ci])
        qsel, csel = np.repeat(tq, len(ci)), np.tile(ci, len(tq))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids[qsel], type=id_type),
                pa.array(ids[csel], type=id_type),
                pa.array(dot.ravel(), mask=~known.ravel()),
                pa.array(norm[qsel], mask=~ok[qsel]),
                pa.array(norm[csel], mask=~ok[csel]),
            ],
            names=["query_id", "cand_id", "dot", "qn", "cn"],
        )


def _knn_score_buckets(batches):
    """mapInArrow kernel over rows sorted by bucket: gathers one bucket
    at a time (a bucket may straddle input batches) and scores it."""
    import numpy as np

    part, cur = [], None
    for batch in batches:
        if not batch.num_rows:
            continue
        b = batch.column("bucket").to_numpy(zero_copy_only=False)
        cuts = [0, *(np.flatnonzero(b[1:] != b[:-1]) + 1).tolist(), len(b)]
        for s, e in zip(cuts, cuts[1:]):
            if part and b[s] != cur:
                yield from _score_bucket(part)
                part = []
            cur = b[s]
            part.append(batch.slice(s, e - s))
    if part:
        yield from _score_bucket(part)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    planes: int = 8,
    k: int = 5,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed KNN join for LARGE query sets — neither side
    broadcasts (brute_force_topk/lsh_topk broadcast the query side,
    which caps it at driver/executor memory; a query set that is itself
    a corpus-scale table needs a shuffle).

    Both sides compute their sign-random-projection bucket map-side
    (same deterministic hyperplanes as lsh_buckets), are tagged with a
    side flag and unioned, and ONE exchange hash-partitions the union
    by bucket — expected occupancy N/2^planes per side, so per-bucket
    work is bounded by design. Within each partition, sorted by bucket,
    an Arrow kernel scores one bucket at a time: every (query, corpus)
    dot product and both norms, as the exact left fold of
    aggregate(zip_with(...)) run over whole blocks in numpy rather than
    one interpreted, boxing lambda call per pair. Spark keeps the
    self-pair filter, the division (a zero vector raises
    DIVIDE_BY_ZERO), the rounding and a per-query row_number that keeps
    k (WindowGroupLimit makes the rank filter partial, before the
    by-query shuffle), so scores are bit-identical to cosine_pre's.

    ``multiprobe=1`` additionally probes every Hamming-1 bucket of each
    query (planes+1 probes/query) — the standard recall lever when a
    near neighbor straddles one hyperplane; probe buckets are distinct,
    so no candidate is scored twice. ``multiprobe=0`` probes only the
    query's own bucket.
    """

    def side(df: DataFrame, flag: int) -> DataFrame:
        # a null id never survives the self-pair filter, so it is not scored
        return (
            df.where(F.col(id_col).isNotNull())
            .withColumn("_v", as_double_array(vec_col))
            .select(
                F.lit(flag).alias("side"),
                F.col(id_col).alias("id"),
                F.col("_v").alias("v"),
                _bucket_expr("_v", dim, planes).alias("bucket"),
            )
        )

    q = side(queries, 0)
    if multiprobe:
        probes = F.array(
            F.col("bucket"), *[F.expr(f"bucket ^ {1 << p}") for p in range(planes)]
        )
        q = q.select("side", "id", "v", F.explode(probes).alias("bucket"))
    tagged = q.unionByName(side(corpus, 1))
    id_t = tagged.schema["id"].dataType.simpleString()
    sims = (
        tagged.repartition("bucket")
        .sortWithinPartitions("bucket")
        .mapInArrow(
            _knn_score_buckets,
            f"query_id {id_t}, cand_id {id_t}, dot double, qn double, cn double",
        )
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(F.col("dot") / (F.col("qn") * F.col("cn")), 6).alias("_cos6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos6").desc(), "cand_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "cand_id",
            F.round(F.col("_cos6"), 4).alias("cos_sim"),
            # the ranking-resolution score, for consumers (LOF) that
            # integerize distances: re-rounding cos6 to 4 decimals
            # lands on EXACT decimal ties (x.xxxx50) where the
            # engines' round modes split — cos6 itself never ties
            # (the raw cosine is irrational)
            F.col("_cos6").alias("cos6"),
        )
    )


def build_ann_index(
    embeddings: DataFrame,
    dim: int,
    planes: int = 8,
    n_centroids: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the ANN serving index in ONE corpus scan: per vector
    its L2 norm (pair stages then pay a single dot), SRP bucket, and
    IVF inverted-list id — every per-vector artifact the LSH/IVF/KNN
    paths recompute today, written once and reused across query
    batches. At 100 TB this is the index-build job: pure map-side
    expressions, zero shuffle; persist with save_bucketed(by list_id
    or bucket) and every probe join plans with no Exchange on the
    corpus side."""
    cents = centroids or ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    return (
        embeddings.withColumn("_v", as_double_array(vec_col))
        .withColumn("_vn", _norm("_v"))
        .select(
            F.col(id_col),
            F.round(F.col("_vn"), 6).alias("norm"),
            _bucket_expr("_v", dim, planes).alias("bucket"),
            _assign_expr("_v", "_vn", cents).alias("list_id"),
        )
    )


def rerank_model(
    pairs: DataFrame,
    model,
    text_a_col: str = "text_a",
    text_b_col: str = "text_b",
    out: str = "rerank_score",
) -> DataFrame:
    """Cross-encoder reranking hook — the second stage of the standard
    retrieve-then-rerank pipeline, behind the same contract as
    ``text.language_id_model`` / ``text.perplexity_model``: ``model``
    maps two aligned pandas Series (query text, candidate text) to a
    Series of float scores. Arrow-batched pandas UDF, map-side only —
    no shuffle is added on top of the candidate generation, and the
    model loads once per executor when bound at closure scope.

    No oracle by design (a cross-encoder score has no SQL twin); the
    contract is pinned by a deterministic stub in tests."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _score(a, b):
        res = model(a, b)
        if not isinstance(res, pd.Series):
            res = pd.Series(list(res), index=a.index)
        return res.astype("float64")

    _score.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    _udf = pandas_udf(_score, "double")
    return pairs.withColumn(out, _udf(F.col(text_a_col), F.col(text_b_col)))


def heuristic_rerank_batch(a, b):
    """Deterministic stand-in for a real cross-encoder, shaped like the
    rerank_model contract: token-overlap ratio between the two texts —
    monotone in the lexical agreement a real reranker keys on."""
    import pandas as pd

    def one(x: str, y: str) -> float:
        sx = {t for t in x.split(" ") if t}
        sy = {t for t in y.split(" ") if t}
        if not sx or not sy:
            return 0.0
        return round(len(sx & sy) / min(len(sx), len(sy)), 6)

    return pd.Series([one(x, y) for x, y in zip(a, b)], index=a.index)


def _mmr_greedy_pandas(pool: DataFrame, select_k: int, lam: float) -> DataFrame:
    """Greedy MMR selection per query group over the bounded relevance
    pool (pool_k rows/query): ONE shuffle on query_id, then the exact
    sequential algorithm in Python. Arithmetic replicates the JVM plan
    bit-for-bit: dot products fold left-to-right like aggregate(), and
    round-to-6dp converts through repr(x) — the shortest round-trip
    decimal, the same value java BigDecimal(Double.toString(x)) sees —
    then HALF_UP, so argmax inputs are identical doubles."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    one_minus = 1.0 - lam
    q6 = Decimal("0.000001")

    def _round(x: float, q: Decimal) -> float:
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    def _dot_fold(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _select(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            pdf.itertuples(index=False), key=lambda r: (-r.rel, r.cand_id)
        )
        out = []
        qid = rows[0].query_id
        first = rows[0]
        selected = [first]
        out.append((qid, 1, first.cand_id, first.rel, first.rel))
        for step in range(2, select_k + 1):
            best = None
            for r in rows:
                if any(s.cand_id == r.cand_id for s in selected):
                    continue
                max_sel = max(
                    _round(
                        _dot_fold(r.cvec, s.cvec) / (r.cn * s.cn), q6
                    )
                    for s in selected
                )
                score = _round(lam * r.rel - one_minus * max_sel, q6)
                key = (-score, r.cand_id)
                if best is None or key < best[0]:
                    best = (key, r, score)
            if best is None:
                break
            _, pick, score = best
            selected.append(pick)
            out.append((qid, step, pick.cand_id, pick.rel, score))
        return pd.DataFrame(
            out,
            columns=["query_id", "mmr_rank", "cand_id", "relevance", "mmr_score"],
        )

    id_types = dict(pool.dtypes)
    id_t = lambda c: LongType() if id_types[c] == "bigint" else IntegerType()
    schema = StructType(
        [
            StructField("query_id", id_t("query_id")),
            StructField("mmr_rank", IntegerType()),
            StructField("cand_id", id_t("cand_id")),
            StructField("relevance", DoubleType()),
            StructField("mmr_score", DoubleType()),
        ]
    )
    res = pool.groupBy("query_id").applyInPandas(_select, schema)
    return res.select(
        "query_id",
        "mmr_rank",
        "cand_id",
        F.round("relevance", 4).alias("relevance"),
        F.round("mmr_score", 4).alias("mmr_score"),
    )


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    pool_k: int = 10,
    select_k: int = 3,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "pandas",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): retrieve a top-``pool_k`` relevance pool per query, then
    greedily select ``select_k`` results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    diversity stage of retrieve-then-rerank.

    Scale design: the expensive part is the relevance pool (the same
    broadcast-query scan as brute_force_topk); the greedy selection
    then touches only pool_k rows/query, independent of corpus size.
    ``impl="pandas"`` (default) runs it per-query via applyInPandas —
    ONE shuffle of the tiny pool, sequential greedy loop per group
    (every per-pair double op replicated bit-for-bit: products/sums in
    IEEE order, 6-dp HALF_UP rounding via decimal on the exact binary
    value, exactly java.math.BigDecimal's ROUND on a double).
    ``impl="joins"`` is the original select_k−1 bounded-join plan —
    same results (tests pin equivalence); kept as the all-JVM path.
    Determinism: similarities round to 6 dp BEFORE every argmax and
    ties break on cand_id, so selection is engine- and
    partition-order-independent (the differential-oracle requirement).
    """
    cand = embeddings.withColumn("_v", as_double_array(vec_col)).select(
        F.col(id_col).alias("cand_id"),
        F.col("_v").alias("cvec"),
        _norm("_v").alias("cn"),
    )
    q = queries.withColumn("_v", as_double_array(vec_col)).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("qvec"),
        _norm("_v").alias("qn"),
    )
    sims = cand.join(F.broadcast(q), F.col("cand_id") != F.col("query_id")).select(
        "query_id",
        "cand_id",
        F.round(cosine_pre("qvec", "cvec", "qn", "cn"), 6).alias("rel"),
        "cvec",
        "cn",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("cand_id"))
    pool = (
        sims.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= pool_k)
        .drop("_r")
    )
    if impl == "pandas":
        return _mmr_greedy_pandas(pool, select_k, lam)
    pool = cut(pool)  # reused select_k times below
    first = pool.withColumn("_r", F.row_number().over(w)).where(F.col("_r") == 1)
    selected = first.select(
        "query_id",
        F.lit(1).alias("mmr_rank"),
        "cand_id",
        "rel",
        F.col("rel").alias("mmr_score"),
        "cvec",
        "cn",
    )
    for step in range(2, select_k + 1):
        sel = selected.select(
            "query_id",
            F.col("cand_id").alias("sel_id"),
            F.col("cvec").alias("svec"),
            F.col("cn").alias("sn"),
        )
        remaining = pool.join(
            selected.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti"
        )
        scored = (
            remaining.join(sel, "query_id")
            .select(
                "query_id",
                "cand_id",
                "rel",
                "cvec",
                "cn",
                F.round(cosine_pre("cvec", "svec", "cn", "sn"), 6).alias("sim_sel"),
            )
            .groupBy("query_id", "cand_id", "rel", "cvec", "cn")
            .agg(F.max("sim_sel").alias("max_sel"))
            .select(
                "query_id",
                "cand_id",
                "rel",
                "cvec",
                "cn",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("max_sel"), 6
                ).alias("mmr_score"),
            )
        )
        ws = Window.partitionBy("query_id").orderBy(
            F.col("mmr_score").desc(), F.col("cand_id")
        )
        pick = (
            scored.withColumn("_r", F.row_number().over(ws))
            .where(F.col("_r") == 1)
            .select(
                "query_id",
                F.lit(step).alias("mmr_rank"),
                "cand_id",
                "rel",
                "mmr_score",
                "cvec",
                "cn",
            )
        )
        selected = selected.unionByName(pick)
    return selected.select(
        "query_id",
        "mmr_rank",
        "cand_id",
        F.round("rel", 4).alias("relevance"),
        F.round("mmr_score", 4).alias("mmr_score"),
    )


def grid_dbscan(
    pts: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "vec_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over a 2-D
    feature space, distributed via grid partitioning — the standard
    scale-out strategy (RP-DBSCAN / DBSCAN-on-Spark): bucket points
    into eps-sided grid cells, generate candidate pairs ONLY between a
    point and the 3x3 cell neighborhood (every true eps-neighbor pair
    lands in some shared neighborhood by construction, so the grid is
    exact, not approximate), then one shuffle join on the cell key.

    Returns (id, role 'core'|'border'|'noise', cluster_id) where
    cluster_id is the min core id reachable through core-core edges
    (connected components via min-label propagation with pointer
    jumping, operators/dedup.duplicate_clusters) and NULL for noise.

    Scale: candidate generation is a key-equi join on cell ids (9
    copies of one side — constant fan-out, no cartesian); per-cell
    density bounds candidates the way LSH bands bound near-dup pairs.
    Hot cells (degenerate density) would concentrate a key, exactly
    the skew AQE's skew-join split handles (see SCALE.md).
    """
    eps2 = eps * eps
    p = pts.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    cell = p.select(
        "pid", "x", "y",
        F.floor(F.col("x") / F.lit(eps)).alias("cx"),
        F.floor(F.col("y") / F.lit(eps)).alias("cy"),
    )
    # left side replicated into its 9 neighbor cells; right side keyed
    # by its own cell -> every eps-pair meets on exactly one key.
    nine = cell.select(
        "pid", "x", "y",
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("cx") + F.lit(dx)).alias("cx"),
                    (F.col("cy") + F.lit(dy)).alias("cy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ).alias("c"),
    ).select("pid", "x", "y", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    b = cell.select(
        F.col("pid").alias("qid"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx", "cy",
    )
    pairs = (
        nine.join(b, ["cx", "cy"])
        .where(F.col("pid") != F.col("qid"))
        .where(
            (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
            + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
            <= F.lit(eps2)
        )
        .select("pid", "qid")
        # reused by degree counting, core-edge extraction, AND border
        # attachment — without this the 9-cell candidate join runs 3x.
        .persist()
    )
    deg = pairs.groupBy("pid").agg(F.count(F.lit(1)).alias("n_nbrs"))
    roles = cell.select("pid").join(deg, "pid", "left").select(
        "pid",
        (F.coalesce(F.col("n_nbrs"), F.lit(0)) + 1 >= min_pts).alias("is_core"),
    ).persist()
    core_ids = roles.where("is_core").select("pid")
    core_edges = (
        pairs.join(core_ids.withColumnRenamed("pid", "qid"), "qid")
        .join(core_ids, "pid")
        .where(F.col("pid") < F.col("qid"))
        .select(F.col("pid").alias("doc_a"), F.col("qid").alias("doc_b"))
    )
    from sandbox_data_pipeline_spark.operators.dedup import duplicate_clusters

    labels = duplicate_clusters(core_edges).select(
        F.col("doc_id").alias("pid"), F.col("cluster_id").alias("cl")
    )
    core_lab = core_ids.join(labels, "pid", "left").select(
        "pid", F.coalesce(F.col("cl"), F.col("pid")).alias("cluster_id")
    )
    border = (
        pairs.join(roles.where(~F.col("is_core")).select("pid"), "pid")
        .join(
            core_lab.select(
                F.col("pid").alias("qid"), F.col("cluster_id").alias("qcl")
            ),
            "qid",
        )
        .groupBy("pid")
        .agg(F.min("qcl").alias("cluster_id"))
    )
    out = (
        roles.join(core_lab.withColumnRenamed("cluster_id", "ccl"), "pid", "left")
        .join(border.withColumnRenamed("cluster_id", "bcl"), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.when(F.col("is_core"), F.col("ccl"))
            .otherwise(F.col("bcl"))
            .cast("long")
            .alias("cluster_id"),
        )
    )
    # Materialize, then RELEASE the scratch caches (unpersist-on-
    # return hygiene): the operator is already eager (duplicate_
    # clusters runs counts during build), so the cut adds
    # no extra pass, and composed callers no longer accumulate the
    # pair/role frames in executor storage.
    out = cut(out)
    pairs.unpersist()
    roles.unpersist()
    return out
