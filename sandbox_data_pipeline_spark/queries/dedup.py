"""Dedup queries over the `documents` table, each with a DuckDB oracle
mirroring the exact computation (portable md5-based hashing — see
operators/dedup.py — makes MinHash/SimHash cross-engine deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.queries._envproof import stable_round

from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.operators.dedup import (
    exact_dedup_keep,
    exact_dedup_stats,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    perm_constants,
    simhash_fingerprints,
    simhash_pairs,
)
from sandbox_data_pipeline_spark.session import cut

K = 16
BANDS = 4
MINHASH_N = 3
JACCARD_N = 5
JACCARD_T = 0.2
JACCARD_DF_CAP = 1000  # mirrored in the oracle; engages only on hot shingles
MINHASH_T = 0.5
SIMHASH_BITS = 48
SIMHASH_MAXH = 3


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_stats(table(spark, sf_dir, "documents"))


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_keep(table(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        n=JACCARD_N,
        threshold=JACCARD_T,
        df_cap=JACCARD_DF_CAP,
    )


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(
        table(spark, sf_dir, "documents"), k=K, bands=BANDS, n=MINHASH_N, threshold=MINHASH_T
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → (doc_id, cluster_id).
    Spark: iterative min-label propagation; oracle: recursive-CTE
    transitive closure over the same minhash pairs."""
    from sandbox_data_pipeline_spark.operators.dedup import duplicate_clusters

    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    return duplicate_clusters(pairs)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(table(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(table(spark, sf_dir, "documents"), bits=SIMHASH_BITS, max_hamming=SIMHASH_MAXH)


# --- DuckDB oracle builders -------------------------------------------------

def _H(expr: str, salt: str = "") -> str:
    inner = f"'{salt}' || {expr}" if salt else expr
    return f"CAST('0x' || substr(md5({inner}), 1, 15) AS BIGINT)"


def _shingles_cte(n: int) -> str:
    return f"""
shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= {n}
                  THEN list_transform(range(1, len(toks) - {n} + 2),
                                      i -> array_to_string(toks[i:i + {n - 1}], ' '))
                  ELSE [] END) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
)"""


def _sig_cte(k: int, n: int) -> str:
    mins = ",\n         ".join(
        f"min(xor(h, {c})) AS h{j}" for j, c in enumerate(perm_constants(k))
    )
    return _shingles_cte(n) + f""",
hashed AS (SELECT doc_id, {_H('shingle')} AS h FROM shingles),
sigs AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
)"""


ORACLE_DEDUP_EXACT = """
SELECT count(*) AS n_distinct_texts,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(sum(cnt - 1) AS BIGINT) AS n_dup_docs
FROM (SELECT md5(text) AS fp, count(*) AS cnt FROM documents GROUP BY 1)
"""

ORACLE_DEDUP_KEEP = """
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_cnt
FROM documents GROUP BY 1
"""


def _oracle_jaccard() -> str:
    n, t, cap = JACCARD_N, JACCARD_T, JACCARD_DF_CAP
    return f"""
WITH {_shingles_cte(n)},
kept AS (
  SELECT doc_id, shingle FROM shingles
  QUALIFY count(*) OVER (PARTITION BY shingle) <= {cap}
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM kept a JOIN kept b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       (floor((common / (sa.n_sh + sb.n_sh - common)) * 10000.0 + 0.5) / 10000.0) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (floor((common / (sa.n_sh + sb.n_sh - common)) * 10000.0 + 0.5) / 10000.0) >= {t}
"""


def _oracle_minhash() -> str:
    k, bands, n, t = K, BANDS, MINHASH_N, MINHASH_T
    r = k // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bi} AS band_idx, md5(concat_ws('|', {cols})) AS band_sig FROM sigs".format(
            bi=bi, cols=", ".join(f"h{j}" for j in range(bi * r, (bi + 1) * r))
        )
        for bi in range(bands)
    )
    matches = " + ".join(f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)" for j in range(k))
    return f"""
WITH {_sig_cte(k, n)},
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, (floor((({matches}) / {k}.0) * 10000.0 + 0.5) / 10000.0) AS est_jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b
WHERE (floor((({matches}) / {k}.0) * 10000.0 + 0.5) / 10000.0) >= {t}
"""


def _oracle_clusters() -> str:
    """Connected components in SQL: undirected transitive closure
    (recursive CTE; UNION dedup guarantees termination), then
    cluster_id = min reachable node (including self)."""
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_oracle_minhash()}) mh),
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
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
"""


def _simhash_cte(bits: int = SIMHASH_BITS) -> str:
    votes = ",\n         ".join(
        f"CAST(sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN tf ELSE -tf END) AS BIGINT) AS s{b}" for b in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)" for b in range(bits))
    return f"""
toks AS (
  SELECT doc_id, token, count(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE token <> '' GROUP BY doc_id, token
),
hashed AS (SELECT doc_id, tf, {_H('token')} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes)"""


def _oracle_simhash() -> str:
    return f"WITH {_simhash_cte()}\nSELECT doc_id, simhash FROM fps"


def _oracle_simhash_pairs() -> str:
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS band_idx, (simhash >> {8 * i}) & 255 AS band_val FROM fps"
        for i in range(SIMHASH_BITS // 8)
    )
    return f"""
WITH {_simhash_cte()},
bands AS (
{bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAXH}
"""


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_exact_keep": q_dedup_exact_keep,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_minhash_pairs": q_dedup_minhash_pairs,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_simhash_pairs": q_dedup_simhash_pairs,
}

ORACLE = {
    "q_dedup_exact": ORACLE_DEDUP_EXACT,
    "q_dedup_exact_keep": ORACLE_DEDUP_KEEP,
    "q_dedup_ngram_jaccard": _oracle_jaccard(),
    "q_dedup_minhash_pairs": _oracle_minhash(),
    "q_dedup_clusters": _oracle_clusters(),
    "q_dedup_simhash": _oracle_simhash(),
    "q_dedup_simhash_pairs": _oracle_simhash_pairs(),
}


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup output: minhash pairs → clusters →
    keep the canonical member of each cluster plus every unpaired doc
    (operators/dedup.py: keep_canonical). Returns the surviving doc ids
    with their cluster sizes."""
    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
        keep_canonical,
    )

    docs = table(spark, sf_dir, "documents")
    clusters = duplicate_clusters(q_dedup_minhash_pairs(spark, sf_dir))
    kept = keep_canonical(docs, clusters)
    sizes = clusters.groupBy(F.col("cluster_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        kept.select("doc_id")
        .join(sizes, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"))
    )


def _oracle_survivors() -> str:
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_oracle_minhash()}) mh),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach (a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
),
sizes AS (
  SELECT cluster_id AS doc_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id
)
SELECT d.doc_id, CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size
FROM documents d
LEFT JOIN clusters c ON c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id
LEFT JOIN sizes s ON s.doc_id = d.doc_id
WHERE c.doc_id IS NULL
"""

QUERIES["q_dedup_survivors"] = q_dedup_survivors
ORACLE["q_dedup_survivors"] = _oracle_survivors()


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-exact dedup: keys on NORMALIZED content (lowercase,
    whitespace collapsed, trimmed) — catches the trivial-variant
    duplicates exact hashing misses while staying one hash-groupBy."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.groupBy(F.md5(norm).alias("norm_fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


_ORACLE_NORMALIZED = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_fp,
       min(doc_id) AS keep_id,
       count(*) AS dup_cnt
FROM documents
GROUP BY 1
"""

QUERIES["q_dedup_normalized"] = q_dedup_normalized
ORACLE["q_dedup_normalized"] = _ORACLE_NORMALIZED


EVAL_MOD = 97
DECONTAM_N = 5


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 5-gram with
    the held-out eval slice (doc_id % 97 == 0 stands in for a benchmark
    set)."""
    from sandbox_data_pipeline_spark.operators.dedup import decontaminate

    d = table(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % EVAL_MOD == 0)
    co = d.where(F.col("doc_id") % EVAL_MOD != 0)
    return decontaminate(co, ev, n=DECONTAM_N)


_ORACLE_DECONTAM = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(t) >= {DECONTAM_N}
                THEN list_transform(range(1, len(t) - {DECONTAM_N} + 2),
                                    i -> array_to_string(t[i:i + {DECONTAM_N - 1}], ' '))
                ELSE [] END)) AS shingle
  FROM toks
),
ev AS (SELECT doc_id AS eval_id, shingle FROM grams WHERE doc_id % {EVAL_MOD} = 0),
co AS (SELECT doc_id, shingle FROM grams WHERE doc_id % {EVAL_MOD} <> 0)
SELECT co.doc_id,
       count(DISTINCT co.shingle) AS n_shared_shingles,
       count(DISTINCT ev.eval_id) AS n_eval_docs
FROM co JOIN ev USING (shingle)
GROUP BY co.doc_id
"""

QUERIES["q_decontam"] = q_decontam
ORACLE["q_decontam"] = _ORACLE_DECONTAM


PASSAGE_W = 16

_PASSAGE_CTE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
),
expanded AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(ceil(len(t) / {PASSAGE_W}.0) AS BIGINT))) AS passage_idx
  FROM toks WHERE len(t) > 0
),
chunks AS (
  SELECT doc_id, passage_idx,
         md5(array_to_string(
             t[(passage_idx * {PASSAGE_W} + 1):((passage_idx + 1) * {PASSAGE_W})],
             ' ')) AS passage_fp
  FROM expanded
)
"""


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup inventory: every 16-token span recycled
    across (or within) documents, with its deterministic keeper."""
    from sandbox_data_pipeline_spark.operators.dedup import passage_dup_stats

    return passage_dup_stats(table(spark, sf_dir, "documents"), window=PASSAGE_W)


_ORACLE_PASSAGE_DEDUP = _PASSAGE_CTE + """
SELECT passage_fp,
       count(*) AS n_copies,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS keep_doc
FROM chunks
GROUP BY passage_fp
HAVING count(*) > 1
"""

QUERIES["q_passage_dedup"] = q_passage_dedup
ORACLE["q_passage_dedup"] = _ORACLE_PASSAGE_DEDUP


def q_passage_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-passage ratio — the gate signal for dropping
    docs that are mostly recycled spans."""
    from sandbox_data_pipeline_spark.operators.dedup import passage_dup_ratio

    return passage_dup_ratio(table(spark, sf_dir, "documents"), window=PASSAGE_W)


_ORACLE_PASSAGE_RATIO = _PASSAGE_CTE + """
, counted AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY passage_fp) AS copies
  FROM chunks
)
SELECT doc_id,
       count(*) AS n_passages,
       sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS n_dup_passages,
       (floor((sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) / count(*)) * 10000.0 + 0.5) / 10000.0) AS dup_ratio
FROM counted
GROUP BY doc_id
"""

QUERIES["q_passage_dup_ratio"] = q_passage_dup_ratio
ORACLE["q_passage_dup_ratio"] = _ORACLE_PASSAGE_RATIO


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus admission: docs above the 70%-of-max id split
    arrive as the new batch and are deduped (exact + MinHash near)
    against the already-published corpus below it. The split scalar is
    a bounded driver-side read (one max), mirroring the oracle's scalar
    subquery."""
    from sandbox_data_pipeline_spark.operators.dedup import incremental_dedup

    docs = table(spark, sf_dir, "documents")
    split = docs.agg(F.max("doc_id")).collect()[0][0] * 7 // 10
    return incremental_dedup(
        docs.where(F.col("doc_id") >= split),
        docs.where(F.col("doc_id") < split),
        k=K,
        bands=BANDS,
        n=MINHASH_N,
        threshold=MINHASH_T,
    )


def _oracle_incremental() -> str:
    k, bands, n, t = K, BANDS, MINHASH_N, MINHASH_T
    r = k // bands
    mins = ",\n         ".join(
        f"min(xor(h, {c})) AS h{j}" for j, c in enumerate(perm_constants(k))
    )
    hcols = ", ".join(f"h{j}" for j in range(k))

    def sh_cte(src: str, prefix: str) -> str:
        return f"""
{prefix}sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= {n}
                THEN list_transform(range(1, len(toks) - {n} + 2),
                                    i -> array_to_string(toks[i:i + {n - 1}], ' '))
                ELSE [] END) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src})
),
{prefix}sigs AS (
  SELECT doc_id, {mins}
  FROM (SELECT doc_id, {_H('shingle')} AS h FROM {prefix}sh)
  GROUP BY doc_id
),
{prefix}bands AS (
{chr(10).join(
    "  SELECT doc_id, " + hcols + f", {bi} AS band_idx, md5(concat_ws('|', "
    + ", ".join(f"h{j}" for j in range(bi * r, (bi + 1) * r))
    + ")) AS band_sig FROM " + prefix + "sigs"
    + ("  UNION ALL" if bi < bands - 1 else "")
    for bi in range(bands)
)}
)"""

    matches = " + ".join(
        f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)" for j in range(k)
    )
    return f"""
WITH split AS (SELECT (max(doc_id) * 7) // 10 AS s FROM documents),
corpus AS (SELECT d.* FROM documents d, split WHERE doc_id < s),
batch AS (SELECT d.* FROM documents d, split WHERE doc_id >= s),
corpus_fps AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
exact_stage AS (
  SELECT doc_id, md5(text) AS fp,
         md5(text) IN (SELECT fp FROM corpus_fps) AS is_exact_corpus,
         md5(text) NOT IN (SELECT fp FROM corpus_fps)
           AND doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_batch
  FROM batch
),
e_docs AS (
  SELECT b.* FROM batch b JOIN exact_stage es USING (doc_id)
  WHERE NOT es.is_exact_corpus AND NOT es.is_exact_batch
),
{sh_cte('e_docs', 'e_')},
{sh_cte('corpus', 'c_')},
near_corpus AS (
  SELECT DISTINCT a.doc_id FROM e_bands a
  JOIN c_bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
  WHERE ({matches}) / {k}.0 >= {t}
),
near_batch AS (
  SELECT DISTINCT b.doc_id FROM e_bands a
  JOIN e_bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
  WHERE ({matches}) / {k}.0 >= {t}
)
SELECT es.doc_id, es.fp,
       CASE WHEN es.is_exact_corpus THEN 'exact_corpus'
            WHEN es.is_exact_batch THEN 'exact_batch'
            WHEN nc.doc_id IS NOT NULL THEN 'near_corpus'
            WHEN nb.doc_id IS NOT NULL THEN 'near_batch'
            ELSE 'admitted' END AS verdict
FROM exact_stage es
LEFT JOIN near_corpus nc ON es.doc_id = nc.doc_id
LEFT JOIN near_batch nb ON es.doc_id = nb.doc_id
"""


QUERIES["q_incremental_dedup"] = q_incremental_dedup
ORACLE["q_incremental_dedup"] = _oracle_incremental()


CONTAIN_N = 5
CONTAIN_T = 0.3


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment |A∩B|/|A| — catches a short doc
    quoted inside a long one, which symmetric Jaccard dilutes away."""
    from sandbox_data_pipeline_spark.operators.dedup import containment_pairs

    return containment_pairs(
        table(spark, sf_dir, "documents"),
        n=CONTAIN_N,
        threshold=CONTAIN_T,
        df_cap=JACCARD_DF_CAP,
    )


def _oracle_containment() -> str:
    n, t, cap = CONTAIN_N, CONTAIN_T, JACCARD_DF_CAP
    return f"""
WITH {_shingles_cte(n)},
kept AS (
  SELECT doc_id, shingle FROM shingles
  QUALIFY count(*) OVER (PARTITION BY shingle) <= {cap}
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM kept a JOIN kept b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       (floor((common / sa.n_sh) * 10000.0 + 0.5) / 10000.0) AS cont_a_in_b,
       (floor((common / sb.n_sh) * 10000.0 + 0.5) / 10000.0) AS cont_b_in_a
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE greatest((floor((common / sa.n_sh) * 10000.0 + 0.5) / 10000.0), (floor((common / sb.n_sh) * 10000.0 + 0.5) / 10000.0)) >= {t}
"""


QUERIES["q_containment_pairs"] = q_containment_pairs
ORACLE["q_containment_pairs"] = _oracle_containment()


# train/val/test split that cannot leak near-duplicates across splits:
# the split key is the doc's DUP-CLUSTER representative, not the doc.
SPLIT_MOD = 10000
SPLIT_TRAIN = 9000  # 90% / 5% / 5%
SPLIT_VAL = 9500


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment where every member of a near-dup
    cluster lands in the SAME split — hashing the cluster representative
    (min doc id, from minhash-pair connected components) instead of the
    doc. The standard guard against eval contamination via duplicates:
    a per-doc hash split puts two near-identical docs on both sides of
    the train/test fence. Unpaired docs are their own representative."""
    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
        portable_hash,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    clusters = duplicate_clusters(q_dedup_minhash_pairs(spark, sf_dir))
    rep = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_rep"),
    )
    bucket = (
        portable_hash(F.col("cluster_rep").cast("string"), salt="clsplit")
        % SPLIT_MOD
    )
    return rep.select(
        "doc_id",
        "cluster_rep",
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


def _oracle_leakage_split() -> str:
    h = _H("CAST(cluster_rep AS VARCHAR)", salt="clsplit")
    return f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_oracle_minhash()}) mh),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach (a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
rep AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_rep,
       CASE WHEN {h} % {SPLIT_MOD} < {SPLIT_TRAIN} THEN 'train'
            WHEN {h} % {SPLIT_MOD} < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM rep
"""


QUERIES["q_leakage_safe_split"] = q_leakage_safe_split
ORACLE["q_leakage_safe_split"] = _oracle_leakage_split()


def q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup pair graph — the cohesion
    signal that separates tight duplicate cliques (transcription
    mills, mirrored sites) from chains of borderline matches. The
    classic two-join distributed triangle enumeration on ordered
    edges (a<b<c), so each triangle is counted exactly once; join
    fan-out is bounded by per-node degree, which near-dup blocking
    already bounds."""
    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def _oracle_triangles() -> str:
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({_oracle_minhash()}) mh)
SELECT count(*) AS n_triangles
FROM pairs e1
JOIN pairs e2 ON e1.doc_b = e2.doc_a
JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
"""


QUERIES["q_dup_triangles"] = q_dup_triangles
ORACLE["q_dup_triangles"] = _oracle_triangles()


def q_entity_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution match scoring: MinHash-banded candidates
    enriched with corroborating evidence — estimated Jaccard, length
    ratio, same-source flag, exact-content equality — and classified
    by rule. The standard ER shape at scale: blocking bounds the pair
    space, then per-pair features are a narrow join against doc
    metadata (never the full text shuffling twice)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp"), F.length("text").alias("n_chars")
    )
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"),
        F.col("fp").alias("fp_a"), F.col("n_chars").alias("len_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"),
        F.col("fp").alias("fp_b"), F.col("n_chars").alias("len_b"),
    )
    feat = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            stable_round(
                F.least("len_a", "len_b") / F.greatest("len_a", "len_b"), 4
            ).alias("len_ratio"),
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
            (F.col("fp_a") == F.col("fp_b")).alias("exact_equal"),
        )
    )
    cls = (
        F.when(F.col("exact_equal"), "exact")
        .when(F.col("est_jaccard") >= 0.9, "strong")
        .otherwise("candidate")
    )
    return feat.withColumn("match_class", cls)


def _oracle_entity_matches() -> str:
    return f"""
WITH mh AS ({_oracle_minhash()}),
d AS (SELECT doc_id, source, md5(text) AS fp, length(text) AS n_chars FROM documents)
SELECT mh.doc_a, mh.doc_b, mh.est_jaccard,
       (floor((least(a.n_chars, b.n_chars) / greatest(a.n_chars, b.n_chars)) * 10000.0 + 0.5) / 10000.0) AS len_ratio,
       a.source = b.source AS same_source,
       a.fp = b.fp AS exact_equal,
       CASE WHEN a.fp = b.fp THEN 'exact'
            WHEN mh.est_jaccard >= 0.9 THEN 'strong'
            ELSE 'candidate' END AS match_class
FROM mh
JOIN d a ON a.doc_id = mh.doc_a
JOIN d b ON b.doc_id = mh.doc_b
"""


QUERIES["q_entity_matches"] = q_entity_matches
ORACLE["q_entity_matches"] = _oracle_entity_matches()


def q_dup_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph (degree → node
    count): the shape diagnostic read next to the triangle count —
    a heavy tail here means hub documents (templates, boilerplate)
    that cluster resolution will chain through. Two partial-combined
    aggregations over the bounded pair list."""
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = nodes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def _oracle_degree_dist() -> str:
    return f"""
WITH mh AS ({_oracle_minhash()}),
nodes AS (
  SELECT doc_a AS doc_id FROM mh UNION ALL SELECT doc_b FROM mh
),
deg AS (SELECT doc_id, count(*) AS degree FROM nodes GROUP BY 1)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1
"""


QUERIES["q_dup_degree_dist"] = q_dup_degree_dist
ORACLE["q_dup_degree_dist"] = _oracle_degree_dist()


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the per-provider quality
    scorecard that decides crawl re-prioritization: sources whose
    content mostly collapses under content-hash grouping are paying
    for re-fetches. Two partial-combined aggregations: (source, fp)
    then source."""
    d = table(spark, sf_dir, "documents")
    groups = d.groupBy("source", F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return groups.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        stable_round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt"), 6).alias("dup_rate"),
    )


ORACLE["q_dup_rate_by_source"] = """
WITH g AS (
  SELECT source, md5(text) AS fp, count(*) AS cnt FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       count(*) AS n_distinct,
       (floor((1.0 - count(*) / sum(cnt)) * 1000000.0 + 0.5) / 1000000.0) AS dup_rate
FROM g GROUP BY source
"""
QUERIES["q_dup_rate_by_source"] = q_dup_rate_by_source


def q_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator quality, measured: every banded candidate
    pair's estimated Jaccard against the EXACT shingle-set Jaccard of
    the same pair — the text-dedup analogue of q_ann_recall. The exact
    computation is restricted to the candidate pairs (shingle join
    keyed through the pair list), so its cost scales with candidates,
    never the corpus pair space."""
    from sandbox_data_pipeline_spark.operators.dedup import word_shingles

    docs = table(spark, sf_dir, "documents")
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    # cut once for the three consumers
    sh = cut(word_shingles(docs, n=MINHASH_N))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    bsh = sh.select(
        F.col("doc_id").alias("_db"), F.col("shingle").alias("_shb")
    )
    common = (
        pairs.select("doc_a", "doc_b")
        .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            bsh,
            (F.col("doc_b") == F.col("_db")) & (F.col("shingle") == F.col("_shb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b")
    return (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            stable_round(
                F.coalesce("common", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("common", F.lit(0))),
                4,
            ).alias("exact_jaccard"),
        )
        .withColumn(
            "abs_err", stable_round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 4)
        )
    )


def _oracle_minhash_precision() -> str:
    n = MINHASH_N
    return f"""
WITH mh AS ({_oracle_minhash()}),
{_shingles_cte(n).strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT mh.doc_a, mh.doc_b, count(*) AS common
  FROM mh
  JOIN shingles a ON a.doc_id = mh.doc_a
  JOIN shingles b ON b.doc_id = mh.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT mh.doc_a, mh.doc_b, mh.est_jaccard,
       (floor((coalesce(common, 0) / (sa.n_sh + sb.n_sh - coalesce(common, 0))) * 10000.0 + 0.5) / 10000.0)
         AS exact_jaccard,
       (floor((abs(mh.est_jaccard -
             (floor((coalesce(common, 0) / (sa.n_sh + sb.n_sh - coalesce(common, 0))) * 10000.0 + 0.5) / 10000.0))) * 10000.0 + 0.5) / 10000.0)
         AS abs_err
FROM mh
LEFT JOIN common ON common.doc_a = mh.doc_a AND common.doc_b = mh.doc_b
JOIN sizes sa ON sa.doc_id = mh.doc_a
JOIN sizes sb ON sb.doc_id = mh.doc_b
"""


QUERIES["q_minhash_precision"] = q_minhash_precision
ORACLE["q_minhash_precision"] = _oracle_minhash_precision()


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication (operators/dedup.py:
    duplicated_substring_spans): maximal character spans duplicated
    anywhere in the corpus, Lee-et-al-2022 style, as one gram shuffle
    + one per-doc island merge. The oracle rebuilds the same spans
    from first principles (range-join grams, HAVING count>=2,
    gaps-and-islands)."""
    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicated_substring_spans,
    )

    docs = table(spark, sf_dir, "documents")
    return duplicated_substring_spans(docs, gram_len=32)


# range(1, 65536) is an oracle-side enumeration bound for gram
# positions, NOT an operator cap — the Spark side enumerates every
# position; the bound must exceed max(length(text) - 31) at the
# grading scale factors (testdata max is ~577, headroom 100x+).
# Grams group by the SAME portable 60-bit hash Spark shuffles on, so
# even a hash collision merges identical groups on both engines.
ORACLE["q_substring_dup_spans"] = f"""
WITH grams AS (
  SELECT doc_id, r.range::INT AS pos,
         {_H("substr(text, r.range::INT, 32)")} AS gkey
  FROM documents CROSS JOIN range(1, 65536) r
  WHERE length(text) >= 32 AND r.range <= length(text) - 31
), dup AS (
  SELECT gkey FROM grams GROUP BY gkey HAVING count(*) >= 2
), dp AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gkey)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 32
              THEN 0 ELSE 1 END AS new_span
  FROM dp
), sp AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + 31 AS span_end,
       MAX(pos) + 31 - MIN(pos) + 1 AS span_len
FROM sp GROUP BY doc_id, span_id
"""
QUERIES["q_substring_dup_spans"] = q_substring_dup_spans


def q_anchored_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of exact substring dedup under the oracle
    gate: content-defined anchoring (anchor_mod=4 — only grams whose
    portable hash ≡ 0 mod 4 reach the shuffle, ~4× less gram traffic;
    winnowing/CDC-style, so both copies of a duplicate keep identical
    anchors at any byte offset). The algorithm is deterministic, so the
    approximation itself is oracle-exact: the SQL twin replays the
    anchor filter and must reproduce every anchored span."""
    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicated_substring_spans,
    )

    docs = table(spark, sf_dir, "documents")
    return duplicated_substring_spans(docs, gram_len=32, anchor_mod=4)


ORACLE["q_anchored_dup_spans"] = f"""
WITH grams AS (
  SELECT doc_id, r.range::INT AS pos,
         {_H("substr(text, r.range::INT, 32)")} AS gkey
  FROM documents CROSS JOIN range(1, 65536) r
  WHERE length(text) >= 32 AND r.range <= length(text) - 31
), anchored AS (
  SELECT * FROM grams WHERE gkey % 4 = 0
), dup AS (
  SELECT gkey FROM anchored GROUP BY gkey HAVING count(*) >= 2
), dp AS (
  SELECT g.doc_id, g.pos FROM anchored g JOIN dup USING (gkey)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 32
              THEN 0 ELSE 1 END AS new_span
  FROM dp
), sp AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + 31 AS span_end,
       MAX(pos) + 31 - MIN(pos) + 1 AS span_len
FROM sp GROUP BY doc_id, span_id
"""
QUERIES["q_anchored_dup_spans"] = q_anchored_dup_spans


ALLPAIRS_T = 0.6
ALLPAIRS_N = 5


def q_allpairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard >= 0.6 via prefix filtering (AllPairs/
    PPJoin, operators/dedup.py: prefix_filtered_jaccard) — the complete
    complement to the probabilistic MinHash path; the oracle is the
    brute-force all-pairs join, so completeness itself is what the
    hash-match proves."""
    from sandbox_data_pipeline_spark.operators.dedup import prefix_filtered_jaccard

    return prefix_filtered_jaccard(
        table(spark, sf_dir, "documents"), threshold=ALLPAIRS_T, n=ALLPAIRS_N
    )


def _oracle_allpairs() -> str:
    n, t = ALLPAIRS_N, ALLPAIRS_T
    return f"""
WITH {_shingles_cte(n)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       sa.n_sh AS n_a, sb.n_sh AS n_b, inter,
       (floor((inter / (sa.n_sh + sb.n_sh - inter)) * 10000.0 + 0.5) / 10000.0) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (floor((inter / (sa.n_sh + sb.n_sh - inter)) * 10000.0 + 0.5) / 10000.0) >= {t}
"""


QUERIES["q_allpairs_jaccard"] = q_allpairs_jaccard
ORACLE["q_allpairs_jaccard"] = _oracle_allpairs()


def q_pagerank_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup candidate graph — which
    documents are the hubs of a template/mirror family (the canonical
    keep candidates). Fixed 5 iterations, damping 0.85, undirected
    (both edge orientations); see operators/graph.py: pagerank."""
    from sandbox_data_pipeline_spark.operators.graph import pagerank

    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    pr = pagerank(edges, damping=0.85, iterations=5)
    return pr.select(F.col("node").alias("doc_id"), "deg", "pagerank", "rank_rel")


def _oracle_pagerank() -> str:
    iters = []
    prev = "p0"
    for k in range(1, 6):
        # exact-IEEE literals: the Spark side computes lit(1.0 - 0.85),
        # which is NOT the double 0.15 — emit the binary-identical reprs
        one_minus_d = repr(1.0 - 0.85)
        d = repr(0.85)
        iters.append(
            f"""p{k} AS (
  SELECT b.node, b.deg, b.n_nodes,
         CAST({one_minus_d} AS DOUBLE) / b.n_nodes
           + CAST({d} AS DOUBLE) * coalesce(s.s, CAST(0 AS DOUBLE)) AS rank
  FROM p0 b LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank / p.deg) AS s
    FROM e JOIN {prev} p ON p.node = e.src
    GROUP BY 1
  ) s ON s.node = b.node
)"""
        )
        prev = f"p{k}"
    chain = ",\n".join(iters)
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
-- MATERIALIZED: e and p0 are referenced once per unrolled iteration;
-- DuckDB would otherwise inline them and recompute the MinHash
-- banding 6x over
e AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
n AS (SELECT count(*) AS n_nodes FROM deg),
p0 AS MATERIALIZED (
  SELECT node, deg, n_nodes, CAST(1 AS DOUBLE) / n_nodes AS rank
  FROM deg CROSS JOIN n
),
{chain}
SELECT node AS doc_id, deg, (floor((rank) * 1000000.0 + 0.5) / 1000000.0) AS pagerank,
       (floor((rank * n_nodes) * 10000.0 + 0.5) / 10000.0) AS rank_rel
FROM {prev}
"""


QUERIES["q_pagerank_dups"] = q_pagerank_dups
ORACLE["q_pagerank_dups"] = _oracle_pagerank()


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the near-dup graph:
    triangles_at_node / C(deg, 2) — near 1 means the node sits in a
    tight mirror clique (dedup whole group), near 0 a hub of unrelated
    borderline matches (inspect before deleting). Reuses the ordered
    two-join triangle enumeration (q_dup_triangles) with each triangle
    credited to its three corners via one explode — no new join shape,
    and the same per-node-degree fan-out bound."""
    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    pairs = cut(pairs)  # feeds 3 join sides + degrees
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.join(per_node, "doc_id", "left")
        .select(
            "doc_id",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                stable_round(
                    F.coalesce(F.col("n_tri"), F.lit(0))
                    * 2
                    / (F.col("deg") * (F.col("deg") - 1)),
                    4,
                )
            )
            .alias("clustering"),
        )
    )


def _oracle_clustering() -> str:
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM mh),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
per_node AS (
  SELECT doc_id, count(*) AS n_tri
  FROM (SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY 1
),
deg AS (
  SELECT doc_id, count(*) AS deg
  FROM (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY 1
)
SELECT deg.doc_id, deg.deg, coalesce(per_node.n_tri, 0) AS n_tri,
       CASE WHEN deg.deg < 2 THEN 0.0
            ELSE (floor((coalesce(per_node.n_tri, 0) * 2 / (deg.deg * (deg.deg - 1))) * 10000.0 + 0.5) / 10000.0)
       END AS clustering
FROM deg LEFT JOIN per_node ON per_node.doc_id = deg.doc_id
"""


QUERIES["q_clustering_coeff"] = q_clustering_coeff
ORACLE["q_clustering_coeff"] = _oracle_clustering()


def q_hits_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the DIRECTED dup graph (each near-dup pair points
    newer → older, duplicate → presumed original): authority = how
    strongly a doc is the original other docs duplicate (canonical
    keep score), hub = a doc aggregating many originals (content-mill
    signal). Exact int64 arithmetic (operators/graph.py: hits) — no
    float normalization inside the loop, so the oracle replays
    bit-identical integer sums."""
    from sandbox_data_pipeline_spark.operators.graph import hits

    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
    )
    return hits(edges, iterations=3).withColumnRenamed("node", "doc_id")


def _oracle_hits() -> str:
    rounds = []
    prev = "s0"
    for k in range(1, 4):
        rounds.append(f"""sa{k} AS MATERIALIZED (
  SELECT n.node, coalesce(ag.v, 0) AS a, n.h
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS node, sum(p.h) AS v
    FROM e JOIN {prev} p ON p.node = e.src GROUP BY 1
  ) ag ON ag.node = n.node
),
s{k} AS MATERIALIZED (
  SELECT n.node, n.a, coalesce(hg.v, 0) AS h
  FROM sa{k} n LEFT JOIN (
    SELECT e.src AS node, sum(p.a) AS v
    FROM e JOIN sa{k} p ON p.node = e.dst GROUP BY 1
  ) hg ON hg.node = n.node
)""")
        prev = f"s{k}"
    chain = ",\n".join(rounds)
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
e AS MATERIALIZED (SELECT doc_b AS src, doc_a AS dst FROM mh),
s0 AS MATERIALIZED (
  SELECT node, 1 AS a, 1 AS h FROM (
    SELECT src AS node FROM e UNION SELECT dst FROM e
  )
),
{chain},
mx AS (SELECT max(a) AS max_a, max(h) AS max_h FROM {prev})
SELECT node AS doc_id, a AS authority_raw, h AS hub_raw,
       CASE WHEN max_a > 0 THEN (floor((a / max_a) * 1000000.0 + 0.5) / 1000000.0) ELSE 0.0 END AS authority_rel,
       CASE WHEN max_h > 0 THEN (floor((h / max_h) * 1000000.0 + 0.5) / 1000000.0) ELSE 0.0 END AS hub_rel
FROM {prev} CROSS JOIN mx
"""


QUERIES["q_hits_dups"] = q_hits_dups
ORACLE["q_hits_dups"] = _oracle_hits()


def q_simhash_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash detector quality across its operating curve: for every
    hamming threshold 0..max, the surviving candidate-pair count and
    the mean EXACT shingle Jaccard of those pairs — the calibration a
    dedup operator reads before picking the production threshold
    (tighter hamming → fewer pairs, higher true similarity). The
    simhash sibling of q_minhash_precision; exact Jaccard is computed
    only for banded candidates, so cost scales with candidates."""
    from sandbox_data_pipeline_spark.operators.dedup import (
        simhash_pairs,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, bits=SIMHASH_BITS, max_hamming=SIMHASH_MAXH)
    sh = cut(word_shingles(docs, n=MINHASH_N))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    bsh = sh.select(F.col("doc_id").alias("_db"), F.col("shingle").alias("_shb"))
    common = (
        pairs.select("doc_a", "doc_b")
        .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(bsh, (F.col("doc_b") == F.col("_db")) & (F.col("shingle") == F.col("_shb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b")
    pj = (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "hamming",
            stable_round(
                F.coalesce("common", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("common", F.lit(0))),
                4,
            ).alias("exact_jaccard"),
        )
    )
    swept = pj.select(
        "hamming",
        "exact_jaccard",
        F.explode(
            F.array(*[F.lit(t) for t in range(SIMHASH_MAXH + 1)])
        ).alias("max_h"),
    ).where(F.col("hamming") <= F.col("max_h"))
    return swept.groupBy("max_h").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        stable_round(F.avg("exact_jaccard"), 4).alias("mean_jaccard"),
        F.sum(F.when(F.col("exact_jaccard") >= 0.5, 1).otherwise(0)).alias(
            "n_ge_05"
        ),
    )


def _oracle_simhash_sweep() -> str:
    n = MINHASH_N
    return f"""
WITH sp AS ({_oracle_simhash_pairs()}),
{_shingles_cte(n).strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT sp.doc_a, sp.doc_b, count(*) AS common
  FROM sp
  JOIN shingles a ON a.doc_id = sp.doc_a
  JOIN shingles b ON b.doc_id = sp.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
pj AS (
  SELECT sp.hamming,
         (floor((coalesce(common, 0) / (sa.n_sh + sb.n_sh - coalesce(common, 0))) * 10000.0 + 0.5) / 10000.0)
           AS exact_jaccard
  FROM sp
  LEFT JOIN common ON common.doc_a = sp.doc_a AND common.doc_b = sp.doc_b
  JOIN sizes sa ON sa.doc_id = sp.doc_a
  JOIN sizes sb ON sb.doc_id = sp.doc_b
)
SELECT CAST(t.range AS INT) AS max_h,
       count(*) AS n_pairs,
       (floor((avg(exact_jaccard)) * 10000.0 + 0.5) / 10000.0) AS mean_jaccard,
       sum(CASE WHEN exact_jaccard >= 0.5 THEN 1 ELSE 0 END) AS n_ge_05
FROM range(0, {SIMHASH_MAXH + 1}) t
JOIN pj ON pj.hamming <= t.range
GROUP BY 1
"""


QUERIES["q_simhash_quality_sweep"] = q_simhash_quality_sweep
ORACLE["q_simhash_quality_sweep"] = _oracle_simhash_sweep()


# --- Fuzzy entity-resolution matching (blocked edit distance) ---------------

FUZZY_PREFIX = 8
FUZZY_BODY = 96
FUZZY_MAXD = 24
FUZZY_CAP = 1000


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein pairs over documents — the record-linkage
    primitive (block on lang+prefix, banded edit-distance DP within
    block, hot-block cap). operators/dedup.py: fuzzy_match_pairs."""
    from sandbox_data_pipeline_spark.operators.dedup import fuzzy_match_pairs

    return fuzzy_match_pairs(
        table(spark, sf_dir, "documents"),
        prefix=FUZZY_PREFIX,
        body=FUZZY_BODY,
        max_dist=FUZZY_MAXD,
        block_cap=FUZZY_CAP,
    )


def _oracle_fuzzy() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, lang,
         substr(s, 1, {FUZZY_PREFIX}) AS blk,
         substr(s, {FUZZY_PREFIX} + 1, {FUZZY_BODY}) AS body
  FROM (SELECT doc_id, lang,
               regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS s
        FROM documents)
),
ok_blocks AS (
  SELECT lang, blk FROM d GROUP BY lang, blk
  HAVING COUNT(*) <= {FUZZY_CAP}
),
dd AS (SELECT d.* FROM d JOIN ok_blocks USING (lang, blk))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
       levenshtein(a.body, b.body) AS edit_dist
FROM dd a JOIN dd b USING (lang, blk)
WHERE a.doc_id < b.doc_id AND levenshtein(a.body, b.body) <= {FUZZY_MAXD}
"""


QUERIES["q_fuzzy_match"] = q_fuzzy_match
ORACLE["q_fuzzy_match"] = _oracle_fuzzy()


# --- Entity resolution: fuzzy pairs → connected components -------------------


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage end-to-end: blocked-Levenshtein match pairs
    (operators/dedup.py: fuzzy_match_pairs) resolved into ENTITIES via
    min-label connected components (duplicate_clusters — O(log d)
    pointer-jumping rounds), then summarized per entity. The oracle
    replays the same pairs through a recursive-CTE transitive closure,
    so a wrong edge, a half-propagated label, or a split component all
    hash-mismatch. Scale: the closure work is bounded by match-pair
    count (block-capped), never corpus size squared."""
    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
        fuzzy_match_pairs,
    )

    pairs = fuzzy_match_pairs(
        table(spark, sf_dir, "documents"),
        prefix=FUZZY_PREFIX,
        body=FUZZY_BODY,
        max_dist=FUZZY_MAXD,
        block_cap=FUZZY_CAP,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    cc = duplicate_clusters(pairs)
    return cc.groupBy(F.col("cluster_id").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("doc_id").alias("max_member"),
    )


def _oracle_entity_resolution() -> str:
    return f"""
WITH RECURSIVE
fp AS ({_oracle_fuzzy()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM fp
  UNION
  SELECT id_b AS a, id_a AS b FROM fp
),
reach (a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
)
SELECT cluster_id AS entity_id, count(*) AS n_members,
       max(doc_id) AS max_member
FROM labels GROUP BY 1
"""


QUERIES["q_entity_resolution"] = q_entity_resolution
ORACLE["q_entity_resolution"] = _oracle_entity_resolution()


SUFFIX_DOC_MOD = 5  # deterministic corpus subset: doc_id % 5 = 0
SUFFIX_MAX_LEN = 128
SUFFIX_MIN_LCP = 20
SUFFIX_TOP_K = 50


def q_suffix_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT repeated-substring detection via a distributed suffix
    array (Manber-Myers prefix doubling, log L rounds of bounded
    shuffles — operators/suffix.py): adjacent suffixes in global rank
    order with a common prefix >= 20 chars ARE the corpus's maximal
    repeats, of any length — the exact method behind suffix-array
    training-data dedup (Lee et al. 2022), where the anchored-CDC
    span query is the approximate production path. The oracle sorts
    the suffix STRINGS directly, so a hash match proves the doubling
    construction reproduces the true lexicographic suffix order rank
    for rank."""
    from sandbox_data_pipeline_spark.operators.suffix import (
        repeated_substrings,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % SUFFIX_DOC_MOD == 0)
        .select("doc_id", "text")
    )
    return repeated_substrings(
        docs,
        min_lcp=SUFFIX_MIN_LCP,
        top_k=SUFFIX_TOP_K,
        max_len=SUFFIX_MAX_LEN,
    )


ORACLE["q_suffix_repeats"] = f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {SUFFIX_MAX_LEN}) AS t
  FROM documents WHERE doc_id % {SUFFIX_DOC_MOD} = 0
),
pos AS (
  SELECT doc_id, CAST(r.range AS INTEGER) AS p,
         substr(t, CAST(r.range AS INTEGER) + 1) AS suf
  FROM d CROSS JOIN range(0, {SUFFIX_MAX_LEN}) r
  WHERE r.range < length(t)
),
ranked AS (
  SELECT doc_id, p, suf,
         row_number() OVER (ORDER BY suf, doc_id, p) AS sa_rank
  FROM pos
),
pairs AS (
  SELECT a.sa_rank, a.doc_id, a.p AS pos,
         b.doc_id AS next_doc, b.p AS next_pos,
         -- nullif: DuckDB list_position returns 0 (not NULL) when the
         -- element is absent — i.e. when one suffix is a full prefix
         -- of the other, exactly the longest repeats
         CAST(coalesce(
           nullif(
             list_position(
               list_transform(
                 range(1, least(length(a.suf), length(b.suf)) + 1),
                 i -> substr(a.suf, CAST(i AS INTEGER), 1)
                      = substr(b.suf, CAST(i AS INTEGER), 1)
               ),
               false
             ),
             0
           ) - 1,
           least(length(a.suf), length(b.suf))
         ) AS INTEGER) AS lcp
  FROM ranked a JOIN ranked b ON b.sa_rank = a.sa_rank + 1
)
SELECT CAST(sa_rank AS BIGINT) AS sa_rank,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(pos AS INTEGER) AS pos,
       CAST(next_doc AS BIGINT) AS next_doc,
       CAST(next_pos AS INTEGER) AS next_pos,
       lcp
FROM pairs
WHERE lcp >= {SUFFIX_MIN_LCP}
ORDER BY lcp DESC, sa_rank
LIMIT {SUFFIX_TOP_K}
"""
QUERIES["q_suffix_repeats"] = q_suffix_repeats


def q_suffix_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable dedup surface of the suffix array: per-document
    maximal spans covered by >= 20-char substrings that occur
    elsewhere in the corpus (what suffix-array dedup cuts from
    training text). operators/suffix.py: duplicate_spans."""
    from sandbox_data_pipeline_spark.operators.suffix import duplicate_spans

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % SUFFIX_DOC_MOD == 0)
        .select("doc_id", "text")
    )
    return duplicate_spans(
        docs, min_len=SUFFIX_MIN_LCP, max_len=SUFFIX_MAX_LEN
    )


ORACLE["q_suffix_dedup_spans"] = f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {SUFFIX_MAX_LEN}) AS t
  FROM documents WHERE doc_id % {SUFFIX_DOC_MOD} = 0
),
pos AS (
  SELECT doc_id, CAST(r.range AS INTEGER) AS p,
         substr(t, CAST(r.range AS INTEGER) + 1) AS suf
  FROM d CROSS JOIN range(0, {SUFFIX_MAX_LEN}) r
  WHERE r.range < length(t)
),
ranked AS (
  SELECT doc_id, p, suf,
         row_number() OVER (ORDER BY suf, doc_id, p) AS sa_rank
  FROM pos
),
pairs AS (
  SELECT a.doc_id, a.p AS pos, b.doc_id AS next_doc, b.p AS next_pos,
         CAST(coalesce(
           nullif(
             list_position(
               list_transform(
                 range(1, least(length(a.suf), length(b.suf)) + 1),
                 i -> substr(a.suf, CAST(i AS INTEGER), 1)
                      = substr(b.suf, CAST(i AS INTEGER), 1)
               ),
               false
             ),
             0
           ) - 1,
           least(length(a.suf), length(b.suf))
         ) AS INTEGER) AS lcp
  FROM ranked a JOIN ranked b ON b.sa_rank = a.sa_rank + 1
),
ivals AS (
  SELECT DISTINCT doc_id, s, e FROM (
    SELECT doc_id, pos AS s, pos + lcp AS e FROM pairs
    WHERE lcp >= {SUFFIX_MIN_LCP}
    UNION ALL
    SELECT next_doc AS doc_id, next_pos AS s, next_pos + lcp AS e
    FROM pairs WHERE lcp >= {SUFFIX_MIN_LCP}
  )
),
ord AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pm
  FROM ivals
),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS new_i
  FROM ord
),
grp AS (
  SELECT doc_id, s, e,
         sum(new_i) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS gid
  FROM isl
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(MIN(s) AS INTEGER) AS span_start,
       CAST(MAX(e) AS INTEGER) AS span_end,
       CAST(MAX(e) - MIN(s) AS INTEGER) AS span_len
FROM grp
GROUP BY doc_id, gid
"""
QUERIES["q_suffix_dedup_spans"] = q_suffix_dedup_spans


def q_suffix_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MISSING-until-now final step of the Lee et al. 2022
    suffix-array dedup pipeline: emit the CLEANED corpus. Every
    character range marked by q_suffix_dedup_spans (all occurrences of
    every >= 20-char repeat) is excised; every sampled document comes
    back as (doc_id, cleaned_text, n_chars_removed), unspanned docs
    untouched with 0 removed. Detection (and therefore removal)
    covers the SA horizon — the first SUFFIX_MAX_LEN chars of each
    doc, the same bound q_suffix_dedup_spans declares; production runs
    raise max_len (doubling's shuffle width is horizon-independent)
    or chunk documents. operators/suffix.py: duplicate_spans +
    apply_span_removal (single higher-order ``aggregate`` stitch, no
    UDF, no corpus explode)."""
    from sandbox_data_pipeline_spark.operators.suffix import (
        apply_span_removal,
        duplicate_spans,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % SUFFIX_DOC_MOD == 0)
        .select("doc_id", "text")
    )
    spans = duplicate_spans(
        docs, min_len=SUFFIX_MIN_LCP, max_len=SUFFIX_MAX_LEN
    )
    return apply_span_removal(docs, spans)


def q_suffix_dedup_apply_keep_first(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keep-first variant of q_suffix_dedup_apply: each rank-adjacent
    repeat pair marks only its later occurrence ((doc_id, pos) order),
    so the earliest copy of every repeated run survives as canonical —
    content is deduplicated, never destroyed. operators/suffix.py:
    canonical_duplicate_spans."""
    from sandbox_data_pipeline_spark.operators.suffix import (
        apply_span_removal,
        canonical_duplicate_spans,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % SUFFIX_DOC_MOD == 0)
        .select("doc_id", "text")
    )
    spans = canonical_duplicate_spans(
        docs, min_len=SUFFIX_MIN_LCP, max_len=SUFFIX_MAX_LEN
    )
    return apply_span_removal(docs, spans)


def _oracle_suffix_apply(keep_first: bool) -> str:
    """Span CTE chain (the q_suffix_dedup_spans formulation) + pure-SQL
    string surgery: kept text = ordered string_agg of the gap segments
    between consecutive merged spans plus the tail after the last one."""
    if keep_first:
        # Run grouping (operators/suffix.py: canonical_duplicate_spans):
        # maximal rank-consecutive chains of qualifying pairs; every
        # member but the (doc_id, pos) minimum is marked — pairwise-lcp
        # extents where a pair marks its later element, run-lcp extents
        # for the rest.
        later = "(next_doc > doc_id OR (next_doc = doc_id AND next_pos > pos))"
        ivals = f"""
  WITH q AS (
    SELECT *, CASE WHEN lag(sa_rank) OVER (ORDER BY sa_rank)
                        = sa_rank - 1
              THEN 0 ELSE 1 END AS new_run
    FROM pairs WHERE lcp >= {SUFFIX_MIN_LCP}
  ),
  r AS (
    SELECT *, sum(new_run) OVER (ORDER BY sa_rank ROWS UNBOUNDED PRECEDING)
                AS run_id
    FROM q
  ),
  members AS (
    SELECT DISTINCT run_id, doc_id, pos FROM (
      SELECT run_id, doc_id, pos FROM r
      UNION ALL
      SELECT run_id, next_doc AS doc_id, next_pos AS pos FROM r
    )
  ),
  rmin AS (
    SELECT run_id, doc_id AS mdoc, pos AS mpos FROM (
      SELECT run_id, doc_id, pos,
             row_number() OVER (PARTITION BY run_id
                                ORDER BY doc_id, pos) AS rn
      FROM members
    ) WHERE rn = 1
  ),
  rlcp AS (SELECT run_id, min(lcp) AS rl FROM r GROUP BY 1)
  SELECT DISTINCT doc_id, s, e FROM (
    SELECT CASE WHEN {later} THEN next_doc ELSE doc_id END AS doc_id,
           CASE WHEN {later} THEN next_pos ELSE pos END AS s,
           CASE WHEN {later} THEN next_pos ELSE pos END + lcp AS e
    FROM r
    UNION ALL
    SELECT m.doc_id, m.pos AS s, m.pos + x.rl AS e
    FROM members m
    JOIN rmin USING (run_id) JOIN rlcp x USING (run_id)
    WHERE NOT (m.doc_id = rmin.mdoc AND m.pos = rmin.mpos)
  )"""
    else:
        ivals = f"""
  SELECT DISTINCT doc_id, s, e FROM (
    SELECT doc_id, pos AS s, pos + lcp AS e FROM pairs
    WHERE lcp >= {SUFFIX_MIN_LCP}
    UNION ALL
    SELECT next_doc AS doc_id, next_pos AS s, next_pos + lcp AS e
    FROM pairs WHERE lcp >= {SUFFIX_MIN_LCP}
  )"""
    return f"""
WITH d AS (
  SELECT doc_id, text, substr(text, 1, {SUFFIX_MAX_LEN}) AS t
  FROM documents WHERE doc_id % {SUFFIX_DOC_MOD} = 0
),
pos AS (
  SELECT doc_id, CAST(r.range AS INTEGER) AS p,
         substr(t, CAST(r.range AS INTEGER) + 1) AS suf
  FROM d CROSS JOIN range(0, {SUFFIX_MAX_LEN}) r
  WHERE r.range < length(t)
),
ranked AS (
  SELECT doc_id, p, suf,
         row_number() OVER (ORDER BY suf, doc_id, p) AS sa_rank
  FROM pos
),
pairs AS (
  SELECT a.sa_rank, a.doc_id, a.p AS pos,
         b.doc_id AS next_doc, b.p AS next_pos,
         CAST(coalesce(
           nullif(
             list_position(
               list_transform(
                 range(1, least(length(a.suf), length(b.suf)) + 1),
                 i -> substr(a.suf, CAST(i AS INTEGER), 1)
                      = substr(b.suf, CAST(i AS INTEGER), 1)
               ),
               false
             ),
             0
           ) - 1,
           least(length(a.suf), length(b.suf))
         ) AS INTEGER) AS lcp
  FROM ranked a JOIN ranked b ON b.sa_rank = a.sa_rank + 1
),
ivals AS ({ivals}
),
ord AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pm
  FROM ivals
),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS new_i
  FROM ord
),
grp AS (
  SELECT doc_id, s, e,
         sum(new_i) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS gid
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, gid
),
withspans AS (
  SELECT d.doc_id, d.text, sp.s, sp.e
  FROM d JOIN spans sp ON sp.doc_id = d.doc_id
),
segs AS (
  SELECT doc_id, text,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
         s AS ge
  FROM withspans
  UNION ALL
  SELECT doc_id, text, max(e) AS gs, length(text) AS ge
  FROM withspans GROUP BY doc_id, text
),
stitched AS (
  SELECT doc_id,
         string_agg(substr(text, gs + 1, ge - gs), '' ORDER BY gs)
           AS cleaned_text
  FROM segs WHERE ge > gs GROUP BY doc_id
),
rm AS (
  SELECT doc_id, CAST(SUM(e - s) AS INTEGER) AS removed
  FROM spans GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(st.cleaned_text,
                CASE WHEN rm.doc_id IS NOT NULL THEN '' ELSE d.text END)
         AS cleaned_text,
       CAST(coalesce(rm.removed, 0) AS INTEGER) AS n_chars_removed
FROM d
LEFT JOIN stitched st ON st.doc_id = d.doc_id
LEFT JOIN rm ON rm.doc_id = d.doc_id
"""


QUERIES["q_suffix_dedup_apply"] = q_suffix_dedup_apply
ORACLE["q_suffix_dedup_apply"] = _oracle_suffix_apply(keep_first=False)
QUERIES["q_suffix_dedup_apply_keep_first"] = q_suffix_dedup_apply_keep_first
ORACLE["q_suffix_dedup_apply_keep_first"] = _oracle_suffix_apply(
    keep_first=True
)


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the near-dup candidate graph
    (the template/mirror-family detector): 4 synchronous rounds with a
    self-vote, most-frequent neighbor label, ties -> smallest label.
    Complements q_dedup_clusters (connected components = reachability;
    LPA splits a component into densely-linked families). All-integer
    arithmetic; see operators/graph.py: label_propagation."""
    from sandbox_data_pipeline_spark.operators.graph import label_propagation

    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = label_propagation(edges, iterations=4)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("community"),
        "community_size",
    )


def _oracle_lpa() -> str:
    rounds = []
    prev = "l0"
    for k in range(1, 5):
        rounds.append(f"""v{k} AS (
  SELECT node, label, count(*) AS c FROM (
    SELECT e.dst AS node, p.label AS label FROM e JOIN {prev} p ON p.node = e.src
    UNION ALL
    SELECT node, label FROM {prev}
  ) GROUP BY 1, 2
),
l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM v{k}
  ) WHERE rn = 1
)""")
        prev = f"l{k}"
    chain = ",\n".join(rounds)
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
e AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
),
l0 AS MATERIALIZED (
  SELECT node, node AS label FROM (
    SELECT src AS node FROM e UNION SELECT dst FROM e
  )
),
{chain},
sizes AS (SELECT label, count(*) AS community_size FROM {prev} GROUP BY 1)
SELECT l.node AS doc_id, l.label AS community, s.community_size
FROM {prev} l JOIN sizes s ON s.label = l.label
"""


QUERIES["q_lpa_communities"] = q_lpa_communities
ORACLE["q_lpa_communities"] = _oracle_lpa()


BFS_SEED_MOD = 10
BFS_MAX_HOPS = 4


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS distance from a seed set over the near-dup
    graph — "how far is every document from a known-bad seed"
    (contamination blast-radius analysis). Seeds = graph nodes with
    doc_id % 10 == 0; 4 hops of min-plus relaxation; unreached nodes
    are absent. operators/graph.py: bfs_distances.

    r12: the banded minhash pair subtree fans out 4x (src/dst union
    x seed-derivation union) before the solver's own references; an
    eager cut of the bounded pair list runs it once (interleaved A/B:
    2.71 -> 1.65 s; same rationale as q_assortativity — distinct
    aliases defeat exchange reuse)."""
    from sandbox_data_pipeline_spark.operators.graph import bfs_distances

    pairs = cut(q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .where(F.col("node") % BFS_SEED_MOD == 0)
    )
    return bfs_distances(edges, seeds, max_hops=BFS_MAX_HOPS).select(
        F.col("node").alias("doc_id"), "dist"
    )


def _oracle_bfs() -> str:
    rounds = []
    prev = "d0"
    for k in range(1, BFS_MAX_HOPS + 1):
        rounds.append(f"""d{k} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, p.dist + 1 AS dist FROM e JOIN {prev} p ON p.node = e.src
  ) GROUP BY 1
)""")
        prev = f"d{k}"
    chain = ",\n".join(rounds)
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
e AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
),
d0 AS MATERIALIZED (
  SELECT node, 0 AS dist FROM (
    SELECT src AS node FROM e UNION SELECT dst FROM e
  ) WHERE node % {BFS_SEED_MOD} = 0
),
{chain}
SELECT node AS doc_id, CAST(dist AS INTEGER) AS dist FROM {prev}
"""


QUERIES["q_graph_bfs"] = q_graph_bfs
ORACLE["q_graph_bfs"] = _oracle_bfs()


# --- k-core decomposition of the co-purchase graph --------------------------


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (k=3) of the part co-purchase graph (edge =
    two parts sharing >= 2 order baskets) by iterative peeling:
    repeatedly drop nodes with degree < k and their incident edges.
    The graph-robustness filter that separates stable product
    communities from one-off co-occurrences — and the standard
    preprocessing cut before community detection (q_lpa_communities
    runs downstream of exactly this kind of filter).

    Four unrolled peel rounds — the fixpoint at this density arrives
    in three (a test asserts round 4 changes nothing, so the bounded
    unroll IS the k-core here, not an approximation). Scale: edge
    generation is the a-priori-bounded basket self-join (per-basket
    fan-out, never catalog all-pairs); each round is a degree
    aggregate (shuffle on node id, partial-combined) plus two
    semi-joins on the shrinking survivor set. Each round ends in an
    eager cut: the round's plan references the previous edge set
    THREE times (both union branches of the degree count + the join
    input), so an uncut lineage grows 3^rounds plan copies — the
    cut pins each round to its materialized
    RDD, keeping plan size (and at 100 TB, recompute) linear in the
    round count. Same lineage-control pattern as q_pagerank_dups."""
    li = table(spark, sf_dir, "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = bi.select("o", F.col("p").alias("pa"))
    b = bi.select("o", F.col("p").alias("pb"))
    # materialized ONCE: both the cap probe and (above cap) round
    # 1's three subtree references read the blocks, not the join
    e = cut(
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("pa", "pb"),
        eager=False,
    )
    from sandbox_data_pipeline_spark.operators.graph import (
        _kcore_local,
        _solve_local,
    )
    from sandbox_data_pipeline_spark.operators.local_solve import fits_local

    if fits_local("graph_edges", e.count()):
        # capped local solve (r12): all four integer-exact peel rounds
        # in one task — the same scale-adaptive discipline as
        # operators/graph.py's BSP loops and operators/dedup.py's CC
        return _solve_local(
            e, "pa", "pb", _kcore_local(3, 4), "part long, degree long"
        )
    for _ in range(4):
        nodes = e.select(F.col("pa").alias("n")).unionAll(
            e.select(F.col("pb").alias("n"))
        )
        keep = (
            nodes.groupBy("n")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 3)
            .select("n")
        )
        e = cut(
            e.join(keep.withColumnRenamed("n", "pa"), "pa", "semi")
            .join(keep.withColumnRenamed("n", "pb"), "pb", "semi")
        )
    final_nodes = e.select(F.col("pa").alias("part")).unionAll(
        e.select(F.col("pb").alias("part"))
    )
    return final_nodes.groupBy("part").agg(F.count(F.lit(1)).alias("degree"))


def _oracle_kcore() -> str:
    # Every stage CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    # each round references its predecessor three times, so the
    # un-materialized plan replays the basket self-join 3^rounds
    # times (~175 s at sf0.01; 1.5 s materialized) — the DuckDB twin
    # of the lineage blowup the Spark side solves with eager
    # cuts.
    sql = """
WITH bi AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb FROM bi a JOIN bi b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 2
)"""
    prev = "e0"
    for r in range(4):
        sql += f""",
d{r} AS MATERIALIZED (
  SELECT n, count(*) AS c FROM (
    SELECT pa AS n FROM {prev} UNION ALL SELECT pb FROM {prev}
  ) GROUP BY 1
),
k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE c >= 3),
e{r + 1} AS MATERIALIZED (
  SELECT pa, pb FROM {prev}
  WHERE pa IN (SELECT n FROM k{r}) AND pb IN (SELECT n FROM k{r})
)"""
        prev = f"e{r + 1}"
    return sql + f"""
SELECT part, count(*) AS degree FROM (
  SELECT pa AS part FROM {prev} UNION ALL SELECT pb FROM {prev}
) GROUP BY 1
"""


ORACLE["q_kcore_peel"] = _oracle_kcore()
QUERIES["q_kcore_peel"] = q_kcore_peel


# --- Common-neighbor link prediction on the co-purchase graph ---------------


def q_link_prediction(
    spark: SparkSession, sf_dir: str, max_degree: int | None = None
) -> DataFrame:
    """Common-neighbor link prediction over the part co-purchase
    graph: for every NON-edge pair sharing >= 2 neighbors, the
    common-neighbor count and neighborhood Jaccard — the classic
    'products likely to be co-purchased next' / recommendation-recall
    candidate generator, and the second consumer of the same edge
    list q_kcore_peel peels.

    Scale: the wedge join (adj ⋈ adj on the middle node,
    operators/graph.py: wedge_pairs) is the triangle-counting shape —
    fan-out Σ_w deg(w)². ``max_degree`` is the production knob: drop
    hub middle-nodes before the join (broadcast anti-join on the
    short hub list), bounding per-key fan-out at max_degree²; capped
    output is a subset of exact (tests pin it). Default off — exact
    is right at bench SF (measured fan-out sf0.1: Σdeg(w)² = 9,938
    wedge rows off 7,146 adjacency rows, max deg(w) = 6). The (u,v)
    aggregate shuffles on the candidate pair; the existing-edge
    anti-join and the two degree joins run on the bounded edge/node
    lists. Exact integers into ONE dec_ratio."""
    from sandbox_data_pipeline_spark.operators.graph import wedge_pairs
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio

    li = table(spark, sf_dir, "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = bi.select("o", F.col("p").alias("pa"))
    b = bi.select("o", F.col("p").alias("pb"))
    # r12: this co-purchase edge list is referenced ~6x downstream
    # (adj union doubles it, the wedge self-join doubles adj, the
    # anti-join and degree joins read it again — 36 scans / 86
    # Exchanges in the plan); an eager cut of the
    # bounded w>=2 edge list runs the lineitem self-join ONCE
    # (interleaved A/B under load: 4.35 -> 3.33 s)
    e = cut(
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("pa", "pb")
    )
    adj = e.select(F.col("pa").alias("u"), F.col("pb").alias("w")).unionAll(
        e.select(F.col("pb").alias("u"), F.col("pa").alias("w"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    wedges = wedge_pairs(adj, min_common=2, max_degree=max_degree)
    non_edges = wedges.join(
        e.select(F.col("pa").alias("u"), F.col("pb").alias("v")),
        ["u", "v"],
        "anti",
    )
    out = (
        non_edges.join(deg.select(F.col("u"), F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v")
    )
    return out.select(
        "u",
        "v",
        "cn",
        "deg_u",
        "deg_v",
        dec_ratio(
            F.col("cn"),
            F.col("deg_u") + F.col("deg_v") - F.col("cn"),
            0,
            4,
        ).alias("jacc"),
    )


def _oracle_link_prediction() -> str:
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio_sql

    return f"""
WITH bi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb FROM bi a JOIN bi b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS MATERIALIZED (
  SELECT pa AS u, pb AS w FROM e UNION ALL SELECT pb, pa FROM e
),
deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
wedges AS (
  SELECT x.u AS u, y.u AS v, count(*) AS cn
  FROM adj x JOIN adj y ON x.w = y.w AND x.u < y.u
  GROUP BY 1, 2 HAVING count(*) >= 2
),
non_edges AS (
  SELECT u, v, cn FROM wedges
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = u AND e.pb = v)
)
SELECT ne.u, ne.v, CAST(cn AS BIGINT) AS cn,
       CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v,
       {dec_ratio_sql("cn", "du.deg + dv.deg - cn", 0, 4)} AS jacc
FROM non_edges ne
JOIN deg du ON du.u = ne.u
JOIN deg dv ON dv.u = ne.v
"""


QUERIES["q_link_prediction"] = q_link_prediction
ORACLE["q_link_prediction"] = _oracle_link_prediction()


PPR_SEED_MOD = 10
PPR_ITER = 4
PPR_D = 0.85


def q_ppr_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the known-bad seed set over the
    near-dup graph — contamination INFLUENCE mass, where q_graph_bfs
    gives only hop distance (a doc two hops away through many paths
    outranks one two hops away through one). Seeds = graph nodes with
    doc_id % 10 == 0 (the BFS seed rule); 4 iterations, d = 0.85.
    operators/graph.py: personalized_pagerank.

    r12: eager cut of the pair list — same 4x fan-out and
    rationale as q_graph_bfs (interleaved A/B: 2.32 -> 1.55 s)."""
    from sandbox_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    pairs = cut(q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .where(F.col("node") % PPR_SEED_MOD == 0)
    )
    ppr = personalized_pagerank(
        edges, seeds, damping=PPR_D, iterations=PPR_ITER
    )
    return ppr.select(
        F.col("node").alias("doc_id"),
        "deg",
        F.col("is_seed").cast("int").alias("is_seed"),
        "ppr",
    )


def _oracle_ppr() -> str:
    one_minus_d = repr(1.0 - PPR_D)
    dd = repr(PPR_D)
    iters = []
    prev = "r0"
    for k in range(1, PPR_ITER + 1):
        iters.append(
            f"""r{k} AS (
  SELECT b.node, b.deg, b.is_seed, b.n_seeds,
         CAST({one_minus_d} AS DOUBLE)
           * (CAST(b.is_seed AS DOUBLE) / b.n_seeds)
           + CAST({dd} AS DOUBLE) * coalesce(s.s, CAST(0 AS DOUBLE)) AS rank
  FROM r0 b LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank / p.deg) AS s
    FROM e JOIN {prev} p ON p.node = e.src
    GROUP BY 1
  ) s ON s.node = b.node
)"""
        )
        prev = f"r{k}"
    chain = ",\n".join(iters)
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
e AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
base AS MATERIALIZED (
  SELECT node, deg,
         CASE WHEN node % {PPR_SEED_MOD} = 0 THEN 1 ELSE 0 END AS is_seed
  FROM deg
),
ns AS (SELECT sum(is_seed) AS n_seeds FROM base),
r0 AS MATERIALIZED (
  SELECT node, deg, is_seed, n_seeds,
         CAST(is_seed AS DOUBLE) / n_seeds AS rank
  FROM base CROSS JOIN ns
),
{chain}
SELECT node AS doc_id, CAST(deg AS BIGINT) AS deg,
       CAST(is_seed AS INTEGER) AS is_seed,
       (floor((rank) * 1000000.0 + 0.5) / 1000000.0) AS ppr
FROM {prev}
"""


QUERIES["q_ppr_influence"] = q_ppr_influence
ORACLE["q_ppr_influence"] = _oracle_ppr()


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph (Newman 2002):
    Pearson correlation of endpoint degrees over the directed edge
    list — positive means hubs link hubs (template families chaining),
    negative means hub-and-spoke mirror sites. All six moments are
    exact int64 sums over the edge list (two broadcast degree joins,
    shuffle bounded by the edge list); the finishing r is one fixed
    double expression tree, floor-rounded once — the exact
    q_autocorrelation recipe on graph structure.

    r12: the banded minhash pair subtree is referenced ~6x here (the
    src/dst union doubles it, the two broadcast degree builds double
    the union again) — 24 scans in the plan; an eager cut of the
    bounded candidate-pair list runs it ONCE (interleaved A/B
    under load: 3.09 -> 2.01 s). The LOF precedent, not the
    sweep/precision one — here the duplicated branches are NOT
    identical exchanges, so runtime exchange reuse cannot dedupe
    them."""
    pairs = cut(q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    e = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("deg").alias("dx"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("deg").alias("dy"))),
            "dst",
        )
    )
    m = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = m["n_edges"] * m["sxy"] - m["sx"] * m["sy"]
    vx = (m["n_edges"] * m["sxx"] - m["sx"] * m["sx"]).cast("double")
    vy = (m["n_edges"] * m["syy"] - m["sy"] * m["sy"]).cast("double")
    den = F.sqrt(vx * vy)
    from sandbox_data_pipeline_spark.queries._envproof import stable_round

    return m.select(
        F.col("n_edges").cast("long").alias("n_edges"),
        stable_round(
            F.when(den == 0.0, F.lit(0.0)).otherwise(num / den), 6
        ).alias("assortativity"),
    )


def _oracle_assortativity() -> str:
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
e AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM mh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh
),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
j AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM e JOIN deg dx ON dx.node = e.src JOIN deg dy ON dy.node = e.dst
),
m AS (
  SELECT count(*) AS n_edges, sum(dx) AS sx, sum(dy) AS sy,
         sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
  FROM j
)
SELECT CAST(n_edges AS BIGINT) AS n_edges,
       (floor((CASE WHEN sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
                         * CAST(n_edges * syy - sy * sy AS DOUBLE)) = 0.0
                    THEN 0.0
                    ELSE (n_edges * sxy - sx * sy)
                         / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
                                * CAST(n_edges * syy - sy * sy AS DOUBLE))
               END) * 1000000.0 + 0.5) / 1000000.0) AS assortativity
FROM m
"""


QUERIES["q_assortativity"] = q_assortativity
ORACLE["q_assortativity"] = _oracle_assortativity()


def q_pair_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 over the MinHash near-dup candidate pairs — the quote/
    overlap REFINEMENT eval: banded LSH proposes pairs, BLEU grades
    how much of the later doc is clipped n-gram overlap with the
    earlier one (hypothesis = doc_b, reference = doc_a). Clipped
    precisions are exact integers (Σ min(c_hyp, c_ref) per n ∈ {1,2});
    brevity penalty and the geometric mean are a fixed double
    expression over those exact operands, floor-rounded once; a zero
    clipped count short-circuits BLEU to 0 before any log. Work is
    bounded by the CANDIDATE pairs (never all pairs) × per-doc gram
    counts, joined on uniform (doc, gram) keys."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    pos = docs.select("doc_id", F.posexplode(toks).alias("p", "w"))
    from pyspark.sql import Window as W

    wnext = W.partitionBy("doc_id").orderBy("p")
    uni = pos.select("doc_id", F.col("w").alias("gram"), F.lit(1).alias("n"))
    bi = (
        pos.withColumn("w2", F.lead("w").over(wnext))
        .where(F.col("w2").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", "w", "w2").alias("gram"),
            F.lit(2).alias("n"),
        )
    )
    grams = (
        uni.unionByName(bi)
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lens = pos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    hyp = pairs.join(
        grams.select(
            F.col("doc_id").alias("doc_b"), "n", "gram", F.col("c").alias("ch")
        ),
        "doc_b",
    )
    both = hyp.join(
        grams.select(
            F.col("doc_id").alias("doc_a"), "n", "gram", F.col("c").alias("cr")
        ),
        ["doc_a", "n", "gram"],
        "left",
    )
    prec = both.groupBy("doc_a", "doc_b", "n").agg(
        F.sum(F.least(F.col("ch"), F.coalesce(F.col("cr"), F.lit(0)))).alias(
            "clip"
        ),
        F.sum("ch").alias("tot"),
    )
    wide = prec.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("n") == 1, F.col("clip"))).alias("clip1"),
        F.max(F.when(F.col("n") == 1, F.col("tot"))).alias("tot1"),
        F.max(F.when(F.col("n") == 2, F.col("clip"))).alias("clip2"),
        F.max(F.when(F.col("n") == 2, F.col("tot"))).alias("tot2"),
    )
    out = (
        wide.join(
            lens.select(F.col("doc_id").alias("doc_a"), F.col("len").alias("len_ref")),
            "doc_a",
        )
        .join(
            lens.select(F.col("doc_id").alias("doc_b"), F.col("len").alias("len_hyp")),
            "doc_b",
        )
    )
    p1 = F.col("clip1").cast("double") / F.col("tot1")
    p2 = F.col("clip2").cast("double") / F.col("tot2")
    bp = F.when(F.col("len_hyp") > F.col("len_ref"), F.lit(1.0)).otherwise(
        F.exp(
            F.lit(1.0)
            - F.col("len_ref").cast("double") / F.col("len_hyp")
        )
    )
    bleu = F.when(
        (F.col("clip1") == 0) | (F.col("clip2") == 0) | F.col("clip2").isNull(),
        F.lit(0.0),
    ).otherwise(bp * F.exp((F.log(p1) + F.log(p2)) / F.lit(2.0)))
    from sandbox_data_pipeline_spark.queries._envproof import stable_round

    return out.select(
        "doc_a",
        "doc_b",
        F.col("len_ref").cast("long").alias("len_ref"),
        F.col("len_hyp").cast("long").alias("len_hyp"),
        F.coalesce(F.col("clip1"), F.lit(0)).cast("long").alias("clip1"),
        F.coalesce(F.col("tot1"), F.lit(0)).cast("long").alias("tot1"),
        F.coalesce(F.col("clip2"), F.lit(0)).cast("long").alias("clip2"),
        F.coalesce(F.col("tot2"), F.lit(0)).cast("long").alias("tot2"),
        stable_round(bleu, 6).alias("bleu2"),
    )


def _oracle_pair_bleu() -> str:
    return f"""
WITH mh AS MATERIALIZED ({_oracle_minhash()}),
lists AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents
),
uni AS (
  SELECT doc_id, unnest(l) AS gram, 1 AS n FROM lists
),
bi AS (
  SELECT doc_id,
         l[CAST(i.range AS INTEGER)] || ' ' ||
         l[CAST(i.range AS INTEGER) + 1] AS gram,
         2 AS n
  FROM lists CROSS JOIN range(1, 4096) i
  WHERE i.range < len(l)
),
grams AS (
  SELECT doc_id, n, gram, count(*) AS c
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1, 2, 3
),
lens AS (SELECT doc_id, len(l) AS len FROM lists),
prec AS (
  SELECT p.doc_a, p.doc_b, h.n,
         sum(least(h.c, coalesce(r.c, 0))) AS clip,
         sum(h.c) AS tot
  FROM mh p
  JOIN grams h ON h.doc_id = p.doc_b
  LEFT JOIN grams r
    ON r.doc_id = p.doc_a AND r.n = h.n AND r.gram = h.gram
  GROUP BY 1, 2, 3
),
wide AS (
  SELECT doc_a, doc_b,
         max(CASE WHEN n = 1 THEN clip END) AS clip1,
         max(CASE WHEN n = 1 THEN tot END) AS tot1,
         max(CASE WHEN n = 2 THEN clip END) AS clip2,
         max(CASE WHEN n = 2 THEN tot END) AS tot2
  FROM prec GROUP BY 1, 2
),
j AS (
  SELECT w.*, la.len AS len_ref, lb.len AS len_hyp
  FROM wide w
  JOIN lens la ON la.doc_id = w.doc_a
  JOIN lens lb ON lb.doc_id = w.doc_b
)
SELECT doc_a, doc_b,
       CAST(len_ref AS BIGINT) AS len_ref,
       CAST(len_hyp AS BIGINT) AS len_hyp,
       CAST(coalesce(clip1, 0) AS BIGINT) AS clip1,
       CAST(coalesce(tot1, 0) AS BIGINT) AS tot1,
       CAST(coalesce(clip2, 0) AS BIGINT) AS clip2,
       CAST(coalesce(tot2, 0) AS BIGINT) AS tot2,
       (floor((CASE WHEN coalesce(clip1, 0) = 0 OR coalesce(clip2, 0) = 0
                    THEN 0.0
                    ELSE (CASE WHEN len_hyp > len_ref THEN 1.0
                               ELSE exp(1.0 - CAST(len_ref AS DOUBLE) / len_hyp)
                          END)
                         * exp((ln(CAST(clip1 AS DOUBLE) / tot1)
                                + ln(CAST(clip2 AS DOUBLE) / tot2)) / 2.0)
               END) * 1000000.0 + 0.5) / 1000000.0) AS bleu2
FROM j
"""


QUERIES["q_pair_bleu"] = q_pair_bleu
ORACLE["q_pair_bleu"] = _oracle_pair_bleu()


FS_ITERS = 5
FS_INIT = (0.25, 0.8, 0.3)  # lambda0, m_j0, u_j0


def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (1969), EM-trained
    (Winkler 1988) — the Splink-style upgrade over q_entity_matches's
    fixed rules: blocked candidate pairs are reduced to their field-
    agreement PATTERNS, and EM estimates per-field match/unmatch
    probabilities m_j, u_j and the match prevalence lambda on the
    8-row pattern frame. Output per pattern: EM posterior P(match) and
    the FS log match weight ln(P(pattern|M)/P(pattern|U)).

    Scale: the pair generation is the standard linkage shape — a
    blocked self-join (block key = nation); everything after the ONE
    pattern groupBy runs on the 2^|fields|-row frame, so EM cost is
    independent of corpus size. Determinism: EM uses only +,-,*,/
    (correctly-rounded IEEE, bit-identical cross-engine) with every
    pattern-frame sum an ordered cumulative fold read at MAX (terms
    nonnegative); only the final reported weight takes a log. The
    oracle replays the identical 5-step EM as an unrolled CTE chain.
    """
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    ).withColumn(
        "bal_bucket",
        F.floor(F.col("bal_cents").cast("double") / F.lit(100000.0)),
    )
    a = c.select(*[F.col(x).alias("a_" + x) for x in c.columns])
    b = c.select(*[F.col(x).alias("b_" + x) for x in c.columns])
    pairs = a.join(
        b,
        (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
        & (F.col("a_c_custkey") < F.col("b_c_custkey")),
    ).select(
        F.when(F.col("a_c_mktsegment") == F.col("b_c_mktsegment"), 1)
        .otherwise(0)
        .alias("a1"),
        F.when(F.col("a_bal_bucket") == F.col("b_bal_bucket"), 1)
        .otherwise(0)
        .alias("a2"),
        F.when(
            F.abs(F.col("a_bal_cents") - F.col("b_bal_cents")) <= 10000, 1
        )
        .otherwise(0)
        .alias("a3"),
    )
    # cut the <=8-row pattern frame: every EM iteration references pat,
    # so the lazily-built 5-step chain would otherwise nest the
    # corpus-sized blocked self-join once per reference (measured: 130
    # Scan/Exchange nodes in the final plan, no ReusedExchange). The
    # cut runs the pair pass ONCE at build and the EM chain becomes
    # arithmetic over 8 materialized rows.
    pat = cut(
        pairs.groupBy("a1", "a2", "a3")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("pid", F.col("a1") * 4 + F.col("a2") * 2 + F.col("a3"))
    )
    consts = pat.agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("n") * F.col("a1")).alias("ag1"),
        F.sum(F.col("n") * F.col("a2")).alias("ag2"),
        F.sum(F.col("n") * F.col("a3")).alias("ag3"),
    )
    lam0, m0, u0 = FS_INIT
    params = spark.range(1).select(
        F.lit(lam0).alias("lam"),
        *[F.lit(m0).alias(f"m{j}") for j in (1, 2, 3)],
        *[F.lit(u0).alias(f"u{j}") for j in (1, 2, 3)],
    )

    def _prod(prefix: str):
        out = None
        for j in (1, 2, 3):
            t = F.when(F.col(f"a{j}") == 1, F.col(f"{prefix}{j}")).otherwise(
                F.lit(1.0) - F.col(f"{prefix}{j}")
            )
            out = t if out is None else out * t
        return out

    wc = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, 0)
    for _ in range(FS_ITERS):
        scored = pat.crossJoin(F.broadcast(params)).withColumn(
            "g",
            (F.col("lam") * _prod("m"))
            / (
                F.col("lam") * _prod("m")
                + (F.lit(1.0) - F.col("lam")) * _prod("u")
            ),
        )
        cum = scored.select(
            F.sum(F.col("n").cast("double") * F.col("g")).over(wc).alias("csg"),
            *[
                F.sum(
                    (F.col("n").cast("double") * F.col("g")) * F.col(f"a{j}")
                )
                .over(wc)
                .alias(f"csga{j}")
                for j in (1, 2, 3)
            ],
        )
        folds = cum.agg(
            F.max("csg").alias("sg"),
            *[F.max(f"csga{j}").alias(f"sga{j}") for j in (1, 2, 3)],
        )
        params = folds.crossJoin(F.broadcast(consts)).select(
            (F.col("sg") / F.col("nn").cast("double")).alias("lam"),
            *[
                (F.col(f"sga{j}") / F.col("sg")).alias(f"m{j}")
                for j in (1, 2, 3)
            ],
            *[
                (
                    (F.col(f"ag{j}").cast("double") - F.col(f"sga{j}"))
                    / (F.col("nn").cast("double") - F.col("sg"))
                ).alias(f"u{j}")
                for j in (1, 2, 3)
            ],
        )
    final = pat.crossJoin(F.broadcast(params))
    return final.select(
        F.col("pid").cast("long").alias("pid"),
        F.col("a1").cast("long").alias("a1"),
        F.col("a2").cast("long").alias("a2"),
        F.col("a3").cast("long").alias("a3"),
        F.col("n").cast("long").alias("n_pairs"),
        stable_round(
            (F.col("lam") * _prod("m"))
            / (
                F.col("lam") * _prod("m")
                + (F.lit(1.0) - F.col("lam")) * _prod("u")
            ),
            6,
        ).alias("posterior_match"),
        stable_round(F.log(_prod("m") / _prod("u")), 6).alias("match_weight"),
        stable_round(F.col("lam"), 6).alias("lambda_est"),
    )


def _oracle_fellegi_sunter() -> str:
    lam0, m0, u0 = FS_INIT

    def prod(prefix: str, src: str) -> str:
        terms = [
            f"(CASE WHEN a{j} = 1 THEN {src}.{prefix}{j} "
            f"ELSE 1.0 - {src}.{prefix}{j} END)"
            for j in (1, 2, 3)
        ]
        return " * ".join(terms)

    steps = []
    prev = "p0"
    for k in range(1, FS_ITERS + 1):
        steps.append(
            f"""g{k} AS (
  SELECT pat.pid, pat.n, pat.a1, pat.a2, pat.a3,
         ({prev}.lam * {prod('m', prev)})
         / ({prev}.lam * {prod('m', prev)}
            + (1.0 - {prev}.lam) * {prod('u', prev)}) AS g
  FROM pat CROSS JOIN {prev}
),
c{k} AS (
  SELECT
    sum(CAST(n AS DOUBLE) * g)
      OVER (ORDER BY pid ROWS UNBOUNDED PRECEDING) AS csg,
    sum((CAST(n AS DOUBLE) * g) * a1)
      OVER (ORDER BY pid ROWS UNBOUNDED PRECEDING) AS csga1,
    sum((CAST(n AS DOUBLE) * g) * a2)
      OVER (ORDER BY pid ROWS UNBOUNDED PRECEDING) AS csga2,
    sum((CAST(n AS DOUBLE) * g) * a3)
      OVER (ORDER BY pid ROWS UNBOUNDED PRECEDING) AS csga3
  FROM g{k}
),
f{k} AS (
  SELECT max(csg) AS sg, max(csga1) AS sga1, max(csga2) AS sga2,
         max(csga3) AS sga3
  FROM c{k}
),
p{k} AS (
  SELECT sg / CAST(consts.nn AS DOUBLE) AS lam,
         sga1 / sg AS m1, sga2 / sg AS m2, sga3 / sg AS m3,
         (CAST(consts.ag1 AS DOUBLE) - sga1)
           / (CAST(consts.nn AS DOUBLE) - sg) AS u1,
         (CAST(consts.ag2 AS DOUBLE) - sga2)
           / (CAST(consts.nn AS DOUBLE) - sg) AS u2,
         (CAST(consts.ag3 AS DOUBLE) - sga3)
           / (CAST(consts.nn AS DOUBLE) - sg) AS u3
  FROM f{k} CROSS JOIN consts
)"""
        )
        prev = f"p{k}"
    chain = ",\n".join(steps)
    last = prev
    return f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE)
               / 100000.0) AS bal_bucket
  FROM customer
),
pairs AS (
  SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS a1,
         CASE WHEN a.bal_bucket = b.bal_bucket THEN 1 ELSE 0 END AS a2,
         CASE WHEN abs(a.bal_cents - b.bal_cents) <= 10000
              THEN 1 ELSE 0 END AS a3
  FROM cust a JOIN cust b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
),
pat AS (
  SELECT a1, a2, a3, count(*) AS n, a1 * 4 + a2 * 2 + a3 AS pid
  FROM pairs GROUP BY 1, 2, 3
),
consts AS (
  SELECT sum(n) AS nn, sum(n * a1) AS ag1, sum(n * a2) AS ag2,
         sum(n * a3) AS ag3
  FROM pat
),
p0 AS (
  -- CAST: a bare 0.8 literal is DECIMAL in DuckDB; the EM must run in
  -- IEEE doubles to match Spark bit-for-bit.
  SELECT CAST({lam0} AS DOUBLE) AS lam,
         CAST({m0} AS DOUBLE) AS m1, CAST({m0} AS DOUBLE) AS m2,
         CAST({m0} AS DOUBLE) AS m3,
         CAST({u0} AS DOUBLE) AS u1, CAST({u0} AS DOUBLE) AS u2,
         CAST({u0} AS DOUBLE) AS u3
),
{chain}
SELECT CAST(pid AS BIGINT) AS pid,
       CAST(a1 AS BIGINT) AS a1, CAST(a2 AS BIGINT) AS a2,
       CAST(a3 AS BIGINT) AS a3,
       CAST(n AS BIGINT) AS n_pairs,
       (floor((({last}.lam * {prod('m', last)})
               / ({last}.lam * {prod('m', last)}
                  + (1.0 - {last}.lam) * {prod('u', last)}))
              * 1000000.0 + 0.5) / 1000000.0) AS posterior_match,
       (floor(ln(({prod('m', last)}) / ({prod('u', last)}))
              * 1000000.0 + 0.5) / 1000000.0) AS match_weight,
       (floor({last}.lam * 1000000.0 + 0.5) / 1000000.0) AS lambda_est
FROM pat CROSS JOIN {last}
"""


QUERIES["q_fellegi_sunter"] = q_fellegi_sunter
ORACLE["q_fellegi_sunter"] = _oracle_fellegi_sunter()
