"""Text-analysis queries over `documents`, DuckDB-oracled.

DuckDB mirrors: string_split / list_filter / regexp_extract_all /
list_sort — each expression is written to compute the identical value
as the Spark column expression in operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.queries._envproof import (
    dec_ratio,
    dec_ratio_sql,
    stable_round,
    stable_round_sql,
)
from sandbox_data_pipeline_spark.operators.sketch import kmv_estimate_sql
from sandbox_data_pipeline_spark.operators.local_solve import fits_local
from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.operators.text import (
    BPE_ISH_PATTERN,
    LANG_MARKERS,
    bpe_ish_token_count,
    fingerprints,
    language_id,
    quality_features,
    token_count,
)
from sandbox_data_pipeline_spark.session import cut


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count().alias("n_tokens"),
        bpe_ish_token_count().alias("n_bpe_ish"),
        F.length("text").alias("n_chars_actual"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(table(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(table(spark, sf_dir, "documents"))


# --- DuckDB oracles ---------------------------------------------------------

def _toks() -> str:
    return "string_split(text, ' ')"


def _ntok() -> str:
    return f"CASE WHEN text = '' THEN 0 ELSE len(list_filter({_toks()}, t -> t <> '')) END"


def _stop_hits(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_toks()}, t -> t IN ({inlist})))"


ORACLE_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST({_ntok()} AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INTEGER) AS n_bpe_ish,
       CAST(length(text) AS INTEGER) AS n_chars_actual
FROM documents
"""


def _oracle_quality() -> str:
    ntok = _ntok()
    nstop = _stop_hits(LANG_MARKERS["en"])
    return f"""
SELECT doc_id,
       CAST(n_chars AS INTEGER) AS n_chars,
       CAST(n_tok AS INTEGER) AS n_tokens,
       (floor(((n_chars - n_space) / n_tok) * 10000.0 + 0.5) / 10000.0) AS avg_token_len,
       (floor((n_punct / n_chars) * 10000.0 + 0.5) / 10000.0) AS punct_ratio,
       (floor((n_digit / n_chars) * 10000.0 + 0.5) / 10000.0) AS digit_ratio,
       (floor((n_stop / n_tok) * 10000.0 + 0.5) / 10000.0) AS stopword_ratio,
       (floor((n_distinct / n_tok) * 10000.0 + 0.5) / 10000.0) AS distinct_ratio,
       (floor((least(1.0, greatest(0.0,
             0.5 * (n_stop / n_tok) + 0.5 * (n_distinct / n_tok) - n_digit / n_chars))) * 10000.0 + 0.5) / 10000.0)
           AS quality_score
FROM (
  SELECT doc_id,
         length(text) AS n_chars,
         {ntok} AS n_tok,
         length(text) - length(replace(text, ' ', '')) AS n_space,
         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         {nstop} AS n_stop,
         len(list_distinct({_toks()})) AS n_distinct
  FROM documents
)
"""


def _oracle_lang() -> str:
    langs = sorted(LANG_MARKERS)
    hits = ",\n       ".join(
        f"CAST({_stop_hits(LANG_MARKERS[lang])} AS INTEGER) AS hits_{lang}" for lang in langs
    )
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "'und'"
    for lang in sorted(langs, reverse=True):
        case = f"CASE WHEN hits_{lang} = {best} THEN '{lang}' ELSE {case} END"
    case = f"CASE WHEN {best} = 0 THEN 'und' ELSE {case} END"
    return f"""
SELECT doc_id, lang_declared, {case} AS lang_guess,
       {', '.join(f'hits_{lang}' for lang in langs)}
FROM (
  SELECT doc_id, lang AS lang_declared,
       {hits}
  FROM documents
)
"""


ORACLE_FINGERPRINT = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_toks()})), ' ')) AS fingerprint,
       CAST(len(list_sort(list_distinct({_toks()}))) AS INTEGER) AS vocab_size
FROM documents
"""


QUERIES = {
    "q_token_count": q_token_count,
    "q_text_quality": q_text_quality,
    "q_lang_id": q_lang_id,
    "q_fingerprint": q_fingerprint,
}

ORACLE = {
    "q_token_count": ORACLE_TOKEN_COUNT,
    "q_text_quality": _oracle_quality(),
    "q_lang_id": _oracle_lang(),
    "q_fingerprint": ORACLE_FINGERPRINT,
}


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sandbox_data_pipeline_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(table(spark, sf_dir, "documents"), k=5)


_ORACLE_TFIDF = f"""
WITH toks AS (
  SELECT doc_id, unnest({_toks()}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         round(tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1), 6) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tf, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, tf, round(score, 4) AS score
FROM ranked WHERE rank <= 5
"""

QUERIES["q_tfidf_top_terms"] = q_tfidf_top_terms
ORACLE["q_tfidf_top_terms"] = _ORACLE_TFIDF


SPLIT_RATIOS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sandbox_data_pipeline_spark.operators.text import hash_split

    return hash_split(table(spark, sf_dir, "documents"), SPLIT_RATIOS)


def _oracle_hash_split() -> str:
    cum = 0.0
    cases = []
    for name, frac in sorted(SPLIT_RATIOS.items(), key=lambda kv: (-kv[1], kv[0])):
        cum += frac
        cases.append((int(round(cum * 10_000)), name))
    whens = " ".join(
        f"WHEN bucket < {t} THEN '{n}'" for t, n in cases[:-1]
    )
    return f"""
SELECT doc_id, bucket, CASE {whens} ELSE '{cases[-1][1]}' END AS split
FROM (
  SELECT doc_id,
         CAST('0x' || substr(md5('split' || text), 1, 15) AS BIGINT) % 10000 AS bucket
  FROM documents
)
"""


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length distribution: exact interpolated
    percentiles (one full-width aggregation; at 100 TB swap for
    approx_percentile — sketch-mergeable — and drop the oracle)."""
    d = table(spark, sf_dir, "documents").select(
        "lang", token_count().alias("n_tokens")
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("n_tokens", F.lit(0.99)), 4).alias("p99"),
        F.max("n_tokens").alias("max_tokens"),
    )


_ORACLE_QUANTILES = f"""
SELECT lang,
       count(*) AS n_docs,
       round(quantile_cont(n_tokens, 0.5), 4) AS p50,
       round(quantile_cont(n_tokens, 0.9), 4) AS p90,
       round(quantile_cont(n_tokens, 0.99), 4) AS p99,
       max(n_tokens) AS max_tokens
FROM (SELECT lang, {_ntok()} AS n_tokens FROM documents)
GROUP BY lang
"""

QUERIES["q_hash_split"] = q_hash_split
ORACLE["q_hash_split"] = _oracle_hash_split()
QUERIES["q_token_quantiles"] = q_token_quantiles
ORACLE["q_token_quantiles"] = _ORACLE_QUANTILES


NGRAM_N = 2
NGRAM_TOP = 20


def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency: top bigrams by total occurrences
    (instance counts, not per-doc distinct) and document frequency.
    Two partial-combined aggregations + a tiny top-k sort."""
    from sandbox_data_pipeline_spark.operators.dedup import word_shingles

    sh = word_shingles(
        table(spark, sf_dir, "documents"), n=NGRAM_N, distinct=False
    )
    return (
        sh.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("shingle"))
        .limit(NGRAM_TOP)
    )


_ORACLE_NGRAM = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= {NGRAM_N}
                THEN list_transform(range(1, len(t) - {NGRAM_N} + 2),
                                    i -> array_to_string(t[i:i + {NGRAM_N - 1}], ' '))
                ELSE [] END) AS shingle
  FROM toks
)
SELECT shingle, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
FROM grams
GROUP BY shingle
ORDER BY occurrences DESC, shingle
LIMIT {NGRAM_TOP}
"""

QUERIES["q_ngram_freq"] = q_ngram_freq
ORACLE["q_ngram_freq"] = _ORACLE_NGRAM


STRATA_FRAC = 0.2


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: a fixed fraction per language
    via the content-hash bucket (same mechanism as hash_split), so the
    sample is reproducible across runs/engines/partitionings and
    documents never flip in or out between runs. Pure map-side."""
    from sandbox_data_pipeline_spark.operators.dedup import portable_hash

    d = table(spark, sf_dir, "documents")
    bucket = F.pmod(portable_hash(F.col("text"), salt="sample"), F.lit(10_000))
    return (
        d.where(bucket < int(STRATA_FRAC * 10_000))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("sampled"))
    )


_ORACLE_STRATIFIED = f"""
SELECT lang, count(*) AS sampled
FROM documents
WHERE CAST('0x' || substr(md5('sample' || text), 1, 15) AS BIGINT) % 10000
      < {int(STRATA_FRAC * 10_000)}
GROUP BY lang
"""

QUERIES["q_stratified_sample"] = q_stratified_sample
ORACLE["q_stratified_sample"] = _ORACLE_STRATIFIED


PII_MOD = 3


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over deterministically seeded text: every third doc
    gets a synthetic email + phone appended (the corpus itself is
    PII-free), then the scrubber must find and redact exactly those."""
    from sandbox_data_pipeline_spark.operators.text import pii_scrub

    d = table(spark, sf_dir, "documents")
    seeded = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % PII_MOD == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-"),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(10_000)).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    return pii_scrub(seeded).select(
        "doc_id", "n_emails", "n_phones", F.md5("text").alias("scrubbed_md5")
    )


def _oracle_pii() -> str:
    from sandbox_data_pipeline_spark.operators.text import EMAIL_PATTERN, PHONE_PATTERN

    return f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PII_MOD} = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-123-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS n_emails,
       len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                          '{PHONE_PATTERN}', '<PHONE>', 'g')) AS scrubbed_md5
FROM seeded
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sandbox_data_pipeline_spark.operators.text import repetition_features

    return repetition_features(table(spark, sf_dir, "documents"))


_ORACLE_REPETITION = """
SELECT doc_id,
       CAST(len(l) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(l)) AS INTEGER) AS n_distinct,
       CASE WHEN len(l) > 0
            THEN (floor((1.0 - len(list_distinct(l)) / len(l)) * 10000.0 + 0.5) / 10000.0) END AS dup_ratio,
       CASE WHEN len(l) > 0
            THEN (floor((list_max(list_transform(list_distinct(l),
                       d -> len(list_filter(l, t -> t = d)))) / len(l)) * 10000.0 + 0.5) / 10000.0)
            END AS top_token_ratio
FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
      FROM documents)
"""

QUERIES["q_pii_scrub"] = q_pii_scrub
ORACLE["q_pii_scrub"] = _oracle_pii()
QUERIES["q_repetition"] = q_repetition
ORACLE["q_repetition"] = _ORACLE_REPETITION


CASCADE_MIN_CHARS = 64
CASCADE_MIN_TOKENS = 10
CASCADE_LANGS = ("de", "en", "es", "fr")


def q_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel attrition report: per source, how many documents
    survive each successive filter (length -> language -> token count ->
    exact-dedup keep-first). The dedup flag is the only non-scan-local
    piece — one window over the uniformly-distributed content hash; the
    report itself is O(|sources|). The standard first chart of any
    training-data pipeline."""
    from pyspark.sql import Window

    from sandbox_data_pipeline_spark.operators.text import token_count

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flags = d.select(
        "source",
        (F.col("n_chars") >= CASCADE_MIN_CHARS).alias("len_ok"),
        F.col("lang").isin(*CASCADE_LANGS).alias("lang_ok"),
        (token_count() >= CASCADE_MIN_TOKENS).alias("tok_ok"),
        (F.row_number().over(w) == 1).alias("uniq_ok"),
    )

    def survivors(*conds: str):
        keep = F.lit(True)
        for c in conds:
            keep = keep & F.col(c)
        return F.sum(F.when(keep, 1).otherwise(0))

    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        survivors("len_ok").alias("after_length"),
        survivors("len_ok", "lang_ok").alias("after_lang"),
        survivors("len_ok", "lang_ok", "tok_ok").alias("after_tokens"),
        survivors("len_ok", "lang_ok", "tok_ok", "uniq_ok").alias("after_dedup"),
    )


def _oracle_cascade() -> str:
    inlist = ", ".join(f"'{x}'" for x in CASCADE_LANGS)
    return f"""
WITH flags AS (
  SELECT source,
         n_chars >= {CASCADE_MIN_CHARS} AS len_ok,
         lang IN ({inlist}) AS lang_ok,
         {_ntok()} >= {CASCADE_MIN_TOKENS} AS tok_ok,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS uniq_ok
  FROM documents
)
SELECT source,
       count(*) AS n_total,
       sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS after_length,
       sum(CASE WHEN len_ok AND lang_ok THEN 1 ELSE 0 END) AS after_lang,
       sum(CASE WHEN len_ok AND lang_ok AND tok_ok THEN 1 ELSE 0 END) AS after_tokens,
       sum(CASE WHEN len_ok AND lang_ok AND tok_ok AND uniq_ok THEN 1 ELSE 0 END)
           AS after_dedup
FROM flags
GROUP BY source
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: per-language sampling weight that would move
    the corpus to a uniform language mix (weight = target_frac /
    actual_frac). Fractions are left UNROUNDED doubles: both engines
    divide the same exact integers, so the IEEE results are
    bit-identical — rounding would only reintroduce half-way drift.
    Two tiny aggregates broadcast against the per-lang counts."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = d.agg(F.count(F.lit(1)).alias("_total"))
    n_langs = counts.agg(F.count(F.lit(1)).alias("_n_langs"))
    return (
        counts.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(n_langs))
        .select(
            "lang",
            "n_docs",
            (F.col("n_docs") / F.col("_total")).alias("actual_frac"),
            (F.col("_total") / (F.col("_n_langs") * F.col("n_docs"))).alias("weight"),
        )
    )


_ORACLE_MIXTURE = """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT count(*) AS total FROM documents),
k AS (SELECT count(*) AS n_langs FROM c)
SELECT lang, n_docs,
       n_docs / total AS actual_frac,
       total / (n_langs * n_docs) AS weight
FROM c, t, k
"""

QUERIES["q_filter_cascade"] = q_filter_cascade
ORACLE["q_filter_cascade"] = _oracle_cascade()
QUERIES["q_mixture_weights"] = q_mixture_weights
ORACLE["q_mixture_weights"] = _ORACLE_MIXTURE


INDEX_TOP_TOKENS = 25
PACK_BUDGET = 256


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: sorted posting list (doc_ids) per token,
    restricted to the highest-document-frequency tokens to keep the
    compared result bounded. explode -> distinct (doc,token) ->
    collect_list is the canonical distributed index build; posting
    lists are sort_array'd so the result is partitioning-independent.
    At 100 TB the only guard needed is the df cap already applied here
    (hot tokens are exactly the ones you drop as stopwords)."""
    d = table(spark, sf_dir, "documents")
    # cut: consumed twice (top-k + join)
    pairs = cut(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    # select WHICH tokens first (tiny top-k over counts), and only then
    # build posting lists for those — collecting a posting list per
    # token before limiting would materialize stop-token lists that
    # grow with the corpus
    top = (
        pairs.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(INDEX_TOP_TOKENS)
    )
    return (
        pairs.join(F.broadcast(top), "token")
        .groupBy("token")
        .agg(
            F.min("doc_freq").alias("doc_freq"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .select("token", "doc_freq", "postings")
    )


_ORACLE_INVERTED = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
postings AS (
  SELECT token, list_sort(list(doc_id)) AS postings, count(*) AS doc_freq
  FROM pairs WHERE token <> ''
  GROUP BY token
)
SELECT token, doc_freq, postings
FROM postings
ORDER BY doc_freq DESC, token
LIMIT {INDEX_TOP_TOKENS}
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: fill fixed token-budget
    context windows by running a cumulative token count over a
    deterministic doc order and cutting a new bin each time the budget
    boundary is crossed (the standard approximate first-fit used at
    corpus scale — exact bin packing is inherently sequential). The
    window runs PER LANGUAGE partition, so at 100 TB the cumsum
    parallelizes across partitions; reported per bin: docs and tokens."""
    from sandbox_data_pipeline_spark.operators.text import token_count

    d = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", token_count().alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    binned = d.select(
        "lang",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(PACK_BUDGET)
        ).alias("bin_id"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


_ORACLE_PACK = f"""
WITH d AS (SELECT lang, doc_id, {_ntok()} AS n_tokens FROM documents),
binned AS (
  SELECT lang, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
  FROM d
)
SELECT lang, bin_id, count(*) AS n_docs, sum(n_tokens) AS bin_tokens
FROM binned
GROUP BY lang, bin_id
"""

QUERIES["q_inverted_index"] = q_inverted_index
ORACLE["q_inverted_index"] = _ORACLE_INVERTED
QUERIES["q_pack_sequences"] = q_pack_sequences
ORACLE["q_pack_sequences"] = _ORACLE_PACK


def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packing manifest: the actual training example per
    bin — documents concatenated in deterministic doc_id order with a
    blank-line separator (compared by md5; the compared frame stays
    narrow while proving byte-exact assembly). collect_list carries the
    (doc_id, text) structs; array_sort makes the order
    partitioning-independent."""
    from sandbox_data_pipeline_spark.operators.text import token_count

    d = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text", token_count().alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    binned = d.select(
        "lang",
        "doc_id",
        "text",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(PACK_BUDGET)
        ).alias("bin_id"),
    )
    packed = F.concat_ws(
        "\n\n",
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda e: e["text"],
        ),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.md5(packed).alias("pack_md5"),
    )


_ORACLE_PACK_MANIFEST = f"""
WITH d AS (SELECT lang, doc_id, text, {_ntok()} AS n_tokens FROM documents),
binned AS (
  SELECT lang, doc_id, text, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
  FROM d
)
SELECT lang, bin_id, count(*) AS n_docs, sum(n_tokens) AS bin_tokens,
       md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS pack_md5
FROM binned
GROUP BY lang, bin_id
"""

QUERIES["q_pack_manifest"] = q_pack_manifest
ORACLE["q_pack_manifest"] = _ORACLE_PACK_MANIFEST


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of declared vs guessed
    language plus per-cell share of the declared language's documents.
    The standard QA readout for any classifier stage in the curation
    pipeline; two cheap aggregates over the language_id projection."""
    d = language_id(table(spark, sf_dir, "documents")).select(
        "lang_declared", "lang_guess"
    )
    w = Window.partitionBy("lang_declared")
    return (
        d.groupBy("lang_declared", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            # raw IEEE division of exact ints — identical across engines,
            # no round() (half-way rounding differs cross-engine)
            "share_of_declared",
            F.col("n_docs") / F.sum("n_docs").over(w),
        )
    )


def _oracle_confusion() -> str:
    return f"""
WITH guessed AS ({_oracle_lang()}),
cells AS (
  SELECT lang_declared, lang_guess, count(*) AS n_docs
  FROM guessed GROUP BY 1, 2
)
SELECT lang_declared, lang_guess, n_docs,
       n_docs / sum(n_docs) OVER (PARTITION BY lang_declared) AS share_of_declared
FROM cells
"""

QUERIES["q_lang_confusion"] = q_lang_confusion
ORACLE["q_lang_confusion"] = _oracle_confusion()


WINNOW_K = 4
WINNOW_W = 5


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing / MOSS): each
    doc's selected fingerprint set — the position-robust ~1/w sample of
    its k-gram hashes that any sufficiently long copy must share."""
    from sandbox_data_pipeline_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(
        table(spark, sf_dir, "documents"), k=WINNOW_K, w=WINNOW_W
    )


def _oracle_winnow() -> str:
    k, w = WINNOW_K, WINNOW_W
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {k} + 2), i ->
           CAST('0x' || substr(md5(array_to_string(toks[i:i + {k - 1}], ' ')), 1, 15) AS BIGINT)
         ) AS h
  FROM t WHERE len(toks) >= {k + w - 1}
),
wnd AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(h) - {w} + 2), j ->
           list_min(h[j:j + {w - 1}]))) AS fps
  FROM g
)
SELECT doc_id, unnest(fps) AS fp FROM wnd
"""


QUERIES["q_winnow_fingerprints"] = q_winnow_fingerprints
ORACLE["q_winnow_fingerprints"] = _oracle_winnow()


def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report (the C4/RefinedWeb-style domain
    table): volume, exact-duplicate rate, and size stats per source.
    One hash-groupBy feeding one source-groupBy — both partial-combine;
    at 100 TB the source table is domain-cardinality, trivially small."""
    d = table(spark, sf_dir, "documents")
    per_text = d.groupBy("source", F.md5("text").alias("_fp")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n_chars").alias("chars")
    )
    return per_text.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique_texts"),
        F.sum(F.col("cnt") - 1).alias("n_dup_docs"),
        F.sum("chars").alias("total_chars"),
    )


_ORACLE_SOURCE_STATS = """
WITH per_text AS (
  SELECT source, md5(text) AS fp, count(*) AS cnt, sum(n_chars) AS chars
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       count(*) AS n_unique_texts,
       CAST(sum(cnt - 1) AS BIGINT) AS n_dup_docs,
       CAST(sum(chars) AS BIGINT) AS total_chars
FROM per_text GROUP BY source
"""

QUERIES["q_source_stats"] = q_source_stats
ORACLE["q_source_stats"] = _ORACLE_SOURCE_STATS


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher doc-level quality rules: measurements + per-rule flags +
    the conjunctive gate."""
    from sandbox_data_pipeline_spark.operators.text import gopher_rules

    return gopher_rules(table(spark, sf_dir, "documents"))


def _oracle_gopher() -> str:
    stop = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    return rf"""
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       (floor((n_nonspace / n_words) * 10000.0 + 0.5) / 10000.0) AS mean_word_len,
       (floor((n_sym / n_words) * 10000.0 + 0.5) / 10000.0) AS symbol_ratio,
       (floor((n_alpha / n_words) * 10000.0 + 0.5) / 10000.0) AS alpha_word_ratio,
       CAST(stop_hits AS INTEGER) AS stop_hits,
       n_words >= 50 AND n_words <= 100000 AS ok_word_count,
       n_nonspace / n_words >= 3.0 AND n_nonspace / n_words <= 10.0 AS ok_mean_word_len,
       n_sym / n_words <= 0.1 AS ok_symbol_ratio,
       n_alpha / n_words >= 0.8 AS ok_alpha_words,
       stop_hits >= 2 AS ok_stopwords,
       (n_words >= 50 AND n_words <= 100000
        AND n_nonspace / n_words >= 3.0 AND n_nonspace / n_words <= 10.0
        AND n_sym / n_words <= 0.1
        AND n_alpha / n_words >= 0.8
        AND stop_hits >= 2) AS passes_gopher
FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
         length(replace(text, ' ', '')) AS n_nonspace,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
         len(list_filter(string_split(text, ' '),
             t -> t <> '' AND regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(string_split(text, ' '), t -> t IN ({stop}))) AS stop_hits
  FROM documents
)
"""


QUERIES["q_gopher_rules"] = q_gopher_rules
ORACLE["q_gopher_rules"] = _oracle_gopher()


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized mixture rebalance: downsample every language to the
    smallest language's size (the uniform mix q_mixture_weights prices),
    selecting per-language by content-hash order — deterministic,
    leak-free (no RNG), and rank-stable across engines because the hash
    is the portable md5-prefix used everywhere else.

    Plan: one window rank per language (single shuffle on lang — skew
    bounded by the largest language, the same key the corpus is
    naturally organized by) against a broadcast scalar min-count."""
    d = table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    lang_w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    ranked = d.select("doc_id", "lang").withColumn("rnk", F.row_number().over(lang_w))
    min_count = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("_min_n"))
    )
    return (
        ranked.crossJoin(F.broadcast(min_count))
        .where(F.col("rnk") <= F.col("_min_n"))
        .select("doc_id", "lang")
    )


_ORACLE_MIXTURE_SAMPLE = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT), doc_id
         ) AS rnk
  FROM documents
),
m AS (SELECT min(n) AS min_n FROM (SELECT count(*) AS n FROM documents GROUP BY lang))
SELECT doc_id, lang FROM ranked, m WHERE rnk <= min_n
"""

QUERIES["q_mixture_sample"] = q_mixture_sample
ORACLE["q_mixture_sample"] = _ORACLE_MIXTURE_SAMPLE


SOURCE_QUOTA = 15


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap: keep ≤15 docs per source in deterministic
    content-hash order (the anti-domain-domination curation step)."""
    from sandbox_data_pipeline_spark.operators.text import source_quota

    return source_quota(table(spark, sf_dir, "documents"), quota=SOURCE_QUOTA)


_ORACLE_SOURCE_QUOTA = f"""
SELECT doc_id, source, CAST(quota_rank AS INTEGER) AS quota_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5('quota' || text), 1, 15) AS BIGINT), doc_id
         ) AS quota_rank
  FROM documents
) WHERE quota_rank <= {SOURCE_QUOTA}
"""

QUERIES["q_source_quota"] = q_source_quota
ORACLE["q_source_quota"] = _ORACLE_SOURCE_QUOTA


def _synth_url() -> F.Column:
    """Deterministic URL per document (the corpus carries no URL
    column): scheme/www/port/trailing-slash/tracking-param variants
    keyed off doc_id residues so canonicalization has real work to do,
    and distinct docs can share a canonical form (crawl re-fetches)."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(d % 2 == 0, F.lit(":443")).when(d % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"),
        (d % 7).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=rss&page="),
        (d % 5).cast("string"),
        F.lit("&b=2&a=1"),
        F.when(d % 6 == 0, F.lit("&gclid=x")).otherwise(F.lit("")),
    )


_SYNTH_URL_SQL = """
(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
(CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) || source || '.Example.COM' ||
(CASE WHEN doc_id % 2 = 0 THEN ':443' WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
'/p/' || CAST(doc_id % 7 AS VARCHAR) ||
(CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
'?utm_source=rss&page=' || CAST(doc_id % 5 AS VARCHAR) || '&b=2&a=1' ||
(CASE WHEN doc_id % 6 = 0 THEN '&gclid=x' ELSE '' END)
"""

_CANON_SQL = """
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS authority,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM urls
),
canon AS (
  SELECT doc_id, scheme,
         regexp_replace(regexp_replace(authority, ':[0-9]+$', ''), '^www\\.', '') AS host,
         regexp_extract(authority, ':([0-9]+)$', 1) AS port,
         CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(path, '/+$', '') END AS canon_path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> p <> '' AND substr(p, 1, 4) <> 'utm_'
                AND substr(p, 1, 7) <> 'fbclid=' AND substr(p, 1, 6) <> 'gclid=')), '&') AS cq
  FROM parts
),
out AS (
  SELECT doc_id, host,
         scheme || '://' || host ||
         (CASE WHEN port <> '' AND NOT ((scheme = 'https' AND port = '443')
                                        OR (scheme = 'http' AND port = '80'))
               THEN ':' || port ELSE '' END) ||
         canon_path ||
         (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS canonical_url
  FROM canon
)
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL canonicalization over synthesized per-doc URLs:
    case, www, default ports, trailing slashes, tracking params, and
    query-param order all normalize away — regexp-only, map-side."""
    from sandbox_data_pipeline_spark.operators.text import canonicalize_urls

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", _synth_url().alias("url")
    )
    return canonicalize_urls(d).select("doc_id", "host", "canonical_url")


_ORACLE_URL_CANONICAL = f"""
WITH urls AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
{_CANON_SQL}
SELECT doc_id, host, canonical_url FROM out
"""

QUERIES["q_url_canonical"] = q_url_canonical
ORACLE["q_url_canonical"] = _ORACLE_URL_CANONICAL


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup groups: re-fetches of the same canonical URL
    (different scheme case / www / port spellings / tracking params)
    collapse to one group; keep-first by doc id. The crawl-frontier
    dedup that runs BEFORE any content is fetched at 100 TB."""
    canon = q_url_canonical(spark, sf_dir)
    return (
        canon.groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("dup_cnt"), F.min("doc_id").alias("keep_id"))
        .where(F.col("dup_cnt") > 1)
    )


_ORACLE_URL_DEDUP = f"""
WITH urls AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
{_CANON_SQL}
SELECT canonical_url, count(*) AS dup_cnt, min(doc_id) AS keep_id
FROM out GROUP BY 1 HAVING count(*) > 1
"""

QUERIES["q_url_dedup"] = q_url_dedup
ORACLE["q_url_dedup"] = _ORACLE_URL_DEDUP


SWEEP_THRESHOLDS = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7)


def q_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve for the quality filter: docs and whitespace
    tokens surviving each candidate threshold — the sweep a curator
    reads before pinning the cutoff. One scan: thresholds ride along as
    an exploded literal array; per-threshold aggregation partial-
    combines, so the shuffle is |thresholds| rows per task."""
    from sandbox_data_pipeline_spark.operators.text import quality_score

    d = table(spark, sf_dir, "documents").select(
        quality_score().alias("score"), token_count().alias("n_tokens")
    )
    t = F.explode(F.array(*[F.lit(x) for x in SWEEP_THRESHOLDS])).alias("threshold")
    return (
        d.select("score", "n_tokens", t)
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("score") >= F.col("threshold"), 1).otherwise(0)).alias(
                "docs_kept"
            ),
            F.sum(
                F.when(F.col("score") >= F.col("threshold"), F.col("n_tokens")).otherwise(0)
            ).alias("tokens_kept"),
        )
    )


def _oracle_quality_sweep() -> str:
    ts = ", ".join(str(x) for x in SWEEP_THRESHOLDS)
    nstop = _stop_hits(LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT (floor((least(1.0, greatest(0.0,
           0.5 * (n_stop / n_tok) + 0.5 * (n_distinct / n_tok) - n_digit / n_chars))) * 10000.0 + 0.5) / 10000.0)
           AS score,
         n_tok AS n_tokens
  FROM (
    SELECT length(text) AS n_chars,
           {_ntok()} AS n_tok,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           {nstop} AS n_stop,
           len(list_distinct({_toks()})) AS n_distinct
    FROM documents
  )
),
thresholds AS (SELECT CAST(unnest([{ts}]) AS DOUBLE) AS threshold)
SELECT threshold,
       CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       CAST(sum(CASE WHEN score >= threshold THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM scored CROSS JOIN thresholds
GROUP BY threshold
"""


QUERIES["q_quality_sweep"] = q_quality_sweep
ORACLE["q_quality_sweep"] = _oracle_quality_sweep()


TOKEN_BUDGET = 2000  # per language


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: per language, admit docs in quality-score
    order (doc id as tiebreak) until the running token total hits the
    budget — the greedy knapsack a mixture builder runs when each
    language gets a fixed token allowance. One window pass per
    language; the cumulative sum is exact integer arithmetic, so the
    admission frontier is engine-reproducible."""
    from sandbox_data_pipeline_spark.operators.text import quality_score

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score().alias("score"), token_count().alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "lang", "score", F.col("cum_tokens").cast("long").alias("cum_tokens"))
    )


def _oracle_budget_select() -> str:
    nstop = _stop_hits(LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         (floor((least(1.0, greatest(0.0,
           0.5 * (n_stop / n_tok) + 0.5 * (n_distinct / n_tok) - n_digit / n_chars))) * 10000.0 + 0.5) / 10000.0)
           AS score,
         n_tok AS n_tokens
  FROM (
    SELECT doc_id, lang,
           length(text) AS n_chars,
           {_ntok()} AS n_tok,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           {nstop} AS n_stop,
           len(list_distinct({_toks()})) AS n_distinct
    FROM documents
  )
),
ranked AS (
  SELECT doc_id, lang, score,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM scored
)
SELECT doc_id, lang, score, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
"""


QUERIES["q_budget_select"] = q_budget_select
ORACLE["q_budget_select"] = _oracle_budget_select()


WSAMPLE_K = 10


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample: k docs per lang, selection
    probability proportional to quality score (A-ES keys on a portable
    content hash — deterministic across engines and partitionings)."""
    from sandbox_data_pipeline_spark.operators.text import quality_score, weighted_sample

    d = table(spark, sf_dir, "documents")
    return weighted_sample(
        d, weight=quality_score() + F.lit(0.05), k=WSAMPLE_K, group_col="lang"
    )


def _oracle_weighted_sample() -> str:
    nstop = _stop_hits(LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         (floor((least(1.0, greatest(0.0,
           0.5 * (n_stop / n_tok) + 0.5 * (n_distinct / n_tok) - n_digit / n_chars))) * 10000.0 + 0.5) / 10000.0)
           + 0.05 AS w
  FROM (
    SELECT doc_id, lang, text,
           length(text) AS n_chars,
           {_ntok()} AS n_tok,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           {nstop} AS n_stop,
           len(list_distinct({_toks()})) AS n_distinct
    FROM documents
  )
),
keyed AS (
  SELECT doc_id, lang,
         round(pow((CAST('0x' || substr(md5('wsample' || text), 1, 15) AS BIGINT) % 1048576 + 0.5)
                   / 1048576.0, 1.0 / w), 6) AS es_key
  FROM scored
),
ranked AS (
  SELECT doc_id, lang, es_key,
         row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS sample_rank
  FROM keyed
)
SELECT doc_id, lang, es_key, CAST(sample_rank AS INTEGER) AS sample_rank
FROM ranked WHERE sample_rank <= {WSAMPLE_K}
"""


QUERIES["q_weighted_sample"] = q_weighted_sample
ORACLE["q_weighted_sample"] = _oracle_weighted_sample()


QUALITY_CUT = 0.3


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel as ONE declared plan — quality
    gate → exact-dedup keep-first → benchmark decontamination → per-
    source quota → per-language token-budget admission — composed from
    the same operators the individual queries declare, so Catalyst
    optimizes across stage boundaries (one scan feeds the whole funnel;
    filters push into it). This is the 'complete engine' statement: the
    pipeline a 100 TB training-data run actually ships, with every
    stage's shuffle already audited in isolation."""
    from sandbox_data_pipeline_spark.operators.dedup import (
        decontaminate,
        portable_hash,
    )
    from sandbox_data_pipeline_spark.operators.text import quality_score
    from sandbox_data_pipeline_spark.queries.dedup import DECONTAM_N, EVAL_MOD

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", "source", "text",
        quality_score().alias("score"),
        token_count().alias("n_tokens"),
    )
    s1 = scored.where(F.col("score") >= QUALITY_CUT)
    w_fp = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s2 = s1.withColumn("_rn", F.row_number().over(w_fp)).where(F.col("_rn") == 1).drop("_rn")
    ev = d.where(F.col("doc_id") % EVAL_MOD == 0)
    corpus = s2.where(F.col("doc_id") % EVAL_MOD != 0)
    contam = decontaminate(corpus, ev, n=DECONTAM_N).select("doc_id")
    s3 = corpus.join(contam, "doc_id", "left_anti")
    w_q = Window.partitionBy("source").orderBy(
        portable_hash(F.col("text"), salt="quota"), F.col("doc_id")
    )
    s4 = s3.withColumn("_qr", F.row_number().over(w_q)).where(
        F.col("_qr") <= SOURCE_QUOTA
    ).drop("_qr")
    w_b = (
        Window.partitionBy("lang")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s5 = s4.withColumn("cum_tokens", F.sum("n_tokens").over(w_b)).where(
        F.col("cum_tokens") <= TOKEN_BUDGET
    )
    return s5.select(
        "doc_id", "lang", "source", "score",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def _oracle_curation_pipeline() -> str:
    from sandbox_data_pipeline_spark.queries.dedup import DECONTAM_N, EVAL_MOD

    nstop = _stop_hits(LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT doc_id, lang, source, text,
         (floor((least(1.0, greatest(0.0,
           0.5 * (n_stop / n_tok) + 0.5 * (n_distinct / n_tok) - n_digit / n_chars))) * 10000.0 + 0.5) / 10000.0)
           AS score,
         n_tok AS n_tokens
  FROM (
    SELECT doc_id, lang, source, text,
           length(text) AS n_chars,
           {_ntok()} AS n_tok,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           {nstop} AS n_stop,
           len(list_distinct({_toks()})) AS n_distinct
    FROM documents
  )
),
s1 AS (SELECT * FROM scored WHERE score >= {QUALITY_CUT}),
s2 AS (
  SELECT * FROM s1
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(t) >= {DECONTAM_N}
                THEN list_transform(range(1, len(t) - {DECONTAM_N} + 2),
                                    i -> array_to_string(t[i:i + {DECONTAM_N - 1}], ' '))
                ELSE [] END)) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
contam AS (
  SELECT DISTINCT g.doc_id FROM grams g
  WHERE g.doc_id % {EVAL_MOD} <> 0
    AND g.shingle IN (SELECT shingle FROM grams WHERE doc_id % {EVAL_MOD} = 0)
),
s3 AS (
  SELECT * FROM s2
  WHERE doc_id % {EVAL_MOD} <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
),
s4 AS (
  SELECT * FROM s3
  QUALIFY row_number() OVER (
    PARTITION BY source
    ORDER BY CAST('0x' || substr(md5('quota' || text), 1, 15) AS BIGINT), doc_id
  ) <= {SOURCE_QUOTA}
),
s5 AS (
  SELECT doc_id, lang, source, score,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM s4
)
SELECT doc_id, lang, source, score, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM s5 WHERE cum_tokens <= {TOKEN_BUDGET}
"""


QUERIES["q_curation_pipeline"] = q_curation_pipeline
ORACLE["q_curation_pipeline"] = _oracle_curation_pipeline()


MIX_ALPHA = 0.7
MIX_SAMPLE_N = 200


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing: sampling fraction ∝
    p_lang^α (α<1 upsamples the tail without flattening it — the
    standard multilingual mixing rule), with per-language target doc
    counts for a fixed sample budget. All per-language scalars ride
    broadcast 1-row aggregates over the |langs|-row count frame; the
    corpus is scanned once for the counts."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = d.agg(F.count(F.lit(1)).alias("_total"))
    pw = counts.crossJoin(F.broadcast(total)).withColumn(
        "_w", F.round(F.pow(F.col("n_docs") / F.col("_total"), F.lit(MIX_ALPHA)), 6)
    )
    wsum = pw.agg(F.sum("_w").alias("_ws"))
    return (
        pw.crossJoin(F.broadcast(wsum))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("_w") / F.col("_ws"), 6).alias("sampled_frac"),
            F.floor(F.round(F.col("_w") / F.col("_ws"), 6) * MIX_SAMPLE_N)
            .cast("long")
            .alias("target_docs"),
        )
    )


_ORACLE_TEMPERATURE = f"""
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT count(*) AS total FROM documents),
pw AS (SELECT lang, n_docs, round(pow(n_docs / total, {MIX_ALPHA}), 6) AS w FROM c, t),
ws AS (SELECT sum(w) AS ws FROM pw)
SELECT lang, n_docs,
       round(w / ws, 6) AS sampled_frac,
       CAST(floor(round(w / ws, 6) * {MIX_SAMPLE_N}) AS BIGINT) AS target_docs
FROM pw, ws
"""

QUERIES["q_temperature_mixture"] = q_temperature_mixture
ORACLE["q_temperature_mixture"] = _ORACLE_TEMPERATURE


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card, one row: the stats block of a dataset's
    documentation page — size, source/language breadth, exact-dup
    rate, quality mean, token-count percentiles. Two aggregation
    passes (corpus stats + distinct-fingerprint count) joined as
    broadcast scalars; at 100 TB both are map-side-combined
    single-row aggregates."""
    from sandbox_data_pipeline_spark.operators.text import quality_score

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text",
        quality_score().alias("score"),
        token_count().alias("n_tokens"),
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        stable_round(F.avg("score"), 4).alias("mean_quality"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.95)), 4).alias("p95_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    fps = d.agg(F.countDistinct(F.md5("text")).alias("_n_fp"))
    return stats.crossJoin(F.broadcast(fps)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        stable_round(F.lit(1.0) - F.col("_n_fp") / F.col("n_docs"), 6).alias("dup_rate"),
        "mean_quality",
        "p50_tokens",
        "p95_tokens",
        "total_tokens",
    )


def _oracle_dataset_card() -> str:
    nstop = _stop_hits(LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT doc_id, lang, source, text,
         (floor((least(1.0, greatest(0.0,
           0.5 * (n_stop / n_tok) + 0.5 * (n_distinct / n_tok) - n_digit / n_chars))) * 10000.0 + 0.5) / 10000.0)
           AS score,
         n_tok AS n_tokens
  FROM (
    SELECT doc_id, lang, source, text,
           length(text) AS n_chars,
           {_ntok()} AS n_tok,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           {nstop} AS n_stop,
           len(list_distinct({_toks()})) AS n_distinct
    FROM documents
  )
)
SELECT count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT lang) AS n_langs,
       (floor((1.0 - count(DISTINCT md5(text)) / count(*)) * 1000000.0 + 0.5) / 1000000.0) AS dup_rate,
       (floor((avg(score)) * 10000.0 + 0.5) / 10000.0) AS mean_quality,
       round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
       round(quantile_cont(n_tokens, 0.95), 4) AS p95_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM scored
"""


QUERIES["q_dataset_card"] = q_dataset_card
ORACLE["q_dataset_card"] = _oracle_dataset_card()


BLOCKED_SOURCES = ("src3", "src7", "src13")


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier blocklist filter: canonical hosts matched
    against a blocked-domain list (broadcast — blocklists are MBs vs
    a TB frontier), reporting kept/dropped per source. The anti-join
    every crawl pipeline runs before fetching anything."""
    canon = q_url_canonical(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    blocked_hosts = [f"{s}.example.com" for s in BLOCKED_SOURCES]
    d = canon.join(docs, "doc_id").withColumn(
        "blocked", F.col("host").isin(*blocked_hosts)
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.when(F.col("blocked"), 1).otherwise(0)).alias("n_blocked"),
    )


def _oracle_domain_blocklist() -> str:
    hosts = ", ".join(f"'{s}.example.com'" for s in BLOCKED_SOURCES)
    return f"""
WITH urls AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
{_CANON_SQL}
SELECT d.source,
       count(*) AS n_urls,
       CAST(sum(CASE WHEN o.host IN ({hosts}) THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM out o JOIN documents d USING (doc_id)
GROUP BY d.source
"""


QUERIES["q_domain_blocklist"] = q_domain_blocklist
ORACLE["q_domain_blocklist"] = _oracle_domain_blocklist()


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QA: per-language fill-rate summary of the sequence
    packer — bins produced, mean fill fraction against the token
    budget, and the count of under-filled bins (<80%). The number a
    training job reads to know how much context-window budget the
    packer is wasting. Aggregates the |bins|-row frame of
    q_pack_sequences."""
    bins = q_pack_sequences(spark, sf_dir)
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        stable_round(F.avg(F.col("bin_tokens") / F.lit(PACK_BUDGET)), 4).alias("avg_fill"),
        F.sum(
            F.when(F.col("bin_tokens") < 0.8 * PACK_BUDGET, 1).otherwise(0)
        ).alias("underfilled_bins"),
    )


def _oracle_pack_efficiency() -> str:
    return f"""
WITH d AS (
  SELECT lang, doc_id, {_ntok()} AS n_tokens FROM documents
),
binned AS (
  SELECT lang, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n_tokens) / {PACK_BUDGET}) AS BIGINT)
           AS bin_id
  FROM d
),
bins AS (
  SELECT lang, bin_id, count(*) AS n_docs, sum(n_tokens) AS bin_tokens
  FROM binned GROUP BY 1, 2
)
SELECT lang, count(*) AS n_bins,
       (floor((avg(bin_tokens / {PACK_BUDGET})) * 10000.0 + 0.5) / 10000.0) AS avg_fill,
       CAST(sum(CASE WHEN bin_tokens < 0.8 * {PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS underfilled_bins
FROM bins GROUP BY lang
"""


QUERIES["q_pack_efficiency"] = q_pack_efficiency
ORACLE["q_pack_efficiency"] = _oracle_pack_efficiency()


def q_unigram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram cross-entropy per document (bits/token)
    — the oracle-checkable n=1 member of the CCNet LM-filter family
    (operators/text.py: unigram_cross_entropy; perplexity_model is the
    KenLM-shaped hook for the real n-gram model)."""
    from sandbox_data_pipeline_spark.operators.text import unigram_cross_entropy

    return unigram_cross_entropy(table(spark, sf_dir, "documents"))


def _oracle_unigram_bits() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_toks()}) AS tok FROM documents
),
t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
vocab AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM vocab)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(-log2(cnt / total)), 4) AS bits_per_token
FROM t2 JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


QUERIES["q_unigram_bits"] = q_unigram_bits
ORACLE["q_unigram_bits"] = _oracle_unigram_bits()



def q_bigram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram conditional cross-entropy (bits per
    adjacent token pair) — the n=2 LM filter; see
    operators/text.py: bigram_cross_entropy."""
    from sandbox_data_pipeline_spark.operators.text import bigram_cross_entropy

    return bigram_cross_entropy(table(spark, sf_dir, "documents"))


def _oracle_bigram_bits() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pairs AS (
  -- range(1, 100000) is an oracle-side enumeration bound for token
  -- positions, NOT an operator cap (the Spark side zips full arrays);
  -- it must exceed max token count at the grading scale factors.
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks CROSS JOIN range(1, 100000) r(i)
  WHERE i < len(t) AND t[i] <> '' AND t[i + 1] <> ''
),
big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(avg(-log2(c2 / c1)), 4) AS bits_per_bigram
FROM pairs JOIN big USING (w1, w2) JOIN ctx USING (w1)
GROUP BY doc_id
"""


QUERIES["q_bigram_bits"] = q_bigram_bits
ORACLE["q_bigram_bits"] = _oracle_bigram_bits()


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunk manifests (RAG prep); see
    operators/text.py: chunk_documents."""
    from sandbox_data_pipeline_spark.operators.text import chunk_documents

    return chunk_documents(table(spark, sf_dir, "documents"), chunk_tokens=32, stride=24)


def _oracle_doc_chunks() -> str:
    return """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
),
s AS (
  -- range bound is an oracle-side enumeration cap on token positions
  -- (must exceed max tokens/doc at grading SFs), not an operator cap
  SELECT doc_id, t, i AS tok_start
  FROM toks CROSS JOIN range(0, 100000, 24) r(i)
  WHERE i < len(t)
)
SELECT doc_id,
       tok_start // 24 AS chunk_idx,
       tok_start,
       least(tok_start + 32, len(t)) AS tok_end,
       least(tok_start + 32, len(t)) - tok_start AS n_chunk_toks,
       array_to_string(t[tok_start + 1 : least(tok_start + 32, len(t))], ' ')
         AS chunk_text
FROM s
"""


QUERIES["q_doc_chunks"] = q_doc_chunks
ORACLE["q_doc_chunks"] = _oracle_doc_chunks()


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence PMI over the top-40 vocab;
    see operators/text.py: pmi_pairs."""
    from sandbox_data_pipeline_spark.operators.text import pmi_pairs

    return pmi_pairs(table(spark, sf_dir, "documents"), vocab_size=40, min_pair_docs=5)


def _oracle_pmi_pairs() -> str:
    return """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))
           AS token
  FROM documents
),
df AS (SELECT token, count(*) AS df FROM tok GROUP BY 1),
vocab AS (SELECT token, df FROM df ORDER BY df DESC, token LIMIT 40),
tv AS (SELECT tok.doc_id, tok.token, vocab.df FROM tok JOIN vocab USING (token)),
pair AS (
  SELECT a.token AS tok_a, b.token AS tok_b, a.df AS df_a, b.df AS df_b,
         count(*) AS n_docs_both
  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= 5
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tok_a, tok_b, df_a AS n_docs_a, df_b AS n_docs_b, n_docs_both,
       round(log2((n_docs_both * n_docs) / (df_a * df_b)), 4) AS pmi_bits
FROM pair CROSS JOIN n
"""


QUERIES["q_pmi_pairs"] = q_pmi_pairs
ORACLE["q_pmi_pairs"] = _oracle_pmi_pairs()


def q_source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the corpus (KL bits,
    add-one smoothing, top-40 vocab); see operators/text.py:
    source_kl_divergence."""
    from sandbox_data_pipeline_spark.operators.text import source_kl_divergence

    return source_kl_divergence(table(spark, sf_dir, "documents"), vocab_size=40)


def _oracle_source_kl() -> str:
    return """
WITH tok AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
corpus AS (SELECT token, count(*) AS c_corpus FROM tok GROUP BY 1),
vocab AS (SELECT token, c_corpus FROM corpus ORDER BY c_corpus DESC, token LIMIT 40),
per_src AS (
  SELECT source, token, count(*) AS c_src
  FROM tok JOIN vocab USING (token)
  GROUP BY 1, 2
),
grid AS (
  SELECT s.source, v.token, v.c_corpus
  FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN vocab v
),
cells AS (
  SELECT grid.source, grid.token, grid.c_corpus, coalesce(per_src.c_src, 0) AS c_src
  FROM grid LEFT JOIN per_src
    ON per_src.source = grid.source AND per_src.token = grid.token
),
tot AS (SELECT source, sum(c_src) AS n_src FROM cells GROUP BY 1),
ctot AS (SELECT sum(c_corpus) AS n_corpus, count(*) AS n_vocab FROM vocab)
SELECT cells.source,
       tot.n_src AS n_vocab_tokens,
       round(sum(
         ((c_src + 1) / (n_src + n_vocab))
         * log2(((c_src + 1) / (n_src + n_vocab)) / ((c_corpus + 1) / (n_corpus + n_vocab)))
       ), 4) AS kl_bits
FROM cells JOIN tot USING (source) CROSS JOIN ctot
GROUP BY 1, 2
"""


QUERIES["q_source_drift_kl"] = q_source_drift_kl
ORACLE["q_source_drift_kl"] = _oracle_source_kl()


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters with the estimator's overcount
    measured against exact counts (the q_minhash_precision pattern:
    the sketch itself is graded, not just its plumbing); see
    operators/sketch.py."""
    from sandbox_data_pipeline_spark.operators.sketch import cms_build, cms_estimate

    tok = table(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("token")
    )
    sketch = cms_build(tok)
    candidates = (
        tok.groupBy("token")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "token")
        .limit(20)
    )
    est = cms_estimate(sketch, candidates)
    return est.select(
        "token", "exact_n", "cms_n", (F.col("cms_n") - F.col("exact_n")).alias("overcount")
    )


def _oracle_cms() -> str:
    bucket = (
        "CAST('0x' || substr(md5('cms' || seed || token), 1, 15) AS BIGINT) % 64"
    )
    return f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
cells AS (
  SELECT seed, {bucket} AS bucket, count(*) AS c
  FROM tok CROSS JOIN range(0, 4) r(seed)
  GROUP BY 1, 2
),
cand AS (
  SELECT token, count(*) AS exact_n FROM tok GROUP BY 1
  ORDER BY exact_n DESC, token LIMIT 20
),
est AS (
  SELECT cand.token, cand.exact_n, min(coalesce(cells.c, 0)) AS cms_n
  FROM cand CROSS JOIN range(0, 4) r(seed)
  LEFT JOIN cells ON cells.seed = r.seed
   AND cells.bucket = CAST('0x' || substr(md5('cms' || r.seed || cand.token), 1, 15) AS BIGINT) % 64
  GROUP BY 1, 2
)
SELECT token, exact_n, cms_n, cms_n - exact_n AS overcount FROM est
"""


QUERIES["q_cms_heavy_hitters"] = q_cms_heavy_hitters
ORACLE["q_cms_heavy_hitters"] = _oracle_cms()


BPE_N_MERGES = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning (operators/bpe.py): the
    first 6 learned merges with their weighted pair counts. The oracle
    unrolls the same 6 rounds in SQL: per round, argmax pair by
    (count desc, pair asc), then greedy non-overlapping application
    replayed with gaps-and-islands run parity (a run of k identical
    candidates merges at positions 0, 2, 4, …)."""
    from sandbox_data_pipeline_spark.operators.bpe import bpe_merges

    return bpe_merges(table(spark, sf_dir, "documents"), n_merges=BPE_N_MERGES)


def _oracle_bpe() -> str:
    rounds = []
    finals = []
    for k in range(1, BPE_N_MERGES + 1):
        p = f"w{k - 1}"
        rounds.append(f"""pos{k} AS MATERIALIZED (
  SELECT word, cnt, r.range::INT AS i,
         t[r.range::INT] AS s, t[r.range::INT + 1] AS nxt
  FROM (SELECT word, cnt, string_split(sym, ' ') AS t FROM {p}) x
  -- range bound = max symbols/word at grading SFs (words are short)
  CROSS JOIN range(1, 200) r
  WHERE r.range <= len(t)
),
best{k} AS MATERIALIZED (
  SELECT s AS a, nxt AS b, sum(cnt) AS c
  FROM pos{k} WHERE nxt IS NOT NULL
  GROUP BY 1, 2 HAVING sum(cnt) >= 2
  ORDER BY c DESC, a, b LIMIT 1
),
mrg{k} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i, row_number() OVER (PARTITION BY word, g ORDER BY i) - 1 AS r
    FROM (
      SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
      FROM pos{k}
      WHERE s = (SELECT a FROM best{k}) AND nxt = (SELECT b FROM best{k})
    )
  ) WHERE r % 2 = 0
),
w{k} AS MATERIALIZED (
  SELECT p.word, p.cnt,
         string_agg(CASE WHEN m.i IS NOT NULL THEN p.s || p.nxt ELSE p.s END,
                    ' ' ORDER BY p.i) AS sym
  FROM pos{k} p
  LEFT JOIN mrg{k} m ON m.word = p.word AND m.i = p.i
  LEFT JOIN mrg{k} m2 ON m2.word = p.word AND m2.i = p.i - 1
  WHERE m2.i IS NULL
  GROUP BY p.word, p.cnt
)""")
        finals.append(
            f"SELECT {k} AS merge_rank, a AS sym_a, b AS sym_b, c AS pair_count FROM best{k}"
        )
    chain = ",\n".join(rounds)
    union = "\nUNION ALL\n".join(finals)
    return f"""
WITH w0 AS MATERIALIZED (
  SELECT word, count(*) AS cnt,
         rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
  FROM (
    SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
    FROM documents
  )
  GROUP BY word
),
{chain}
SELECT merge_rank, sym_a, sym_b, pair_count FROM ({union})
"""


QUERIES["q_bpe_merges"] = q_bpe_merges
ORACLE["q_bpe_merges"] = _oracle_bpe()


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: least-squares
    slope/intercept/R² of log(freq) against log(rank) — the one-row
    corpus-statistics fingerprint (natural text ≈ −1 slope; synthetic
    or template-heavy corpora flatten). Uses the built-in regr_*
    aggregates over the token-frequency frame (vocab-scale, one count
    shuffle); rank is deterministic via (count desc, token) ordering
    and computed with the TWO-PHASE range rank (stable_global_ids —
    the vocab frame grows with the corpus under Heaps' law, so a
    global row_number here was the q_heaps_law/q_rholoss single-task
    window class; fixed round 10)."""
    from sandbox_data_pipeline_spark.operators.ids import stable_global_ids

    tok = table(spark, sf_dir, "documents").select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != F.lit(""))).alias(
            "token"
        )
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("c"))
    ranked = stable_global_ids(
        freq.withColumn("_negc", -F.col("c")), ["_negc", "token"], out="_r0"
    ).withColumn("r", F.col("_r0") + 1)
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_tokens_vocab"),
        F.round(F.expr("regr_slope(ly, lx)"), 4).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ly, lx)"), 4).alias("zipf_intercept"),
        F.round(F.expr("regr_r2(ly, lx)"), 4).alias("r2"),
    )


def _oracle_zipf() -> str:
    return """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
freq AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token) AS r FROM freq
),
pts AS (SELECT ln(CAST(r AS DOUBLE)) AS lx, ln(CAST(c AS DOUBLE)) AS ly FROM ranked)
SELECT count(*) AS n_tokens_vocab,
       round(regr_slope(ly, lx), 4) AS zipf_slope,
       round(regr_intercept(ly, lx), 4) AS zipf_intercept,
       round(regr_r2(ly, lx), 4) AS r2
FROM pts
"""


QUERIES["q_zipf_fit"] = q_zipf_fit
ORACLE["q_zipf_fit"] = _oracle_zipf()


def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered shard assignment: rank every document in the
    total (difficulty, doc_id) order — difficulty proxy = n_chars, the
    classic short-to-long curriculum axis — cut the ranking into 10
    contiguous stages, and spread each stage across 4 shards by
    portable content-id hash, so a trainer streaming shard files gets
    stage-ordered data with intra-stage shuffling for free.

    Scale: the global ranking is the two-phase range-partitioned id
    assignment (operators/ids.py — no single-partition window), the
    stage cut is integer arithmetic on the rank, and the shard hash is
    map-side; one extra shuffle total beyond the ranking itself."""
    from sandbox_data_pipeline_spark.operators.dedup import portable_hash
    from sandbox_data_pipeline_spark.operators.ids import (
        stable_global_ids_with_count,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked, n = stable_global_ids_with_count(
        docs, ["n_chars", "doc_id"], out="rank", num_partitions=8
    )
    return (
        ranked.withColumn("stage", F.expr(f"(rank * 10) div {n}").cast("int"))
        .withColumn(
            "shard",
            F.pmod(
                portable_hash(F.col("doc_id").cast("string"), salt="shard"),
                F.lit(4),
            ).cast("int"),
        )
        .groupBy("stage", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


_ORACLE_CURRICULUM = """
WITH ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS r,
         count(*) OVER () AS n
  FROM documents
)
SELECT CAST((r * 10) // n AS INT) AS stage,
       CAST(CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 AS INT) AS shard,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM ranked
GROUP BY 1, 2
"""

QUERIES["q_curriculum_shards"] = q_curriculum_shards
ORACLE["q_curriculum_shards"] = _ORACLE_CURRICULUM


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-token sketch per source, with its measured error
    against the exact count — the oracle-able member of the sketch
    family: every step is integer arithmetic on portable 60-bit
    hashes, so DuckDB replays the ENTIRE sketch (HLL's registers are
    engine-internal; q_agg_approx is likewise KMV-replayable and
    oracle-backed since round 5 for the same reason).
    Mergeable at scale: union = k smallest of concatenated sketches
    (two-phase TakeOrdered shape), never a re-scan."""
    from sandbox_data_pipeline_spark.operators.sketch import (
        kmv_estimate_col,
        kmv_sketch,
    )

    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    sk = kmv_sketch(toks, "source", "tok")
    exact = (
        toks.distinct().groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        sk.withColumnRenamed("grp", "source")
        .join(exact, "source")
        .withColumn(
            "est", kmv_estimate_col(F.col("n_kept"), F.col("kth_value"))
        )
        .withColumn("est_minus", F.col("est") - F.col("n_exact"))
        .select(
            "source",
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("est").alias("est_distinct"),
            F.col("n_exact").cast("long").alias("n_exact"),
            # integer half-up of |est-exact|*1e4/exact — no doubles
            F.expr(
                "CAST((2 * abs(est_minus) * 10000 + n_exact) DIV (2 * n_exact)"
                " AS BIGINT)"
            ).alias("rel_err_x10000"),
        )
    )


_ORACLE_KMV = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT DISTINCT source AS grp,
         CAST('0x' || substr(md5('kmv' || tok), 1, 15) AS BIGINT) AS hv
  FROM toks
),
ranked AS (
  SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
  FROM hashed
),
sk AS (
  SELECT grp, max(hv) AS kth, count(*) AS n_kept
  FROM ranked WHERE rn <= 256 GROUP BY grp
),
exact AS (
  SELECT source AS grp, count(DISTINCT tok) AS n_exact FROM toks GROUP BY 1
),
j AS (
  SELECT sk.grp AS source, sk.n_kept, sk.kth, exact.n_exact,
         {kmv_estimate_sql("sk.n_kept", "sk.kth")} AS est_distinct
  FROM sk JOIN exact ON exact.grp = sk.grp
)
SELECT source, CAST(n_kept AS BIGINT) AS n_kept, est_distinct,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST((2 * abs(est_distinct - n_exact) * 10000 + n_exact) // (2 * n_exact) AS BIGINT)
         AS rel_err_x10000
FROM j
"""

QUERIES["q_kmv_distinct"] = q_kmv_distinct


def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra set similarity: pairwise Jaccard between the
    sources' token VOCABULARIES estimated purely from their KMV
    sketches — the union sketch is the k smallest hashes of the two
    sketches' concatenation, and the estimator is the fraction of that
    union sketch present in both sides. After the one per-source sketch
    build (bounded k rows per source), every pairwise comparison runs
    on k-row sketches — at 100 TB you compare 10⁴ corpus slices
    without ever re-reading them. Estimator ratio is exact integer
    division (dec_ratio), so the whole pipeline replays in DuckDB."""
    from pyspark.sql import Window

    from sandbox_data_pipeline_spark.operators.dedup import portable_hash
    from sandbox_data_pipeline_spark.operators.sketch import KMV_K
    from sandbox_data_pipeline_spark.queries._envproof import dec_ratio

    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    hashed = toks.select(
        F.col("source").alias("grp"),
        portable_hash(F.col("tok"), salt="kmv").alias("hv"),
    ).distinct()
    wg = Window.partitionBy("grp").orderBy("hv")
    sk = hashed.withColumn("rn", F.row_number().over(wg)).where(
        F.col("rn") <= KMV_K
    )
    a = sk.select(F.col("grp").alias("source_a"), "hv")
    b = sk.select(F.col("grp").alias("source_b"), "hv")
    # per-pair union of the two k-min sets (k rows each — all pairwise
    # work below runs on sketches, never on token streams)
    pairs = (
        sk.select(F.col("grp").alias("source_a"))
        .distinct()
        .crossJoin(sk.select(F.col("grp").alias("source_b")).distinct())
        .where(F.col("source_a") < F.col("source_b"))
    )
    av = pairs.join(a, "source_a").select("source_a", "source_b", "hv")
    bv = pairs.join(b, "source_b").select("source_a", "source_b", "hv")
    union = (
        av.unionByName(bv)
        .groupBy("source_a", "source_b", "hv")
        .agg(F.count(F.lit(1)).alias("n_sides"))
    )
    wp = Window.partitionBy("source_a", "source_b").orderBy("hv")
    kept = union.withColumn("urn", F.row_number().over(wp)).where(
        F.col("urn") <= KMV_K
    )
    return (
        kept.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_union_kept"),
            F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0)).alias(
                "n_both"
            ),
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_union_kept").cast("long").alias("n_union_kept"),
            F.col("n_both").cast("long").alias("n_both"),
            dec_ratio(F.col("n_both"), F.col("n_union_kept"), 0, 4).alias(
                "est_jaccard"
            ),
        )
    )


_ORACLE_KMV_JACCARD = """
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT DISTINCT source AS grp,
         CAST('0x' || substr(md5('kmv' || tok), 1, 15) AS BIGINT) AS hv
  FROM toks
),
sk AS (
  SELECT grp, hv FROM (
    SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
    FROM hashed) WHERE rn <= 256
),
pairs AS (
  SELECT a.grp AS source_a, b.grp AS source_b
  FROM (SELECT DISTINCT grp FROM sk) a, (SELECT DISTINCT grp FROM sk) b
  WHERE a.grp < b.grp
),
u AS (
  SELECT p.source_a, p.source_b, s.hv,
         max(CASE WHEN s.grp = p.source_a THEN 1 ELSE 0 END)
           + max(CASE WHEN s.grp = p.source_b THEN 1 ELSE 0 END) AS n_sides
  FROM pairs p JOIN sk s ON s.grp IN (p.source_a, p.source_b)
  GROUP BY p.source_a, p.source_b, s.hv
),
kept AS (
  SELECT source_a, source_b, hv, n_sides,
         row_number() OVER (PARTITION BY source_a, source_b ORDER BY hv) AS urn
  FROM u QUALIFY urn <= 256
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_union_kept,
       CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(CAST((2 * sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) * 10000 + count(*))
                 // (2 * count(*)) AS DECIMAL(28,0)) * 0.0001 AS DECIMAL(18,4)) AS est_jaccard
FROM kept
GROUP BY source_a, source_b
"""
QUERIES["q_kmv_jaccard"] = q_kmv_jaccard
ORACLE["q_kmv_jaccard"] = _ORACLE_KMV_JACCARD
ORACLE["q_kmv_distinct"] = _ORACLE_KMV


# --- BPE encode (apply a pinned tokenizer) ----------------------------------

# A pinned, sf-independent merge table (rank order). Semantics of one
# merge = ONE greedy leftmost non-overlapping pass (operators/bpe.py
# _apply_merge); the DuckDB oracle replays each merge as ONE literal
# replace() over bracket-delimited symbols, which has exactly the same
# pass semantics — so the two engines agree symbol-for-symbol with no
# tokenizer library involved. Outputs of all merges are distinct
# strings, so rank-order application equals priority-queue BPE here.
BPE_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("e", "r"),
    ("i", "n"),
    ("a", "n"),
    ("o", "r"),
    ("s", "t"),
    ("an", "d"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tokenizer application: encode every document with
    the pinned BPE merge table and report per-language token budgets
    (the number a training-data pipeline actually plans with). The
    merge table compiles into a chain of literal string replaces over
    bracket-delimited symbols (operators/bpe.py: bpe_token_counts) —
    codegen'd, zero shuffle until the tiny per-lang agg. bpe_segment
    keeps the array-producing fold path when callers need the actual
    tokens; for counting, the string path is ~10x faster."""
    from sandbox_data_pipeline_spark.operators.bpe import bpe_token_counts

    docs = table(spark, sf_dir, "documents")
    per_doc = bpe_token_counts(docs, BPE_MERGES).select("lang", "n_tok", "n_chr")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chr").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "n_chars",
            dec_ratio(
                F.col("n_tokens").cast("decimal(18,0)"),
                F.col("n_chars").cast("decimal(18,0)"),
                num_scale=0,
                out_scale=4,
            ).alias("fertility"),
        )
    )


def _oracle_bpe_encode() -> str:
    enc = "regexp_replace(text, '(.)', '⟨\\1⟩', 'g')"
    for a, b in BPE_MERGES:
        enc = (
            f"replace({enc}, '⟨{a}⟩⟨{b}⟩', "
            f"'⟨{a}{b}⟩')"
        )
    fert = dec_ratio_sql("n_tokens", "n_chars", num_scale=0, out_scale=4)
    return f"""
WITH per AS (
  SELECT lang,
         (length(e) - length(replace(e, '⟨', '')))
           - (length(text) - length(replace(text, ' ', ''))) AS n_tok,
         length(replace(text, ' ', '')) AS n_chr
  FROM (SELECT lang, text, {enc} AS e FROM documents)
),
agg AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chr) AS BIGINT) AS n_chars
  FROM per GROUP BY lang
)
SELECT lang, n_docs, n_tokens, n_chars, {fert} AS fertility FROM agg
"""


QUERIES["q_bpe_encode"] = q_bpe_encode
ORACLE["q_bpe_encode"] = _oracle_bpe_encode()


# --- BM25 retrieval scoring --------------------------------------------------

BM25_TERMS = ["filter", "join", "stream"]
BM25_K = 20


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval scoring (Okapi BM25) for a pinned query over
    the documents corpus — the ranking half of a RAG pipeline next to
    q_rag_index_pipeline's chunking half. operators/text.py: bm25_topk
    for the scale shape (postings filtered pre-shuffle, broadcast df
    and corpus scalar, TakeOrdered top-k)."""
    from sandbox_data_pipeline_spark.operators.text import bm25_topk

    return bm25_topk(table(spark, sf_dir, "documents"), BM25_TERMS, k=BM25_K)


def _oracle_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  WHERE t.token <> ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM toks WHERE token IN ({terms}) GROUP BY doc_id, token
),
df_t AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
scored AS (
  SELECT tf.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1)
           * tf * (1.2 + 1)
           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl * n_docs / sum_dl)) AS part
  FROM tf JOIN dl USING (doc_id) JOIN df_t USING (token) CROSS JOIN stats
),
agg AS (
  SELECT doc_id, round(SUM(part), 6) AS bm25, COUNT(*) AS n_terms_hit
  FROM scored GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank,
       doc_id, bm25, n_terms_hit
FROM agg
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_K}
"""


QUERIES["q_bm25_topk"] = q_bm25_topk
ORACLE["q_bm25_topk"] = _oracle_bm25()


# --- Chi-square term-language association (feature selection) ---------------


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: the 10 tokens most associated
    with each language by the 2x2 contingency chi-square between
    token presence and language membership — the classic supervised
    vocabulary selector (and the lang-ID feature auditor: its output
    IS the marker list a q_lang_id-style classifier should be using).

    chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) computes entirely
    from integer document counts; products go through decimal(38,0)
    so the numerator survives web-scale N, and ONE dec_ratio lands
    the statistic as an exact decimal both engines order identically
    (ties break on the token string). Scale: the doc-token distinct
    is the standard inverted-index shuffle (explode, then (token,
    doc) dedup); everything after runs on (token) and (token, lang)
    aggregates — bounded by vocabulary size, not corpus size. The
    df >= 5 prefilter drops the hapax tail before the join."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "lang",
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != F.lit(""))
            ).alias("tok"),
        )
        .distinct()
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    lang_sz = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    df_t = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    df_t = df_t.where(F.col("df") >= 5)
    lt = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("a"))
    j = (
        lt.join(df_t, "tok")
        .join(F.broadcast(lang_sz), "lang")
        .crossJoin(F.broadcast(n_docs))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    b_ = F.col("df") - F.col("a")
    c_ = F.col("n_l") - F.col("a")
    d_ = F.col("n") - F.col("df") - c_
    num = dec(F.col("n")) * dec(F.col("a") * d_ - b_ * c_) * dec(
        F.col("a") * d_ - b_ * c_
    )
    den = (
        dec(F.col("df"))
        * dec(F.col("n") - F.col("df"))
        * dec(F.col("n_l"))
        * dec(F.col("n") - F.col("n_l"))
    )
    scored = j.select(
        "lang",
        "tok",
        "a",
        "df",
        dec_ratio(num, den, 0, 4).alias("chi2"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("lang", "tok", "a", "df", "chi2", "rn")
    )


def _oracle_chi2() -> str:
    num = "n * CAST(a*dd - b*c AS HUGEINT) * CAST(a*dd - b*c AS HUGEINT)"
    den = "CAST(df AS HUGEINT) * (n - df) * n_l * (n - n_l)"
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, lang, tok
  FROM (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
nd AS (SELECT count(*) AS n FROM documents),
lang_sz AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
df_t AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
  HAVING count(DISTINCT doc_id) >= 5
),
lt AS (SELECT lang, tok, count(*) AS a FROM toks GROUP BY 1, 2),
j AS (
  SELECT lt.lang, lt.tok, a, df, n_l, n,
         df - a AS b, n_l - a AS c, n - df - (n_l - a) AS dd
  FROM lt JOIN df_t USING (tok) JOIN lang_sz ON lt.lang = lang_sz.lang
  CROSS JOIN nd
),
scored AS (
  SELECT lang, tok, CAST(a AS BIGINT) AS a, CAST(df AS BIGINT) AS df,
         {dec_ratio_sql(num, den, 0, 4)} AS chi2
  FROM j
),
ranked AS (
  SELECT lang, tok, a, df, chi2,
         row_number() OVER (PARTITION BY lang ORDER BY chi2 DESC, tok)
           AS rn
  FROM scored
)
SELECT lang, tok, a, df, chi2, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10
"""


ORACLE["q_chi2_terms"] = _oracle_chi2()
QUERIES["q_chi2_terms"] = q_chi2_terms


# --- Hashing-trick feature vectors ------------------------------------------

FH_BUCKETS = 16


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al.): each token
    instance hashes to one of 16 buckets with a ±1 sign drawn from a
    second hash bit, summed per (doc, bucket) — the fixed-width
    bag-of-words featurizer that needs NO vocabulary pass, which is
    the whole point at 100 TB (one scan, no dictionary shuffle, no
    driver-side vocab). Long-form output (doc_id, bucket, val): the
    dense-vector pivot is a row-local reshape downstream.

    The hash is the portable 60-bit md5 (operators/dedup.py:
    portable_hash) so the oracle replays bucket AND sign bit-for-bit;
    sign comes from bit 4 (the bucket uses bits 0-3 via pmod 16).
    ONE shuffle: the (doc, bucket) aggregate, ≤16 groups per doc."""
    from sandbox_data_pipeline_spark.operators.dedup import portable_hash

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    h = portable_hash(F.col("tok"), salt="fh")
    signed = toks.select(
        "doc_id",
        F.pmod(h, F.lit(FH_BUCKETS)).cast("int").alias("bucket"),
        # shiftright, NOT floor(h/16): h is 60-bit and double division
        # rounds past 2^53, silently corrupting the sign bit
        (F.lit(1) - F.lit(2) * F.pmod(F.shiftright(h, 4), F.lit(2))).alias(
            "sign"
        ),
    )
    return signed.groupBy("doc_id", "bucket").agg(
        F.sum("sign").alias("val")
    )


_ORACLE_FEATURE_HASHING = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('fh' || tok), 1, 15) AS BIGINT) AS hv
  FROM t2
)
SELECT doc_id,
       CAST(hv % {FH_BUCKETS} AS INTEGER) AS bucket,
       CAST(sum(1 - 2 * ((hv // {FH_BUCKETS}) % 2)) AS BIGINT) AS val
FROM h GROUP BY 1, 2
"""

QUERIES["q_feature_hashing"] = q_feature_hashing
ORACLE["q_feature_hashing"] = _ORACLE_FEATURE_HASHING


# --- round-8 wave: classifier QA, diversity, and keyword extraction ---------

_TOK_SPLIT_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the language-ID stage — chance-corrected
    agreement between declared and guessed language, the single-number
    companion of q_lang_confusion's matrix. All counts exact integers:
    po = diag/N, pe = Σ_c row_c·col_c / N², kappa = (po-pe)/(1-pe);
    the three divisions run on identical exact operands in both
    engines, floor-rounded once. One groupBy over the confusion cells
    — the cell table is |langs|² rows, driver-negligible at any
    corpus size."""
    d = language_id(table(spark, sf_dir, "documents")).select(
        "lang_declared", "lang_guess"
    )
    cells = d.groupBy("lang_declared", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = cells.groupBy(F.col("lang_declared").alias("cls")).agg(
        F.sum("n").alias("row_n")
    )
    cols = cells.groupBy(F.col("lang_guess").alias("cls")).agg(
        F.sum("n").alias("col_n")
    )
    margins = rows.join(cols, "cls", "full").select(
        (
            F.coalesce(F.col("row_n"), F.lit(0))
            * F.coalesce(F.col("col_n"), F.lit(0))
        ).alias("rc")
    )
    totals = cells.agg(
        F.sum("n").alias("n_docs"),
        F.sum(
            F.when(F.col("lang_declared") == F.col("lang_guess"), F.col("n"))
            .otherwise(F.lit(0))
        ).alias("n_agree"),
    )
    pe_num = margins.agg(F.sum("rc").alias("pe_num"))
    j = totals.crossJoin(pe_num)
    po = F.col("n_agree") / F.col("n_docs")
    pe = F.col("pe_num") / (F.col("n_docs") * F.col("n_docs"))
    return j.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_agree").cast("long").alias("n_agree"),
        stable_round(po, 6).alias("po"),
        stable_round(pe, 6).alias("pe"),
        # pe = 1 (degenerate single-class marginals) leaves kappa
        # undefined; report 0.0 instead of inf/nan
        stable_round(
            F.when(pe == 1.0, F.lit(0.0)).otherwise(
                (po - pe) / (F.lit(1.0) - pe)
            ),
            6,
        ).alias("kappa"),
    )


def _oracle_kappa() -> str:
    return f"""
WITH guessed AS ({_oracle_lang()}),
cells AS (
  SELECT lang_declared, lang_guess, count(*) AS n FROM guessed GROUP BY 1, 2
),
r AS (SELECT lang_declared AS cls, sum(n) AS row_n FROM cells GROUP BY 1),
c AS (SELECT lang_guess AS cls, sum(n) AS col_n FROM cells GROUP BY 1),
margins AS (
  SELECT coalesce(row_n, 0) * coalesce(col_n, 0) AS rc
  FROM r FULL JOIN c USING (cls)
),
tot AS (
  SELECT sum(n) AS n_docs,
         sum(CASE WHEN lang_declared = lang_guess THEN n ELSE 0 END) AS n_agree
  FROM cells
),
pe_n AS (SELECT sum(rc) AS pe_num FROM margins)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_agree AS BIGINT) AS n_agree,
       (floor((n_agree / n_docs) * 1000000.0 + 0.5) / 1000000.0) AS po,
       (floor((pe_num / (n_docs * n_docs)) * 1000000.0 + 0.5) / 1000000.0) AS pe,
       (floor((CASE WHEN pe_num / (n_docs * n_docs) = 1.0 THEN 0.0
                    ELSE ((n_agree / n_docs) - (pe_num / (n_docs * n_docs)))
                         / (1.0 - (pe_num / (n_docs * n_docs)))
               END) * 1000000.0 + 0.5)
        / 1000000.0) AS kappa
FROM tot CROSS JOIN pe_n
"""


QUERIES["q_cohen_kappa"] = q_cohen_kappa
ORACLE["q_cohen_kappa"] = _oracle_kappa()


def q_class_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the language-ID stage over the
    same confusion cells — the per-class view kappa summarizes. tp/fp/
    fn are exact integers; the ratios are identical IEEE expressions
    both engines evaluate on them, floor-rounded once; zero
    denominators short-circuit to 0.0 before any division."""
    d = language_id(table(spark, sf_dir, "documents")).select(
        "lang_declared", "lang_guess"
    )
    cells = d.groupBy("lang_declared", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = cells.groupBy(F.col("lang_declared").alias("cls")).agg(
        F.sum("n").alias("row_n")
    )
    cols = cells.groupBy(F.col("lang_guess").alias("cls")).agg(
        F.sum("n").alias("col_n")
    )
    diag = cells.where(F.col("lang_declared") == F.col("lang_guess")).select(
        F.col("lang_declared").alias("cls"), F.col("n").alias("tp")
    )
    m = (
        rows.join(cols, "cls", "full")
        .join(diag, "cls", "left")
        .select(
            "cls",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            (
                F.coalesce(F.col("col_n"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).cast("long").alias("fp"),
            (
                F.coalesce(F.col("row_n"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).cast("long").alias("fn"),
        )
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    f1 = F.when(prec + rec == 0.0, F.lit(0.0)).otherwise(
        F.lit(2.0) * prec * rec / (prec + rec)
    )
    return m.select(
        "cls",
        "tp",
        "fp",
        "fn",
        stable_round(prec, 6).alias("precision"),
        stable_round(rec, 6).alias("recall"),
        stable_round(f1, 6).alias("f1"),
    )


def _oracle_class_f1() -> str:
    p = "CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END"
    r = "CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END"
    f1 = (
        f"CASE WHEN ({p}) + ({r}) = 0.0 THEN 0.0 "
        f"ELSE 2.0 * ({p}) * ({r}) / (({p}) + ({r})) END"
    )
    return f"""
WITH guessed AS ({_oracle_lang()}),
cells AS (
  SELECT lang_declared, lang_guess, count(*) AS n FROM guessed GROUP BY 1, 2
),
r AS (SELECT lang_declared AS cls, sum(n) AS row_n FROM cells GROUP BY 1),
c AS (SELECT lang_guess AS cls, sum(n) AS col_n FROM cells GROUP BY 1),
d AS (
  SELECT lang_declared AS cls, n AS tp FROM cells
  WHERE lang_declared = lang_guess
),
m AS (
  SELECT cls,
         CAST(coalesce(tp, 0) AS BIGINT) AS tp,
         CAST(coalesce(col_n, 0) - coalesce(tp, 0) AS BIGINT) AS fp,
         CAST(coalesce(row_n, 0) - coalesce(tp, 0) AS BIGINT) AS fn
  FROM r FULL JOIN c USING (cls) LEFT JOIN d USING (cls)
)
SELECT cls, tp, fp, fn,
       (floor(({p}) * 1000000.0 + 0.5) / 1000000.0) AS precision,
       (floor(({r}) * 1000000.0 + 0.5) / 1000000.0) AS recall,
       (floor(({f1}) * 1000000.0 + 0.5) / 1000000.0) AS f1
FROM m
"""


QUERIES["q_class_f1"] = q_class_f1
ORACLE["q_class_f1"] = _oracle_class_f1()


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy — the classic low-diversity
    quality filter (boilerplate and keyword-stuffed docs score low).
    H = log2(T) - (Σ c·log2 c)/T from exact counts; the Σ over a doc's
    token types runs as an ORDERED cumulative window (token asc), which
    both engines evaluate sequentially (the KL-drift precedent), never
    an order-free double groupBy sum. One explode + two shuffles
    (token counts, per-doc aggregate), both on uniform keys."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    cnt = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("tok")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cnt.withColumn(
        "sl", F.sum(F.col("c") * F.log2("c")).over(w)
    )
    agg = cum.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.max("sl").alias("slogs"),  # cumulative terms are >= 0: max = last
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        stable_round(
            F.log2("n_tokens") - F.col("slogs") / F.col("n_tokens"), 6
        ).alias("entropy"),
    )


ORACLE["q_token_entropy"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SPLIT_SQL}) AS tok FROM documents
),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
cum AS (
  SELECT doc_id, tok, c,
         sum(c * log2(c)) OVER (PARTITION BY doc_id ORDER BY tok
                                ROWS UNBOUNDED PRECEDING) AS sl
  FROM cnt
),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types, max(sl) AS slogs
  FROM cum GROUP BY 1
)
SELECT doc_id, n_tokens, n_types,
       (floor((log2(n_tokens) - slogs / n_tokens) * 1000000.0 + 0.5)
        / 1000000.0) AS entropy
FROM agg
"""
QUERIES["q_token_entropy"] = q_token_entropy


BURST_TOP = 20


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Fano factor: variance/mean of the per-document
    count, zeros included) for the corpus's top terms — bursty terms
    concentrate in few docs (topical), Fano≈dispersion 1 means
    Poisson-like background. From exact moments only: with N docs,
    S1 = Σc, S2 = Σc², fano = (N·S2 − S1²)/(N·S1) — ONE double
    division of exact bigints, cross-engine identical. Two uniform-key
    shuffles; the top-k is a rounded-value sort with a token tiebreak."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    cnt = (
        d.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    per_tok = cnt.groupBy("token").agg(
        F.sum("c").cast("long").alias("total_cnt"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n_docs_with"),
    )
    j = per_tok.crossJoin(F.broadcast(n_docs))
    return (
        j.select(
            "token",
            "total_cnt",
            "n_docs_with",
            stable_round(
                (F.col("n_docs") * F.col("s2") - F.col("total_cnt") * F.col("total_cnt"))
                / (F.col("n_docs") * F.col("total_cnt")),
                6,
            ).alias("fano"),
        )
        .orderBy(F.col("total_cnt").desc(), "token")
        .limit(BURST_TOP)
    )


ORACLE["q_burstiness"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SPLIT_SQL}) AS token FROM documents
),
cnt AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM documents),
per_tok AS (
  SELECT token, CAST(sum(c) AS BIGINT) AS total_cnt,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS n_docs_with
  FROM cnt GROUP BY 1
)
SELECT token, total_cnt, n_docs_with,
       (floor(((n_docs * s2 - total_cnt * total_cnt)
               / (n_docs * total_cnt)) * 1000000.0 + 0.5)
        / 1000000.0) AS fano
FROM per_tok CROSS JOIN n
ORDER BY total_cnt DESC, token
LIMIT {BURST_TOP}
"""
QUERIES["q_burstiness"] = q_burstiness


TEXTRANK_TOP = 30


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus word-co-occurrence graph — nodes are tokens, edges
    connect adjacent tokens (window 2), undirected, deduplicated. The
    top-scoring nodes are the corpus keywords. Reuses the exact
    operators/graph.py PageRank (5 iterations, d=0.85, 6-dp rounding);
    the bigram edge list is one lead() window per doc (one shuffle) +
    a distinct. Deterministic top-k: rounded score desc, token asc."""
    from sandbox_data_pipeline_spark.operators.graph import pagerank

    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "tok"))
    w = Window.partitionBy("doc_id").orderBy("p")
    big = (
        pos.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("tok")))
        .select("tok", "nxt")
    )
    edges = (
        big.select(F.col("tok").alias("src"), F.col("nxt").alias("dst"))
        .unionByName(
            big.select(F.col("nxt").alias("src"), F.col("tok").alias("dst"))
        )
        .distinct()
    )
    pr = pagerank(edges, damping=0.85, iterations=5)
    return (
        pr.select(F.col("node").alias("token"), "deg", "pagerank")
        .orderBy(F.col("pagerank").desc(), "token")
        .limit(TEXTRANK_TOP)
    )


def _oracle_textrank() -> str:
    iters = []
    prev = "p0"
    one_minus_d = repr(1.0 - 0.85)
    dd = repr(0.85)
    for k in range(1, 6):
        iters.append(
            f"""p{k} AS (
  SELECT b.node, b.deg, b.n_nodes,
         CAST({one_minus_d} AS DOUBLE) / b.n_nodes
           + CAST({dd} AS DOUBLE) * coalesce(s.s, CAST(0 AS DOUBLE)) AS rank
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
WITH lists AS (
  SELECT doc_id, {_TOK_SPLIT_SQL} AS l FROM documents
),
big AS MATERIALIZED (
  SELECT l[CAST(i.range AS INTEGER)] AS tok,
         l[CAST(i.range AS INTEGER) + 1] AS nxt
  FROM lists CROSS JOIN range(1, 4096) i
  WHERE i.range < len(l)
    AND l[CAST(i.range AS INTEGER)] <> l[CAST(i.range AS INTEGER) + 1]
),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT tok AS src, nxt AS dst FROM big
    UNION ALL
    SELECT nxt AS src, tok AS dst FROM big
  )
),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
n AS (SELECT count(*) AS n_nodes FROM deg),
p0 AS MATERIALIZED (
  SELECT node, deg, n_nodes, CAST(1 AS DOUBLE) / n_nodes AS rank
  FROM deg CROSS JOIN n
),
{chain}
SELECT node AS token, CAST(deg AS BIGINT) AS deg,
       (floor((rank) * 1000000.0 + 0.5) / 1000000.0) AS pagerank
FROM {prev}
ORDER BY (floor((rank) * 1000000.0 + 0.5) / 1000000.0) DESC, node
LIMIT {TEXTRANK_TOP}
"""


QUERIES["q_textrank_keywords"] = q_textrank_keywords
ORACLE["q_textrank_keywords"] = _oracle_textrank()


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) = k·N^β over the
    corpus read in doc_id order — the companion fingerprint to
    q_zipf_fit (natural text: β ≈ 0.4–0.6; template spam saturates,
    random noise stays near 1). The prefix curve needs NO sequential
    scan: a token's contribution to V starts at its FIRST-appearance
    doc (min doc_id containing it), so cumulative vocabulary is a
    running total over the per-doc new-type counts — exact integers —
    and the fit is the regr_* pattern q_zipf_fit proved cross-engine.
    The running totals use the two-phase range prefix sum
    (operators/ids.py: global_cumsum), NOT an unpartitioned window:
    the per-doc frame is corpus-cardinality, and a single-partition
    WindowExec over it is the classic 100 TB scale-killer."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("token"),
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    firsts = (
        toks.groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    from sandbox_data_pipeline_spark.operators.ids import global_cumsum

    curve = global_cumsum(
        per_doc.join(firsts, "doc_id", "left").select(
            "doc_id",
            "n_toks",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
        ),
        order_cols=["doc_id"],
        sum_cols=["n_toks", "new_types"],
    ).withColumnsRenamed({"cum_n_toks": "cum_n", "cum_new_types": "cum_v"})
    pts = curve.select(
        F.log(F.col("cum_n").cast("double")).alias("lx"),
        F.log(F.col("cum_v").cast("double")).alias("ly"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.expr("regr_slope(ly, lx)"), 4).alias("heaps_beta"),
        F.round(F.expr("exp(regr_intercept(ly, lx))"), 4).alias("heaps_k"),
        F.round(F.expr("regr_r2(ly, lx)"), 4).alias("r2"),
    )


ORACLE["q_heaps_law"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
per_doc AS (SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY 1),
firsts AS (
  SELECT first_doc AS doc_id, count(*) AS new_types FROM (
    SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY 1
  ) GROUP BY 1
),
curve AS (
  SELECT p.doc_id, p.n_toks, coalesce(f.new_types, 0) AS new_types,
         sum(p.n_toks) OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
           AS cum_n,
         sum(coalesce(f.new_types, 0))
           OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING) AS cum_v
  FROM per_doc p LEFT JOIN firsts f ON f.doc_id = p.doc_id
),
pts AS (
  SELECT ln(CAST(cum_n AS DOUBLE)) AS lx, ln(CAST(cum_v AS DOUBLE)) AS ly
  FROM curve
)
SELECT count(*) AS n_points,
       round(regr_slope(ly, lx), 4) AS heaps_beta,
       round(exp(regr_intercept(ly, lx)), 4) AS heaps_k,
       round(regr_r2(ly, lx), 4) AS r2
FROM pts
"""
QUERIES["q_heaps_law"] = q_heaps_law


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a Laplace-smoothed corpus bigram
    LM trained on the corpus itself — the EXACT, model-free twin of
    the `perplexity_model` scorer hook: the classic quality filter
    (template spam scores low, noise scores high) with every count an
    exact integer. p(w₂|w₁) = (c₁₂+1)/(c₁+V); per-doc cross-entropy
    is the mean of −ln p over the doc's bigrams, summed as an ORDERED
    cumulative window by position (−ln p ≥ 0, so the cumulant is
    monotone and MAX = last — the q_token_entropy discipline), then
    ONE exp. Shuffles: bigram counts + prefix counts (uniform token
    keys, map-side partials) joined back to the positional bigram
    stream; V is a broadcast scalar."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "w1"))
    wnext = Window.partitionBy("doc_id").orderBy("p")
    big = (
        pos.withColumn("w2", F.lead("w1").over(wnext))
        .where(F.col("w2").isNotNull())
        .select("doc_id", "p", "w1", "w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = d.select(F.explode(toks).alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log(
                (F.col("c12") + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v"))
            ),
        )
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = scored.withColumn("cnll", F.sum("nll").over(wcum))
    agg = cum.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.max("cnll").alias("snll"),
    )
    h = F.col("snll") / F.col("n_bigrams")
    return agg.select(
        "doc_id",
        "n_bigrams",
        stable_round(h, 6).alias("cross_entropy"),
        stable_round(F.exp(h), 4).alias("ppl"),
    )


ORACLE["q_bigram_perplexity"] = f"""
WITH lists AS (
  SELECT doc_id, {_TOK_SPLIT_SQL} AS l FROM documents
),
big AS (
  SELECT doc_id, CAST(i.range AS INTEGER) AS p,
         l[CAST(i.range AS INTEGER)] AS w1,
         l[CAST(i.range AS INTEGER) + 1] AS w2
  FROM lists CROSS JOIN range(1, 4096) i
  WHERE i.range < len(l)
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
vocab AS (
  SELECT count(DISTINCT t) AS v FROM (
    SELECT unnest(l) AS t FROM lists
  )
),
scored AS (
  SELECT b.doc_id, b.p,
         -ln(CAST(x.c12 + 1 AS DOUBLE) / (y.c1 + vocab.v)) AS nll
  FROM big b
  JOIN c12 x ON x.w1 = b.w1 AND x.w2 = b.w2
  JOIN c1 y ON y.w1 = b.w1
  CROSS JOIN vocab
),
cum AS (
  SELECT doc_id,
         sum(nll) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS cnll
  FROM scored
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, max(cnll) AS snll
  FROM cum GROUP BY 1
)
SELECT doc_id, n_bigrams,
       (floor((snll / n_bigrams) * 1000000.0 + 0.5) / 1000000.0)
         AS cross_entropy,
       (floor(exp(snll / n_bigrams) * 10000.0 + 0.5) / 10000.0) AS ppl
FROM agg
"""
QUERIES["q_bigram_perplexity"] = q_bigram_perplexity


# Fixed unigram cost table for the oracle-backed segmentation query —
# the q_bpe_encode precedent: a DECLARED constant both engines embed,
# so the DP itself is what the gate proves (training is driver-side,
# operators/unigram.py + tests). All costs are binary-exact literals
# (x.0 / x.5), so every path cost is an EXACT double in both engines.
UNIGRAM_PIECES2 = (
    "th he lo ow ue an ta al ne er ar in st re ey".split()
)
UNIGRAM_PIECES3 = (
    "the val row key tab sca fas joi agg mer fil win ord dat col vec "
    "bat spa gro sma lin cus que str has par slo".split()
)
UNIGRAM_VOCAB = {
    **{c: 3.0 for c in " abcdefghijklmnopqrstuvwxyz0123456789"},
    **{p: 4.5 for p in UNIGRAM_PIECES2},
    **{p: 5.5 for p in UNIGRAM_PIECES3},
}


def q_unigram_segment_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-family) Viterbi segmentation of every
    document under the declared piece-cost table: minimal total cost
    and its piece count, via the VECTORIZED batch DP
    (operators/unigram.py: viterbi_cost_df — position-stepped numpy
    over Arrow batches, the batch-decoder shape; the exact pure-JVM
    aggregate twin exists as viterbi_cost and is pinned equal in
    tests, but Spark interprets higher-order lambdas per character:
    41 s vs ~3 s at sf0.1). The oracle replays the DP with a
    recursive CTE. Costs are binary-exact literals, so path sums are
    exact doubles — a hash match proves the dynamic program, arm
    pruning, and (cost, fewer-pieces) tie-break step for step."""
    from sandbox_data_pipeline_spark.operators.unigram import (
        viterbi_cost_df,
    )

    d = table(spark, sf_dir, "documents")
    return viterbi_cost_df(d, UNIGRAM_VOCAB, max_piece=3)


def _oracle_unigram() -> str:
    def case_for(j: int, start: str) -> str:
        items = sorted(
            (p, c) for p, c in UNIGRAM_VOCAB.items() if len(p) == j
        )
        whens = " ".join(
            f"WHEN '{p}' THEN {c!r}" for p, c in items
        )
        default = "20.0" if j == 1 else "1000000000.0"
        return f"CASE substr(text, {start}, {j}) {whens} ELSE {default} END"

    def arm(j: int) -> str:
        start = {1: "i + 1", 2: "i", 3: "i - 1"}[j]
        return (
            f"CASE WHEN i + 1 >= {j} THEN struct_pack("
            f"c := best[i + 2 - {j}].c + CAST(({case_for(j, start)}) AS DOUBLE), "
            f"n := best[i + 2 - {j}].n + 1) END"
        )

    a1, a2, a3 = arm(1), arm(2), arm(3)
    b2 = (
        f"CASE WHEN ({a2}) IS NOT NULL AND (({a2}).c < ({a1}).c OR "
        f"(({a2}).c = ({a1}).c AND ({a2}).n < ({a1}).n)) "
        f"THEN ({a2}) ELSE ({a1}) END"
    )
    b3 = (
        f"CASE WHEN ({a3}) IS NOT NULL AND (({a3}).c < ({b2}).c OR "
        f"(({a3}).c = ({b2}).c AND ({a3}).n < ({b2}).n)) "
        f"THEN ({a3}) ELSE ({b2}) END"
    )
    return f"""
WITH RECURSIVE d AS (
  SELECT doc_id, text, length(text) AS L FROM documents
),
vit AS (
  SELECT doc_id, text, L, 0 AS i,
         [struct_pack(c := CAST(0.0 AS DOUBLE), n := 0)] AS best
  FROM d
  UNION ALL
  SELECT doc_id, text, L, i + 1, list_append(best, {b3})
  FROM vit WHERE i < L
)
SELECT doc_id, CAST(L AS BIGINT) AS n_chars,
       round(best[L + 1].c, 2) AS seg_cost,
       CAST(best[L + 1].n AS INTEGER) AS n_pieces
FROM vit WHERE i = L
"""


QUERIES["q_unigram_segment_cost"] = q_unigram_segment_cost
ORACLE["q_unigram_segment_cost"] = _oracle_unigram()


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped quality classifier, trained DISTRIBUTED with 16
    fixed diagonally-preconditioned gradient steps in exact 2^-20
    fixed-point arithmetic (operators/quality.py): hashed-token count
    features (portable md5 buckets — no vocabulary pass), stopword-
    density rule labels, hard-sigmoid residuals, integer gradient sums
    (association-free), ONE bounded (J+2)-row collect per step for the
    driver weight fold. Output: the per-source integer confusion of
    the trained scorer vs the rule labels. The oracle replays the
    identical 16-step iteration as an unrolled CTE chain — exactness
    is the point: floats would drift across engines; integers cannot."""
    from sandbox_data_pipeline_spark.operators.quality import (
        quality_classifier_report,
    )

    return quality_classifier_report(table(spark, sf_dir, "documents"))


def _oracle_quality_classifier(iters: int = 16) -> str:
    from sandbox_data_pipeline_spark.operators.quality import (
        Q_BIAS,
        Q_BUCKETS,
        Q_HALF,
        Q_LABEL_NUM,
        Q_NFEATS,
        Q_NTOK,
        Q_SCALE,
        Q_STEP_NUM,
    )

    steps = []
    prev = "w0"
    for k in range(1, iters + 1):
        steps.append(
            f"""z{k} AS (
  SELECT f.doc_id, sum(w.w * f.cnt) AS z
  FROM feats f JOIN {prev} w USING (j) GROUP BY 1
),
r{k} AS MATERIALIZED (
  SELECT z.doc_id,
         GREATEST(CAST(0 AS BIGINT),
                  LEAST(CAST({Q_SCALE} AS BIGINT),
                        {Q_HALF} + CAST(floor(z / 4.0) AS BIGINT)))
           - l.y * {Q_SCALE} AS r
  FROM z{k} z JOIN lab l USING (doc_id)
),
g{k} AS (
  SELECT f.j, sum(r.r * f.cnt) AS g
  FROM feats f JOIN r{k} r USING (doc_id) GROUP BY 1
),
w{k} AS MATERIALIZED (
  SELECT w.j,
         w.w - CAST(floor(CAST(coalesce(g.g, 0) AS DOUBLE) * {Q_STEP_NUM}
                          / coalesce(s.ss, 1)) AS BIGINT) AS w
  FROM {prev} w
  LEFT JOIN g{k} g USING (j)
  LEFT JOIN ssq s USING (j)
)"""
        )
        prev = f"w{k}"
    chain = ",\n".join(steps)
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
),
tok AS (SELECT doc_id, unnest(t) AS tk FROM d),
fh AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5('qc' || tk), 1, 15) AS BIGINT)
              % {Q_BUCKETS} AS INTEGER) AS j,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2
),
feats AS MATERIALIZED (
  SELECT * FROM fh
  UNION ALL
  SELECT doc_id, {Q_NTOK}, CAST(len(t) AS BIGINT) FROM d
  UNION ALL
  SELECT doc_id, {Q_BIAS}, CAST(1 AS BIGINT) FROM d
),
lab AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(list_filter(t, x -> x = 'the')) * {Q_LABEL_NUM}
                   >= len(t)
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
  FROM d
),
ssq AS MATERIALIZED (
  SELECT j,
         GREATEST(CAST(1 AS BIGINT), CAST(sum(cnt * cnt) AS BIGINT)) AS ss
  FROM feats GROUP BY 1
),
w0 AS (
  SELECT CAST(r.range AS INTEGER) AS j, CAST(0 AS BIGINT) AS w
  FROM range(0, {Q_NFEATS}) r
),
{chain},
scored AS (
  SELECT f.doc_id, CASE WHEN sum(w.w * f.cnt) >= 0 THEN 1 ELSE 0 END AS pred
  FROM feats f JOIN {prev} w USING (j) GROUP BY 1
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(l.y) AS BIGINT) AS n_label_pos,
       CAST(sum(s.pred) AS BIGINT) AS n_pred_pos,
       CAST(sum(CASE WHEN s.pred = l.y THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM d
JOIN lab l USING (doc_id)
JOIN scored s USING (doc_id)
GROUP BY 1
"""


QUERIES["q_quality_classifier"] = q_quality_classifier
ORACLE["q_quality_classifier"] = _oracle_quality_classifier()


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style per-source mixture reweighting (Xie et al. 2023,
    simplified): 5 fixed multiplicative-weights iterations driven by
    per-source EXCESS unigram cross-entropy over the current weighted
    mixture average (operators/quality.py: doremi_weights). The proxy
    loss is quantized to integer 1e-4 bits once; from there every
    update is exact integer / power-of-two-double arithmetic, so the
    oracle's unrolled CTE replay matches hash-for-hash. Driver state:
    one integer per source. Extends q_mixture_weights /
    q_temperature_mixture with the excess-loss feedback loop."""
    from sandbox_data_pipeline_spark.operators.quality import doremi_weights

    return doremi_weights(table(spark, sf_dir, "documents"))


def _oracle_doremi(iters: int = 5) -> str:
    steps = []
    prev = "m0"
    for k in range(1, iters + 1):
        steps.append(
            f"""a{k} AS (
  SELECT CAST(floor(CAST(sum(m * loss_e4) AS DOUBLE) / sum(m)) AS BIGINT)
           AS avgl
  FROM {prev}
),
m{k} AS MATERIALIZED (
  SELECT source, loss_e4,
         CAST(floor(m * (1048576 +
                         GREATEST(CAST(0 AS BIGINT), loss_e4 - a.avgl))
                    / 1048576.0) AS BIGINT) AS m
  FROM {prev} CROSS JOIN a{k} a
)"""
        )
        prev = f"m{k}"
    chain = ",\n".join(steps)
    return f"""
WITH d AS MATERIALIZED (
  SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
),
tok AS MATERIALIZED (SELECT source, unnest(t) AS tok FROM d),
vocab AS MATERIALIZED (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM vocab),
m0 AS MATERIALIZED (
  SELECT source,
         CAST(round(avg(-log2(cnt / total)) * 10000) AS BIGINT) AS loss_e4,
         CAST(1048576 AS BIGINT) AS m
  FROM tok JOIN vocab USING (tok) CROSS JOIN tot
  GROUP BY source
),
{chain}
SELECT source, loss_e4,
       CAST(floor(CAST(m AS DOUBLE) * 1000000.0 / t.total_m) AS BIGINT)
         AS weight_ppm
FROM {prev}
CROSS JOIN (SELECT sum(m) AS total_m FROM {prev}) t
"""


QUERIES["q_doremi_weights"] = q_doremi_weights
ORACLE["q_doremi_weights"] = _oracle_doremi()


RHO_SELECT_PCT = 25  # keep the top quarter by excess loss


def q_rholoss_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss-style data selection (Mindermann et al. 2022,
    simplified): score every document by its EXCESS loss — per-doc
    unigram cross-entropy minus its source's mean — and keep the top
    25%. Docs that are hard for the corpus-trained reference model
    *relative to their domain* are the learnable ones; easy/duplicate
    docs (low excess) and domain-wide-hard noise (absorbed by the
    source mean) both rank down. Completes the curation trio with
    q_quality_classifier (rule mimic) and q_doremi_weights
    (domain weights).

    Determinism: excess is rounded to 1e-4 bits BEFORE ranking and
    ties break on doc_id, so the selected set is identical across
    engines and partitionings (raw doubles differ in final ulps;
    ranking on them would flip near-ties). The global cutoff
    k = floor(N / 4) is exact. Output: per-source selected count and
    mean excess of the selected docs. Distributed shape: one vocab
    aggregate, one join, one source mean, then the top-k selection via
    the TWO-PHASE range rank (stable_global_ids_with_count: range
    repartition on (-excess, doc_id), partition-local row_number +
    broadcast prefix offsets — no single-partition window anywhere;
    N falls out of the offsets collect for free, so the cutoff costs
    no extra job). The oracle keeps plain row_number: DuckDB sorts a
    test-scale frame, this plan must survive a 100 TB one."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != F.lit(""))
            ).alias("tok"),
        )
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("total"))
    doc_bits = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.avg(-F.log2(F.col("cnt") / F.col("total"))) * 10000
            )
            .cast("long")
            .alias("bits_e4")
        )
    )
    src_mean = doc_bits.groupBy("source").agg(
        # exact integer mean, floored — replayable
        F.floor(
            F.sum("bits_e4").cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("src_bits_e4")
    )
    scored = doc_bits.join(src_mean, "source").select(
        "doc_id",
        "source",
        (F.col("bits_e4") - F.col("src_bits_e4")).alias("excess_e4"),
    )
    from sandbox_data_pipeline_spark.operators.ids import (
        stable_global_ids_with_count,
    )

    ranked, n = stable_global_ids_with_count(
        scored.withColumn("_neg_excess", -F.col("excess_e4")),
        ["_neg_excess", "doc_id"],
        out="_rn",
    )
    k = n * RHO_SELECT_PCT // 100
    picked = ranked.where(F.col("_rn") < k)
    return picked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("excess_e4").alias("sum_excess_e4"),
    )


ORACLE["q_rholoss_select"] = f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM vocab),
doc_bits AS (
  SELECT doc_id, source,
         CAST(round(avg(-log2(cnt / total)) * 10000) AS BIGINT) AS bits_e4
  FROM toks JOIN vocab USING (tok) CROSS JOIN tot
  GROUP BY 1, 2
),
src_mean AS (
  SELECT source,
         CAST(floor(CAST(sum(bits_e4) AS DOUBLE) / count(*)) AS BIGINT)
           AS src_bits_e4
  FROM doc_bits GROUP BY 1
),
scored AS (
  SELECT d.doc_id, d.source, d.bits_e4 - m.src_bits_e4 AS excess_e4
  FROM doc_bits d JOIN src_mean m USING (source)
),
k AS (SELECT count(*) * {RHO_SELECT_PCT} // 100 AS k FROM scored),
picked AS (
  SELECT * FROM (
    SELECT s.*, row_number() OVER (ORDER BY excess_e4 DESC, doc_id) AS rn
    FROM scored s
  ) CROSS JOIN k WHERE rn <= k.k
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(excess_e4) AS BIGINT) AS sum_excess_e4
FROM picked GROUP BY 1
"""
QUERIES["q_rholoss_select"] = q_rholoss_select


def q_kneser_ney_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an interpolated Kneser-Ney
    bigram LM (D = 0.75) trained on the corpus — the KenLM-style
    quality filter (Heafield 2011; CCNet scores docs exactly this
    way). Upgrades q_bigram_perplexity's Laplace smoothing with the
    continuation-probability backoff that makes KN the standard:
    p(w2|w1) = max(c12-D,0)/c1 + (D*N1+(w1,.)/c1) * N1+(.,w2)/B.

    Every model statistic is an exact integer (bigram counts, distinct
    continuation/context counts, total bigram types B); the per-doc
    -ln p cumulant is the ordered positional fold read at MAX (terms
    positive). Shuffles: bigram/unigram count aggregates on uniform
    token keys + joins back to the positional stream; B is a broadcast
    scalar. Same plan family as q_bigram_perplexity -> survives 100x
    the same way."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "w1"))
    wnext = Window.partitionBy("doc_id").orderBy("p")
    big = (
        pos.withColumn("w2", F.lead("w1").over(wnext))
        .where(F.col("w2").isNotNull())
        .select("doc_id", "p", "w1", "w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    nf = c12.groupBy("w1").agg(F.count(F.lit(1)).alias("nf"))
    nb = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("nb"))
    btot = c12.agg(F.count(F.lit(1)).alias("b"))
    p_kn = (
        F.greatest(F.col("c12").cast("double") - F.lit(0.75), F.lit(0.0))
        / F.col("c1")
        + (F.lit(0.75) * F.col("nf") / F.col("c1"))
        * (F.col("nb").cast("double") / F.col("b"))
    )
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(nf, "w1")
        .join(nb, "w2")
        .crossJoin(F.broadcast(btot))
        .withColumn("nll", -F.log(p_kn))
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = scored.select(
        "doc_id", F.sum("nll").over(wcum).alias("cnll")
    )
    agg = cum.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.max("cnll").alias("snll")
    )
    return agg.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        stable_round(F.col("snll") / F.col("n_bigrams"), 6).alias("kn_cross_entropy"),
    )


ORACLE["q_kneser_ney_bits"] = f"""
WITH lists AS (
  SELECT doc_id, {_TOK_SPLIT_SQL} AS l FROM documents
),
big AS (
  SELECT doc_id, CAST(i.range AS INTEGER) AS p,
         l[CAST(i.range AS INTEGER)] AS w1,
         l[CAST(i.range AS INTEGER) + 1] AS w2
  FROM lists CROSS JOIN range(1, 4096) i
  WHERE i.range < len(l)
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
nf AS (SELECT w1, count(*) AS nf FROM c12 GROUP BY 1),
nb AS (SELECT w2, count(*) AS nb FROM c12 GROUP BY 1),
btot AS (SELECT count(*) AS b FROM c12),
scored AS (
  SELECT bg.doc_id, bg.p,
         -ln(
           greatest(CAST(x.c12 AS DOUBLE) - 0.75, 0.0) / y.c1
           + (0.75 * f.nf / y.c1) * (CAST(k.nb AS DOUBLE) / btot.b)
         ) AS nll
  FROM big bg
  JOIN c12 x ON x.w1 = bg.w1 AND x.w2 = bg.w2
  JOIN c1 y ON y.w1 = bg.w1
  JOIN nf f ON f.w1 = bg.w1
  JOIN nb k ON k.w2 = bg.w2
  CROSS JOIN btot
),
cum AS (
  SELECT doc_id,
         sum(nll) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS cnll
  FROM scored
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, max(cnll) AS snll
  FROM cum GROUP BY 1
)
SELECT doc_id, n_bigrams,
       (floor((snll / n_bigrams) * 1000000.0 + 0.5) / 1000000.0)
         AS kn_cross_entropy
FROM agg
"""
QUERIES["q_kneser_ney_bits"] = q_kneser_ney_bits


def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes text classifier, trained and scored
    fully distributed, reported as a confusion matrix against a
    planted token concept (docs with >= 2 'join' tokens — the corpus
    langs share one vocabulary, so `lang` is deliberately NOT the
    target: a planted in-vocabulary concept is what proves the
    classifier learns). The count-based generative twin of
    q_quality_classifier's discriminative GD: train = ONE groupBy
    over tokens (per-class occurrence counts), model = token-keyed
    frame joined back map-side, score = ordered positional cumulant of
    exact log-likelihood-ratio terms read at the last position via
    max_by (terms are signed, so MAX of the cumulant would be wrong).

    Scale: token-keyed aggregates and joins (uniform keys), one
    broadcast scalar frame (class totals + vocab + priors). Nothing
    wider than the token vocabulary shuffles; no UDF."""
    d = table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    y = (
        F.size(F.filter(toks_arr, lambda t: t == F.lit("join"))) >= 2
    ).cast("int")
    # r12: materialize the token array + label in a projection and
    # posexplode the COLUMN — generating straight off the
    # filter(split(...)) expression with a sibling expression over the
    # same array re-evaluated the tokenization per emitted row
    # (measured 2.2 s → 0.35 s for the explode stage at sf0.1; the
    # rows are identical by construction).
    toks = d.select(
        "doc_id", y.alias("y"), toks_arr.alias("_a")
    ).select("doc_id", "y", F.posexplode("_a").alias("p", "t"))
    cls = toks.groupBy("t").agg(
        F.sum("y").alias("ct1"),
        F.sum(F.lit(1) - F.col("y")).alias("ct0"),
    )
    tot = cls.agg(
        F.sum("ct1").alias("t1"),
        F.sum("ct0").alias("t0"),
        F.count(F.lit(1)).alias("v"),
    )
    pri = d.agg(
        F.sum(y).alias("d1"),
        F.sum(F.lit(1) - y).alias("d0"),
    )
    llr = F.log(
        (F.col("ct1") + F.lit(1)).cast("double") / (F.col("t1") + F.col("v"))
    ) - F.log(
        (F.col("ct0") + F.lit(1)).cast("double") / (F.col("t0") + F.col("v"))
    )
    scored = (
        toks.join(cls, "t")
        .crossJoin(F.broadcast(tot))
        .withColumn("w", llr)
    )
    # deterministic positional sum (r12): fold the per-doc terms in
    # ascending position order with ONE groupBy — arithmetic order is
    # bit-identical to the former running-cumulant window read at the
    # last position, without the window's doc_id sort pass (plan:
    # Exchange+Sort+Window+max_by-agg -> Exchange+objagg fold).
    per_doc = scored.groupBy("doc_id", "y").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("p", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("s")
    )
    pred = per_doc.crossJoin(F.broadcast(pri)).select(
        "y",
        F.when(
            F.col("s")
            + F.log(F.col("d1").cast("double") / F.col("d0"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("pred"),
    )
    return pred.groupBy("y", "pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        F.col("y").cast("long").alias("label"),
        F.col("pred").cast("long").alias("pred"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


ORACLE["q_naive_bayes"] = f"""
WITH lists AS (
  SELECT doc_id,
         CASE WHEN len(list_filter({_TOK_SPLIT_SQL}, x -> x = 'join')) >= 2
              THEN 1 ELSE 0 END AS y,
         {_TOK_SPLIT_SQL} AS l
  FROM documents
),
toks AS (
  SELECT doc_id, y, CAST(i.range AS INTEGER) AS p,
         l[CAST(i.range AS INTEGER)] AS t
  FROM lists CROSS JOIN range(1, 4096) i
  WHERE i.range <= len(l)
),
cls AS (
  SELECT t, sum(y) AS ct1, sum(1 - y) AS ct0 FROM toks GROUP BY 1
),
tot AS (
  SELECT sum(ct1) AS t1, sum(ct0) AS t0, count(*) AS v FROM cls
),
pri AS (
  SELECT sum(y) AS d1, sum(1 - y) AS d0 FROM lists
),
scored AS (
  SELECT k.doc_id, k.y, k.p,
         ln(CAST(c.ct1 + 1 AS DOUBLE) / (tot.t1 + tot.v))
         - ln(CAST(c.ct0 + 1 AS DOUBLE) / (tot.t0 + tot.v)) AS w
  FROM toks k
  JOIN cls c ON c.t = k.t
  CROSS JOIN tot
),
cum AS (
  SELECT doc_id, y, p,
         sum(w) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS cw
  FROM scored
),
per_doc AS (
  SELECT doc_id, y, max_by(cw, p) AS s FROM cum GROUP BY 1, 2
),
pred AS (
  SELECT y,
         CASE WHEN s + ln(CAST(pri.d1 AS DOUBLE) / pri.d0) > 0
              THEN 1 ELSE 0 END AS pred
  FROM per_doc CROSS JOIN pri
)
SELECT CAST(y AS BIGINT) AS label, CAST(pred AS BIGINT) AS pred,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
"""
QUERIES["q_naive_bayes"] = q_naive_bayes


RBO_K = 20
RBO_P = 0.9


def q_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two top-k doc
    rankings — the top-weighted, non-conjoint ranking-agreement metric
    an eval harness should use where Kendall/Spearman assume full
    conjoint lists. Ranking A = docs by char length, ranking B = docs
    by whitespace token count (correlated but not identical — exactly
    RBO's regime); output is the per-depth overlap curve and the
    cumulative RBO_min partial sum, whose last row is RBO@k.

    Scale: each ranking is a TakeOrderedAndProject top-k (per-
    partition heaps, no global sort); everything downstream runs on
    k-bounded frames. Overlap counts are exact integers; the p^(d-1)
    weights ride one cumulative ordered fold (terms nonnegative, read
    per-depth)."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    base = d.select("doc_id", "n_chars", F.size(toks).alias("n_toks"))
    top_a = base.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(RBO_K)
    top_b = base.orderBy(F.desc("n_toks"), F.asc("doc_id")).limit(RBO_K)
    ra = top_a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("ra"),
    )
    rb = top_b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("n_toks"), F.asc("doc_id")))
        .alias("rb"),
    )
    matched = ra.join(rb, "doc_id")
    depths = spark.range(1, RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    ov = (
        depths.crossJoin(F.broadcast(matched))
        .groupBy("d")
        .agg(
            F.sum(
                F.when(
                    (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), 1
                ).otherwise(0)
            ).alias("n_common")
        )
    )
    # depths with zero matches drop out of the groupBy input only if
    # matched is empty; re-anchor on the full depth range.
    ov_full = depths.join(ov, "d", "left").select(
        "d", F.coalesce("n_common", F.lit(0)).alias("n_common")
    )
    term = (
        F.pow(F.lit(RBO_P), F.col("d") - 1)
        * F.col("n_common").cast("double")
        / F.col("d")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return ov_full.select(
        F.col("d").cast("long").alias("depth"),
        F.col("n_common").cast("long").alias("n_common"),
        stable_round(
            F.lit(1.0 - RBO_P) * F.sum(term).over(wcum), 6
        ).alias("rbo_partial"),
    )


ORACLE["q_rbo_rankings"] = f"""
WITH base AS (
  SELECT doc_id, n_chars,
         len({_TOK_SPLIT_SQL}) AS n_toks
  FROM documents
),
ra AS (
  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS ra
  FROM base ORDER BY n_chars DESC, doc_id LIMIT {RBO_K}
),
rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY n_toks DESC, doc_id) AS rb
  FROM base ORDER BY n_toks DESC, doc_id LIMIT {RBO_K}
),
matched AS (
  SELECT ra.doc_id, ra.ra, rb.rb FROM ra JOIN rb ON ra.doc_id = rb.doc_id
),
depths AS (SELECT CAST(i.range AS INTEGER) AS d FROM range(1, {RBO_K + 1}) i),
ov AS (
  SELECT depths.d,
         coalesce(sum(CASE WHEN m.ra <= depths.d AND m.rb <= depths.d
                           THEN 1 ELSE 0 END), 0) AS n_common
  FROM depths LEFT JOIN matched m ON true
  GROUP BY 1
)
SELECT CAST(d AS BIGINT) AS depth,
       CAST(n_common AS BIGINT) AS n_common,
       {stable_round_sql(
           '(1.0 - ' + repr(RBO_P) + ') * sum(pow(' + repr(RBO_P)
           + ', d - 1) * CAST(n_common AS DOUBLE) / d)'
           ' OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)', 6)}
         AS rbo_partial
FROM ov
"""
QUERIES["q_rbo_rankings"] = q_rbo_rankings


PHRASE = ("table", "hash")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase query — the exact-phrase AND that a
    bag-of-words inverted index (q_inverted_index) cannot answer:
    intersect the two terms' posting lists on (doc_id, position+1).
    Output per matching doc: occurrence count and first hit position.

    Scale: each posting list is one filtered projection of the
    positional token stream (predicate pushed to the scan of the
    term column after the explode); the intersection is an equi-join
    keyed by (doc_id, position) — posting-list-sized, never
    corpus-sized. This is how a distributed search engine executes
    phrase queries over a positional index."""
    w1, w2 = PHRASE
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "t"))
    p1 = pos.where(F.col("t") == w1).select("doc_id", F.col("p").alias("p1"))
    p2 = pos.where(F.col("t") == w2).select("doc_id", F.col("p").alias("p2"))
    hits = p1.join(
        p2,
        (p1.doc_id == p2.doc_id) & (F.col("p2") == F.col("p1") + 1),
    ).select(p1.doc_id, "p1")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        # 1-based position to match the oracle's range() indexing
        (F.min("p1") + 1).cast("long").alias("first_pos"),
    )


ORACLE["q_phrase_search"] = f"""
WITH lists AS (
  SELECT doc_id, {_TOK_SPLIT_SQL} AS l FROM documents
),
pos AS (
  SELECT doc_id, CAST(i.range AS INTEGER) AS p,
         l[CAST(i.range AS INTEGER)] AS t
  FROM lists CROSS JOIN range(1, 4096) i
  WHERE i.range <= len(l)
),
p1 AS (SELECT doc_id, p AS p1 FROM pos WHERE t = '{PHRASE[0]}'),
p2 AS (SELECT doc_id, p AS p2 FROM pos WHERE t = '{PHRASE[1]}')
SELECT p1.doc_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(min(p1.p1) AS BIGINT) AS first_pos
FROM p1 JOIN p2 ON p2.doc_id = p1.doc_id AND p2.p2 = p1.p1 + 1
GROUP BY 1
"""
QUERIES["q_phrase_search"] = q_phrase_search


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of document lengths — the
    batch-effect correction (Bolstad et al. 2003, expression arrays;
    the same trick normalizes per-source length distributions before
    mixing training data): rank within source, replace each value
    with the cross-source mean at that rank.

    One window rank per source (partitioned — no global window), one
    rank-keyed aggregate; rank keys are uniform by construction.
    Exact: ranks are integers (ties broken by doc_id), the rank mean
    is an exact integer ratio (dec_ratio)."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "doc_id", "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    means = ranked.groupBy("rk").agg(
        F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("c")
    )
    return ranked.join(means, "rk").select(
        "doc_id",
        "source",
        F.col("rk").cast("long").alias("rk"),
        F.col("n_chars").cast("long").alias("n_chars"),
        dec_ratio(F.col("s").cast("decimal(18,0)"), F.col("c"), 0, 4).alias(
            "norm_chars"
        ),
    )


ORACLE["q_quantile_normalize"] = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk
  FROM documents
),
means AS (
  SELECT rk, sum(n_chars) AS s, count(*) AS c FROM ranked GROUP BY 1
)
SELECT r.doc_id, r.source,
       CAST(r.rk AS BIGINT) AS rk,
       CAST(r.n_chars AS BIGINT) AS n_chars,
       {dec_ratio_sql('m.s', 'm.c', 0, 4)} AS norm_chars
FROM ranked r JOIN means m ON m.rk = r.rk
"""
QUERIES["q_quantile_normalize"] = q_quantile_normalize


COVERAGE_K = 10


def _coverage_greedy_local(k: int):
    """mapInPandas body: the full greedy over one task's (doc_id, t)
    rows. Vectorized: per round one bincount argmax + covered-mask
    update; integer exact, so selection order and gains are identical
    to the distributed rounds."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        docs_c, toks_c = [], []
        for pdf in batches:
            if len(pdf):
                docs_c.append(pdf["doc_id"].to_numpy())
                toks_c.append(pdf["t"].to_numpy())
        if not docs_c:
            return
        doc = np.concatenate(docs_c)
        tok_code, _ = pd.factorize(np.concatenate(toks_c))  # exact, no hashing
        n_tok_types = int(tok_code.max()) + 1
        # dense doc indices for bincount; doc_ids map back at the end
        doc_ids, doc_idx = np.unique(doc, return_inverse=True)
        uncovered_row = np.ones(len(doc), dtype=bool)
        covered_tok = np.zeros(n_tok_types, dtype=bool)
        rows = []
        coverage = 0
        for r in range(1, k + 1):
            gains = np.bincount(doc_idx[uncovered_row], minlength=len(doc_ids))
            best = int(np.argmax(gains))  # argmax returns FIRST max =
            g = int(gains[best])  # min doc_id on ties (doc_ids sorted)
            if g == 0:
                break
            newly = tok_code[uncovered_row & (doc_idx == best)]
            covered_tok[newly] = True
            uncovered_row &= ~covered_tok[tok_code]
            coverage += g
            rows.append((r, int(doc_ids[best]), g, coverage))
        yield pd.DataFrame(
            rows, columns=["sel_order", "doc_id", "gain", "cum_coverage"]
        ).astype("int64")

    return fn


def _coverage_candidates(tok: DataFrame, selected: list) -> DataFrame:
    """One greedy round's gain frame: drop already-picked docs (K ids
    max — a literal predicate stays tiny forever) and already-covered
    tokens. The covered set never touches the driver AT ALL (round-11
    rework): it is the broadcast SUBQUERY `tok where doc_id in
    selected` over the cached token frame — the same constant-size
    plan the round-9 verdict asked for (no K x doc-length literal
    list), minus round 10's per-round driver round-trip (collect the
    winner's tokens, re-ship them via createDataFrame), which the
    round-11 re-bench root-caused as the 1.35x flagship-normalized
    regression. Executor-side covered + 1-row argmax collect measured
    7.5s vs 10.2s for the K rounds at sf0.1, identical selection."""
    if not selected:
        return tok
    covered = tok.where(F.col("doc_id").isin(selected)).select("t")
    return tok.where(~F.col("doc_id").isin(selected)).join(
        F.broadcast(covered), "t", "left_anti"
    )


def q_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection: pick K documents that
    together cover the most vocabulary, one greedy argmax at a time —
    the classic (1-1/e)-approximate facility-location selector used
    for diversity-driven training-data curation (coreset/submodular
    selection). Output: selection order, the chosen doc, its marginal
    gain (newly covered types), and the running coverage.

    Scale: per round, ONE broadcast LEFT ANTI join against the
    covered-tokens frame — the broadcast SUBQUERY `tok where doc_id in
    selected` over the cached token frame (bounded by K x doc length,
    broadcastable at any corpus size; the plan carries only the <= K
    literal doc ids, so it stays constant-size) + ONE TakeOrdered(1)
    argmax whose single row is the ONLY per-round driver transfer.
    Driver state is just the selected ids and the running coverage
    (cum_coverage = running sum of gains — each gain IS the newly
    covered count, so no token ever crosses to the driver).
    K rounds = K 1-row collects, corpus touched only through the
    distinct (doc, token) frame. The oracle replays the identical K
    unrolled greedy rounds. Docs whose tokens are fully covered cannot
    be re-picked (they leave the gain frame); ties break on min
    doc_id."""
    from sandbox_data_pipeline_spark.operators.dedup import word_shingles

    d = table(spark, sf_dir, "documents")
    # coverage universe = word BIGRAMS: the synthetic corpus has a
    # ~31-word vocabulary, so unigram coverage saturates in one pick;
    # bigram types (~|V|^2 realized) keep the greedy non-degenerate,
    # and bigram coverage is the better curation signal anyway.
    # r12: built via word_shingles(n=2) — the indexed _toks[i+j] form
    # tokenizes each text ONCE; the previous element_at(toks, i)
    # lambdas re-evaluated the split per element, O(len²) per doc
    # (measured 5.1 s → 1.8 s for the build at sf0.1; identical row
    # set, exceptAll-verified both directions).
    tok = (
        word_shingles(d, n=2)
        .select("doc_id", F.col("shingle").alias("t"))
        .persist()
    )
    if fits_local("coverage_rows", tok.count()):
        # capped local solve (r12): the whole greedy in ONE task —
        # K Spark rounds of anti-join + groupBy + argmax collapse to
        # one mapInPandas job (same argmax, same min-doc_id
        # tie-break); result rows come back as the frame. Above the
        # cap the distributed per-round loop below runs unchanged.
        out = cut(
            tok.repartition(1)
            .mapInPandas(
                _coverage_greedy_local(COVERAGE_K),
                "sel_order long, doc_id long, gain long, cum_coverage long",
            )
        )
        tok.unpersist()
        return out
    selected: list = []
    rows = []
    coverage = 0
    try:
        for r in range(1, COVERAGE_K + 1):
            top = (
                _coverage_candidates(tok, selected)
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("g"))
                .orderBy(F.desc("g"), F.asc("doc_id"))
                .limit(1)
                .collect()  # 1-row argmax — the only per-round transfer
            )
            if not top:
                break
            doc, gain = top[0]["doc_id"], top[0]["g"]
            coverage += gain  # marginal gain IS the newly covered count
            selected.append(doc)
            rows.append((r, doc, gain, coverage))
    finally:
        # unpersist-on-return: the result is driver rows with no
        # lineage on the token frame, so the cache releases here and
        # composed callers never accumulate it
        tok.unpersist()
    return spark.createDataFrame(
        rows, "sel_order: long, doc_id: long, gain: long, cum_coverage: long"
    )


def _oracle_coverage_greedy() -> str:
    parts = [
        """lists AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
tok AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         l[CAST(i.range AS INTEGER)] || ' '
           || l[CAST(i.range AS INTEGER) + 1] AS t
  FROM lists CROSS JOIN range(1, 4096) i
  WHERE i.range < len(l)
)"""
    ]
    sel_union = []
    prev_cov = None
    prev_sels = []
    for r in range(1, COVERAGE_K + 1):
        conds = []
        if prev_sels:
            sel_list = " UNION ALL ".join(
                f"SELECT doc_id FROM r{k}" for k in prev_sels
            )
            conds.append(f"doc_id NOT IN ({sel_list})")
        if prev_cov:
            conds.append(f"t NOT IN (SELECT t FROM {prev_cov})")
        where = ("WHERE " + " AND ".join(conds)) if conds else ""
        parts.append(
            f"""r{r} AS MATERIALIZED (
  SELECT doc_id, count(*) AS g FROM tok {where}
  GROUP BY 1 ORDER BY g DESC, doc_id LIMIT 1
)"""
        )
        cov_prev_sel = (
            f"SELECT t FROM {prev_cov} UNION " if prev_cov else ""
        )
        parts.append(
            f"""cov{r} AS MATERIALIZED (
  {cov_prev_sel}SELECT DISTINCT tok.t FROM tok JOIN r{r} USING (doc_id)
)"""
        )
        sel_union.append(
            f"SELECT {r} AS sel_order, doc_id, g AS gain, "
            f"(SELECT count(*) FROM cov{r}) AS cum_coverage FROM r{r}"
        )
        prev_cov = f"cov{r}"
        prev_sels.append(r)
    chain = ",\n".join(parts)
    union = "\nUNION ALL\n".join(sel_union)
    return f"""
WITH {chain}
SELECT CAST(sel_order AS BIGINT) AS sel_order,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(gain AS BIGINT) AS gain,
       CAST(cum_coverage AS BIGINT) AS cum_coverage
FROM ({union})
"""


ORACLE["q_coverage_greedy"] = _oracle_coverage_greedy()
QUERIES["q_coverage_greedy"] = q_coverage_greedy


MAP_QUERIES = ("scan", "merge", "sort")  # ranking signal terms
MAP_REL_TERM = "join"  # relevance ground-truth term
MAP_K = 20


def q_map_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@k and MRR — the two rank-eval metrics q_ndcg_at_k doesn't
    cover (binary-relevance mean precision and first-hit reciprocal
    rank). Three retrieval runs (rank docs by tf of a signal term,
    ties by doc_id) are scored against one binary relevance oracle
    (docs with >= 2 occurrences of a held-out term) — deliberately
    decorrelated signals so AP lands strictly inside (0, 1).

    AP@k = sum_j rel_j * (cum_rel_j / j) / min(R, k); MRR = 1 / rank
    of first relevant. Scale: per run, a token-count aggregate + a
    TakeOrdered top-k; scoring folds run on k-bounded frames. All
    inputs are exact integer counts and ratios of them."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    def _tf(term: str):
        # NOTE: a closure via `def`, not a default-arg lambda — a
        # two-parameter lambda would bind Spark's (element, index)
        # HOF signature.
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    base = d.select(
        "doc_id",
        *[_tf(q).alias(f"tf_{q}") for q in MAP_QUERIES],
        (
            F.size(F.filter(toks, lambda t: t == F.lit(MAP_REL_TERM))) >= 2
        )
        .cast("int")
        .alias("rel"),
    )
    rtot = base.agg(F.sum("rel").alias("r_tot"))
    outs = []
    for q in MAP_QUERIES:
        topk = (
            base.select("doc_id", F.col(f"tf_{q}").alias("tf"), "rel")
            .orderBy(F.desc("tf"), F.asc("doc_id"))
            .limit(MAP_K)
        )
        wr = Window.orderBy(F.desc("tf"), F.asc("doc_id"))
        ranked = topk.select(
            "rel",
            F.row_number().over(wr).alias("rk"),
        )
        wc = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
        with_cum = ranked.select(
            "rk", "rel", F.sum("rel").over(wc).alias("cum_rel")
        )
        scored = with_cum.select(
            "rk", "rel", "cum_rel",
            F.sum(
                F.col("rel").cast("double")
                * (F.col("cum_rel").cast("double") / F.col("rk"))
            )
            .over(wc)
            .alias("cum_ap"),
            F.min(F.when(F.col("rel") == 1, F.col("rk")))
            .over(wc)
            .alias("first_rel"),
        )
        agg = scored.agg(
            F.max("cum_rel").alias("rel_at_k"),
            F.max("cum_ap").alias("ap_num"),
            F.min("first_rel").alias("first_rel"),
        )
        outs.append(
            agg.crossJoin(F.broadcast(rtot)).select(
                F.lit(q).alias("query_term"),
                F.col("r_tot").cast("long").alias("n_relevant"),
                F.col("rel_at_k").cast("long").alias("rel_at_k"),
                stable_round(
                    F.col("ap_num")
                    / F.least(F.col("r_tot"), F.lit(MAP_K)).cast("double"),
                    6,
                ).alias("ap_at_k"),
                stable_round(
                    F.coalesce(
                        F.lit(1.0) / F.col("first_rel").cast("double"),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("rr"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _oracle_map_mrr() -> str:
    runs = []
    for q in MAP_QUERIES:
        runs.append(
            f"""(
  WITH topk AS (
    SELECT rel, row_number() OVER (ORDER BY tf_{q} DESC, doc_id) AS rk
    FROM base ORDER BY tf_{q} DESC, doc_id LIMIT {MAP_K}
  ),
  with_cum AS (
    SELECT rk, rel,
           sum(rel) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cum_rel
    FROM topk
  ),
  scored AS (
    SELECT rk, rel, cum_rel,
           sum(CAST(rel AS DOUBLE) * (CAST(cum_rel AS DOUBLE) / rk))
             OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cum_ap,
           min(CASE WHEN rel = 1 THEN rk END)
             OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS first_rel
    FROM with_cum
  )
  SELECT '{q}' AS query_term,
         CAST(rtot.r_tot AS BIGINT) AS n_relevant,
         CAST(max(cum_rel) AS BIGINT) AS rel_at_k,
         {stable_round_sql(
             'max(cum_ap) / CAST(least(rtot.r_tot, ' + str(MAP_K)
             + ') AS DOUBLE)', 6)} AS ap_at_k,
         {stable_round_sql(
             'coalesce(1.0 / CAST(min(first_rel) AS DOUBLE), 0.0)', 6)} AS rr
  FROM scored CROSS JOIN rtot
  GROUP BY rtot.r_tot
)"""
        )
    union = "\nUNION ALL\n".join(runs)
    tf_cols = ",\n         ".join(
        f"len(list_filter(l, x -> x = '{q}')) AS tf_{q}" for q in MAP_QUERIES
    )
    return f"""
WITH lists AS (
  SELECT doc_id, {_TOK_SPLIT_SQL} AS l FROM documents
),
base AS MATERIALIZED (
  SELECT doc_id,
         {tf_cols},
         CASE WHEN len(list_filter(l, x -> x = '{MAP_REL_TERM}')) >= 2
              THEN 1 ELSE 0 END AS rel
  FROM lists
),
rtot AS (SELECT sum(rel) AS r_tot FROM base)
{union}
"""


ORACLE["q_map_mrr_eval"] = _oracle_map_mrr()
QUERIES["q_map_mrr_eval"] = q_map_mrr_eval


WP_TOPK = 64  # learned multi-char pieces per class (start / continuation)
WP_MAXLEN = 4
WP_MAX_TYPES = 200_000  # driver vocab guard (bpe.py trainer contract)
WP_MAXW = 16  # unrolled greedy steps in the oracle = max word length


def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match segmentation (Wu et al. 2016 —
    the BERT tokenizer family), completing the tokenizer triad next
    to BPE (`operators/bpe.py`) and unigram-LM (`operators/
    unigram.py`). Vocabulary = every character plus the top-K most
    frequent multi-char substrings per position class (word-start vs
    '##'-continuation), counted over the corpus word types weighted
    by frequency; encoding = greedy max-munch per position class.

    Distribution contract (the bpe.py driver-trainer shape): the
    corpus is reduced by ONE distinct (word, count) aggregate to the
    word-TYPE frame, guarded by WP_MAX_TYPES (raises loudly rather
    than silently scaling); vocabulary induction and per-type
    encoding run on the driver over that bounded frame; the
    type->piece-count map is broadcast back and every doc is scored
    map-side. The oracle replays the same induction (QUALIFY top-K)
    and the same greedy scan as a recursive CTE with a correlated
    max-match subquery."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    doc_words = d.select(
        "doc_id", F.explode(toks).alias("word")
    ).groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    types = (
        doc_words.groupBy("word").agg(F.sum("cnt").alias("wc")).collect()
    )
    if len(types) > WP_MAX_TYPES:
        raise RuntimeError(
            f"word-type count {len(types)} exceeds WP_MAX_TYPES="
            f"{WP_MAX_TYPES}; raise the guard deliberately for corpora "
            "this wide"
        )
    wc = {r["word"]: r["wc"] for r in types}
    too_long = [w for w in wc if len(w) > WP_MAXW]
    if too_long:
        raise RuntimeError(
            f"words longer than WP_MAXW={WP_MAXW} chars (e.g. "
            f"{too_long[0]!r}) — raise the oracle unroll bound with them"
        )
    counts: dict = {0: {}, 1: {}}
    chars: dict = {0: set(), 1: set()}
    for w, c in wc.items():
        for p in range(len(w)):
            cls = 0 if p == 0 else 1
            chars[cls].add(w[p])
            for L in range(2, WP_MAXLEN + 1):
                if p + L <= len(w):
                    piece = w[p : p + L]
                    counts[cls][piece] = counts[cls].get(piece, 0) + c
    vocab: dict = {}
    for cls in (0, 1):
        top = sorted(counts[cls].items(), key=lambda kv: (-kv[1], kv[0]))[
            :WP_TOPK
        ]
        vocab[cls] = chars[cls] | {p for p, _ in top}

    def encode_len(w: str) -> int:
        pos, n = 0, 0
        while pos < len(w):
            cls = 0 if pos == 0 else 1
            match = 1
            for L in range(2, WP_MAXLEN + 1):
                if pos + L <= len(w) and w[pos : pos + L] in vocab[cls]:
                    match = L
            # single chars are always present, so match >= 1 holds
            pos += match
            n += 1
        return n

    mapping = spark.createDataFrame(
        [(w, encode_len(w)) for w in sorted(wc)], "word: string, np: long"
    )
    per_doc = (
        doc_words.join(F.broadcast(mapping), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("np")).alias("n_pieces"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        dec_ratio(
            F.col("n_pieces").cast("decimal(18,0)"), F.col("n_tokens"), 0, 4
        ).alias("pieces_per_token"),
    )


def _oracle_wordpiece() -> str:
    # The greedy scan unrolls to WP_MAXW join+GROUP BY steps (DuckDB's
    # recursive terms cannot aggregate over the recursive relation, so
    # a recursive max-match formulation silently yields NULL). Each
    # step consumes >= 1 character, so WP_MAXW bounds any word up to
    # that many characters; the Spark side guards the bound loudly.
    steps = []
    prev = "w0"
    for k in range(1, WP_MAXW + 1):
        steps.append(
            f"""w{k} AS (
  SELECT w.word, w.pos + max(len(v.piece)) AS pos, w.np + 1 AS np
  FROM {prev} w JOIN vocab v
    ON v.cls = CASE WHEN w.pos = 1 THEN 0 ELSE 1 END
   AND substr(w.word, w.pos, len(v.piece)) = v.piece
  WHERE w.pos <= len(w.word)
  GROUP BY w.word, w.pos, w.np
)"""
        )
        prev = f"w{k}"
    chain = ",\n".join(steps)
    states = "\nUNION ALL\n".join(
        f"SELECT * FROM w{k}" for k in range(WP_MAXW + 1)
    )
    return f"""
WITH doc_words AS MATERIALIZED (
  SELECT doc_id, t AS word, count(*) AS cnt FROM (
    SELECT doc_id, unnest({_TOK_SPLIT_SQL}) AS t FROM documents
  ) GROUP BY 1, 2
),
types AS MATERIALIZED (
  SELECT word, sum(cnt) AS wc FROM doc_words GROUP BY 1
),
subs AS (
  SELECT CASE WHEN CAST(p.range AS INTEGER) = 1 THEN 0 ELSE 1 END AS cls,
         substr(word, CAST(p.range AS INTEGER), CAST(l.range AS INTEGER))
           AS piece,
         sum(wc) AS c
  FROM types
  CROSS JOIN range(1, 64) p
  CROSS JOIN range(2, {WP_MAXLEN + 1}) l
  WHERE CAST(p.range AS INTEGER) + CAST(l.range AS INTEGER) - 1
          <= len(word)
  GROUP BY 1, 2
),
topk AS (
  SELECT cls, piece FROM subs
  QUALIFY row_number() OVER (PARTITION BY cls ORDER BY c DESC, piece)
            <= {WP_TOPK}
),
chars AS (
  SELECT DISTINCT CASE WHEN CAST(p.range AS INTEGER) = 1 THEN 0 ELSE 1 END
           AS cls,
         substr(word, CAST(p.range AS INTEGER), 1) AS piece
  FROM types CROSS JOIN range(1, 64) p
  WHERE CAST(p.range AS INTEGER) <= len(word)
),
vocab AS MATERIALIZED (
  SELECT DISTINCT cls, piece FROM (
    SELECT * FROM topk UNION ALL SELECT * FROM chars
  )
),
w0 AS (SELECT word, 1 AS pos, 0 AS np FROM types),
{chain},
enc AS (
  SELECT word, np FROM ({states}) WHERE pos = len(word) + 1
),
per_doc AS (
  SELECT dw.doc_id, sum(dw.cnt) AS n_tokens,
         sum(dw.cnt * e.np) AS n_pieces
  FROM doc_words dw JOIN enc e ON e.word = dw.word
  GROUP BY 1
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_pieces AS BIGINT) AS n_pieces,
       {dec_ratio_sql('n_pieces', 'n_tokens', 0, 4)} AS pieces_per_token
FROM per_doc
"""


ORACLE["q_wordpiece_encode"] = _oracle_wordpiece()
QUERIES["q_wordpiece_encode"] = q_wordpiece_encode


MI_TOPK = 20


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(token presence; label) over documents —
    the feature-selection ranking that q_chi2_terms approximates with
    a test statistic; label = the planted >= 2 'join'-token concept
    (shared with q_naive_bayes, so the MI ranking is exactly the
    feature view of that classifier). MI per token derives from its
    own four contingency cells (no cross-row folds): sum over the 2x2
    table of (n_ab/N) ln(n_ab N / (n_a. n_.b)), empty cells
    contributing zero.

    Scale: one doc-level presence aggregate (token-keyed, uniform),
    one corpus-constant broadcast, TakeOrdered top-k on MI. Counts
    are exact integers; each MI is one fixed IEEE expression."""
    d = table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    y = (
        F.size(F.filter(toks_arr, lambda t: t == F.lit("join"))) >= 2
    ).cast("int")
    docs = d.select("doc_id", y.alias("y"), toks_arr.alias("toks"))
    pres = docs.select(
        "doc_id", "y", F.explode(F.array_distinct("toks")).alias("t")
    )
    per_tok = pres.groupBy("t").agg(
        F.count(F.lit(1)).alias("n1x"),
        F.sum("y").alias("n11"),
    )
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("ny")
    )

    def cell_term(n_ab, n_a, n_b):
        p = n_ab.cast("double")
        return F.when(
            n_ab > 0,
            (p / F.col("n"))
            * F.log(
                p * F.col("n").cast("double")
                / (n_a.cast("double") * n_b.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    n11 = F.col("n11")
    n10 = F.col("n1x") - F.col("n11")
    n01 = F.col("ny") - F.col("n11")
    n00 = F.col("n") - F.col("n1x") - F.col("ny") + F.col("n11")
    scored = per_tok.crossJoin(F.broadcast(tot)).select(
        "t",
        F.col("n1x").cast("long").alias("n_docs_with"),
        F.col("n11").cast("long").alias("n_pos_with"),
        stable_round(
            cell_term(n11, F.col("n1x"), F.col("ny"))
            + cell_term(n10, F.col("n1x"), F.col("n") - F.col("ny"))
            + cell_term(n01, F.col("n") - F.col("n1x"), F.col("ny"))
            + cell_term(
                n00, F.col("n") - F.col("n1x"), F.col("n") - F.col("ny")
            ),
            6,
        ).alias("mi"),
    )
    return scored.orderBy(F.desc("mi"), F.asc("t")).limit(MI_TOPK)


def _oracle_mi() -> str:
    def term(nab, na, nb):
        return (
            f"CASE WHEN {nab} > 0 THEN "
            f"(CAST({nab} AS DOUBLE) / n) "
            f"* ln(CAST({nab} AS DOUBLE) * CAST(n AS DOUBLE) "
            f"/ (CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE))) "
            f"ELSE 0.0 END"
        )

    n11, n10 = "n11", "(n1x - n11)"
    n01, n00 = "(ny - n11)", "(n - n1x - ny + n11)"
    mi = " + ".join(
        [
            term(n11, "n1x", "ny"),
            term(n10, "n1x", "(n - ny)"),
            term(n01, "(n - n1x)", "ny"),
            term(n00, "(n - n1x)", "(n - ny)"),
        ]
    )
    return f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN len(list_filter({_TOK_SPLIT_SQL}, x -> x = 'join')) >= 2
              THEN 1 ELSE 0 END AS y,
         {_TOK_SPLIT_SQL} AS toks
  FROM documents
),
pres AS (
  SELECT DISTINCT doc_id, y, unnest(toks) AS t FROM docs
),
per_tok AS (
  SELECT t, count(*) AS n1x, sum(y) AS n11 FROM pres GROUP BY 1
),
tot AS (SELECT count(*) AS n, sum(y) AS ny FROM docs)
SELECT t,
       CAST(n1x AS BIGINT) AS n_docs_with,
       CAST(n11 AS BIGINT) AS n_pos_with,
       {{mi_rounded}} AS mi
FROM per_tok CROSS JOIN tot
ORDER BY mi DESC, t LIMIT {MI_TOPK}
""".replace(
        "{mi_rounded}", f"(floor(({mi}) * 1000000.0 + 0.5) / 1000000.0)"
    )


ORACLE["q_mutual_information"] = _oracle_mi()
QUERIES["q_mutual_information"] = q_mutual_information
