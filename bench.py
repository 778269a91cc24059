"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>}

Each query is materialized with a noop write (full execution on
executors, no driver-side row transfer) after a warm-up of the JVM +
file listing via a trivial count.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# A run's records go under the git-ignored .benchmarks/, so a bench
# run never rewrites tracked files; the committed BENCH_LOCAL.json and
# BENCH_CUMULATIVE.json are records of earlier runs.
OUT_DIR = ".benchmarks"
sys.path.insert(0, HERE)

# Fixed set, so two bench.py records compare like for like. Names must exist in queries().
HEADLINE = [
    "q_coverage_greedy",
    "q_similarity_ivf_kmeans_topk",
    "q_quality_classifier",
    "q_dbscan_grid",
    "q_suffix_dedup_apply_keep_first",
    "q_video_keyframes",
    "q_video_near_dup",
    "q_image_dhash_dedup",
    "q_jpeg_decode_stats",
    "q_embedding_dup_clusters",
    "q_naive_bayes",
    "q_suffix_dedup_apply",
    "q_anchored_dup_spans",
    "q_rholoss_select",
    "q_lakehouse_lifecycle",
    "q_media_fingerprint_manifest",
    "q_media_manifest_ivm",
    "q_image_dhash_from_manifest",
    "q_video_near_dup_from_manifest",
    "q_hash_canary",
    "q_agg_basic",
    "q_agg_cube",
    "q_agg_rollup",
    "q_allpairs_jaccard",
    "q_ann_index",
    "q_ann_index_drift",
    "q_ann_recall",
    "q_association_rules",
    "q_assortativity",
    "q_auc_score",
    "q_audio_near_dup",
    "q_bigram_bits",
    "q_bigram_perplexity",
    "q_bloom_prefilter",
    "q_bm25_topk",
    "q_bmp_decode_stats",
    "q_bmp_resize_stats",
    "q_bpe_encode",
    "q_budget_select",
    "q_chi2_terms",
    "q_class_f1",
    "q_clustering_coeff",
    "q_cms_heavy_hitters",
    "q_cohen_kappa",
    "q_conformal_interval",
    "q_containment_pairs",
    "q_crosslingual_dups",
    "q_curation_pipeline",
    "q_dd_quantiles",
    "q_decontam",
    "q_dedup_clusters",
    "q_dedup_minhash_pairs",
    "q_dedup_ngram_jaccard",
    "q_dedup_simhash",
    "q_dedup_simhash_pairs",
    "q_dedup_survivors",
    "q_diff_in_diff",
    "q_doremi_weights",
    "q_dq_referential",
    "q_dq_report",
    "q_dq_suite",
    "q_dup_degree_dist",
    "q_dup_triangles",
    "q_embedding_quantize",
    "q_entity_matches",
    "q_entity_resolution",
    "q_event_funnel",
    "q_ewma_smooth",
    "q_feature_hashing",
    "q_fellegi_sunter",
    "q_fuzzy_match",
    "q_gif_decode_stats",
    "q_gini_concentration",
    "q_global_ids",
    "q_graph_bfs",
    "q_grouping_sets",
    "q_hard_negatives",
    "q_histogram_equidepth",
    "q_hits_dups",
    "q_hll_rollup",
    "q_hybrid_rrf",
    "q_incremental_dedup",
    "q_join_asof",
    "q_join_broadcast",
    "q_join_cardinality_audit",
    "q_join_salted",
    "q_kcore_peel",
    "q_kmv_distinct",
    "q_kmv_jaccard",
    "q_kneser_ney_bits",
    "q_knn_join",
    "q_lang_confusion",
    "q_leakage_safe_split",
    "q_linear_fit",
    "q_link_prediction",
    "q_lof_outliers",
    "q_lpa_communities",
    "q_mad_anomalies",
    "q_map_mrr_eval",
    "q_matryoshka_recall",
    "q_merge_upsert",
    "q_minhash_precision",
    "q_mmr_rerank",
    "q_ndcg_at_k",
    "q_ngram_freq",
    "q_numeric_corr",
    "q_pagerank_dups",
    "q_pair_bleu",
    "q_pca_power",
    "q_pmi_pairs",
    "q_png_decode_stats",
    "q_png_resize_stats",
    "q_ppr_influence",
    "q_pq_adc_topk",
    "q_pq_codes",
    "q_profile_orders",
    "q_psi_drift",
    "q_rag_index_pipeline",
    "q_repetition",
    "q_safe_casts",
    "q_semantic_search",
    "q_semdedup",
    "q_sequence_mining",
    "q_simhash_quality_sweep",
    "q_similarity_ivf_topk",
    "q_similarity_lsh_topk",
    "q_similarity_near_dup",
    "q_similarity_near_dup_lsh",
    "q_similarity_topk",
    "q_source_drift_kl",
    "q_srm_check",
    "q_suffix_dedup_spans",
    "q_suffix_repeats",
    "q_target_encode",
    "q_text_quality",
    "q_textrank_keywords",
    "q_tfidf_top_terms",
    "q_theilsen_trend",
    "q_token_entropy",
    "q_tpch_q01",
    "q_tpch_q02",
    "q_tpch_q03",
    "q_tpch_q05",
    "q_tpch_q07",
    "q_tpch_q08",
    "q_tpch_q09",
    "q_tpch_q10",
    "q_tpch_q16",
    "q_tpch_q18",
    "q_tpch_q19",
    "q_tpch_q21",
    "q_training_triplets",
    "q_unigram_segment_cost",
    "q_weather_insert",
    "q_weather_stage",
    "q_weather_variant_insert",
    "q_weather_variant_native",
    "q_weighted_sample",
    "q_winnow_fingerprints",
    "q_winsorize",
    "q_wordpiece_encode",
    "q_zorder_skipping",
]


def git_sha(root: str) -> str | None:
    """Short sha of ``root``'s checked-out commit, or None when it is
    not a git checkout (or git is missing)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def ledger_label(root: str) -> str:
    """The ``at`` label of this run's ledger entries: the checkout's
    short git sha ("local" outside git)."""
    return git_sha(root) or "local"


def update_cumulative_ledger(timings: dict[str, float], sf: float) -> None:
    """Merge this run's timings into .benchmarks/BENCH_CUMULATIVE.json,
    the complete query -> latest seconds ledger (BENCH_r* final lines
    are budgeted slowest-first, so fast queries fall off them). The
    first run starts from the committed BENCH_CUMULATIVE.json. Latest
    measurement wins; the `at` label records which run produced it."""
    path = os.path.join(HERE, OUT_DIR, "BENCH_CUMULATIVE.json")
    ledger = {}
    for src in (path, os.path.join(HERE, "BENCH_CUMULATIVE.json")):
        try:
            with open(src, encoding="utf-8") as f:
                ledger = json.load(f)
            break
        except (OSError, ValueError):
            continue
    label = ledger_label(HERE)
    for k, v in timings.items():
        ledger[k] = {"sec": round(v, 3), "at": label, "sf": sf}
    try:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
    except OSError as e:
        # a silent write failure would quietly stale the ledger
        print(f"WARNING: {path} write failed: {e}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from sandbox_data_pipeline_spark.plans.flagship import flagship_query
    from sandbox_data_pipeline_spark.queries import registry
    from sandbox_data_pipeline_spark.session import get_spark, release_storage

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry()

    # Warm-up: JVM JIT, parquet footer reads, broadcast machinery.
    flagship_query(spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def run(name: str, build) -> None:
        print(f"[bench] {name}", file=sys.stderr, flush=True)
        # min of three executions: local timings swing ±15% (and worse
        # under co-tenant load); the min is the reproducible number
        # (plan cost + data), the max is the noise.
        best = None
        try:
            for _ in range(3):
                # time build() + materialize: operators with eager
                # stages (iterative clustering, centroid fitting) do
                # real work at build time, and excluding it would
                # under-report them
                t0 = time.time()
                df = build()
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001 — one bad query must
            # not sink the whole run; the error is the measurement
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        # iterative operators' local cut blocks otherwise ACCUMULATE
        # across the run and OOM the shared local JVM near the end
        # (observed at 142 queries); a query's timing must not depend
        # on its position in the run
        release_storage(spark)

    run("flagship", lambda: flagship_query(spark, sf_dir))
    for name in HEADLINE:
        if name in queries:
            run(name, lambda n=name: queries[n](spark, sf_dir))

    total = round(sum(timings.values()), 3)
    # Verbose record (full precision, cpus, git sha) goes
    # to a file; stdout's LAST line is the formal artifact. The driver
    # records only the LAST 2000 characters of stdout and parses the
    # final line — r04-r06 all came back "parsed": null because the
    # 98-query dict pushed the line past 2000 chars and the capture
    # cut off its FRONT. So: (1) the complete per-query line prints
    # FIRST (for humans reading the raw run), (2) the final line is
    # budgeted to ≤1900 chars — headline fields always present, then
    # as many per-query entries as fit (overflow names live in
    # .benchmarks/BENCH_LOCAL.json, pointed to by "full").
    verbose = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": len(os.sched_getaffinity(0)),
        "git_sha": git_sha(HERE),
    }
    if errors:
        verbose["errors"] = errors
    os.makedirs(os.path.join(HERE, OUT_DIR), exist_ok=True)
    update_cumulative_ledger(timings, sf)
    local = os.path.join(OUT_DIR, "BENCH_LOCAL.json")
    try:
        with open(os.path.join(HERE, local), "w") as f:
            json.dump(verbose, f, indent=1)
    except OSError:
        pass
    full_line = {
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
    }
    print(json.dumps(full_line, separators=(",", ":")))
    # Stop Spark BEFORE the final line so no JVM/py4j shutdown output
    # can trail it on stdout.
    spark.stop()
    budget = 1900
    base = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "full": local,
        "queries": {},
    }
    line = json.dumps(base, separators=(",", ":"))
    fitted: dict[str, float] = {}
    # slowest-first: the entries that matter for a perf read survive
    for k in sorted(timings, key=lambda k: -timings[k]):
        trial = dict(fitted)
        trial[k] = round(timings[k], 2)
        cand = dict(base, queries=trial)
        s = json.dumps(cand, separators=(",", ":"))
        if len(s) > budget:
            break
        fitted = trial
        line = s
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
