"""Measure the ABOVE-CAP distributed fallbacks at blow-up scale.

Round-12 verdict item 3: at sf0.1 every capped one-task local solve
engages (CC <=4M edges, graph BSP <=4M, LR <=8M rows, k-means <=8M
cells, suffix <=8M positions, coverage <=4M, BPE <=1M word types),
so the bench only ever times the local branch; the above-cap
distributed paths — the actual 100 TB story — had row-for-row
equivalence tests but no performance numbers. This tool times BOTH branches of every capped family on the
10x blow-up corpus (tools/blowup_stress.py's builder: documents and
embeddings replicated with id offsets — hot keys get exactly 10x
hotter) and records CC round counts against the log2(N) bound.

Forcing discipline: every capped hybrid asks one gate,
``operators/local_solve.fits_local(kind, size)``, which reads the
``LOCAL_CAPS`` table at call time and never fits a cap of 0. "forced"
mode zeroes every entry of that table before the registry builds a
plan, so the queries run unchanged and each gate takes its
distributed branch. Nothing here touches query semantics — both
branches are the exact algorithms the equivalence tests pin together.

Usage:
  python tools/scale_fallback_bench.py [--factor 10] [--src /root/testdata/sf0.1]
      [--mode default|forced|both] [--reuse]

Prints one JSON line per (query, mode); paste the table into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    # CC family (duplicate_clusters)
    "q_dedup_clusters",
    "q_leakage_safe_split",
    # graph BSP family
    "q_pagerank_dups",
    "q_lpa_communities",
    "q_graph_bfs",
    "q_hits_dups",
    "q_ppr_influence",
    "q_kcore_peel",
    # trainers
    "q_quality_classifier",
    "q_similarity_ivf_kmeans_topk",
    # suffix family
    "q_suffix_dedup_apply_keep_first",
    "q_suffix_repeats",
    # greedy coverage
    "q_coverage_greedy",
    # driver-side BPE learner
    "q_bpe_merges",
]


def force_distributed() -> None:
    from sandbox_data_pipeline_spark.operators.local_solve import LOCAL_CAPS

    LOCAL_CAPS.update(dict.fromkeys(LOCAL_CAPS, 0))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--mode", default="default", choices=["default", "forced"])
    ap.add_argument("--reuse", action="store_true",
                    help="reuse an existing /tmp/blowup{factor}x corpus")
    ap.add_argument("--queries", nargs="*", default=None)
    args = ap.parse_args()

    from sandbox_data_pipeline_spark.session import get_spark, release_storage
    from tools.blowup_stress import build_blowup

    spark = get_spark(f"scale-fallback-{args.mode}")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = f"/tmp/blowup{args.factor}x"
    if not (args.reuse and os.path.isdir(out_dir)):
        out_dir = build_blowup(spark, args.src, args.factor)

    if args.mode == "forced":
        force_distributed()

    from sandbox_data_pipeline_spark.queries import registry

    qs, _ = registry()

    # CC round-count evidence (both modes): run the operator directly
    # with a stats dict on the blown-up pair graph.
    from sandbox_data_pipeline_spark.operators.dedup import duplicate_clusters
    from sandbox_data_pipeline_spark.queries.dedup import q_dedup_minhash_pairs

    results = {}
    names = args.queries or QUERIES

    for name in names:
        spark.sparkContext.setJobDescription(f"{args.mode}:{name}")
        t0 = time.time()
        try:
            qs[name](spark, out_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 2)
            results[name] = dt
            print(json.dumps({"query": name, "mode": args.mode, "sec": dt}),
                  flush=True)
        except Exception as e:  # noqa: BLE001 — record, keep measuring
            results[name] = None
            print(json.dumps({"query": name, "mode": args.mode,
                              "error": f"{type(e).__name__}: {e}"[:300]}),
                  flush=True)
        release_storage(spark)

    if not args.queries or "q_dedup_clusters" in names:
        stats: dict = {}
        pairs = q_dedup_minhash_pairs(spark, out_dir)
        t0 = time.time()
        duplicate_clusters(pairs, stats=stats).write.format("noop").mode("overwrite").save()
        n = stats.get("n_nodes") or 1
        print(json.dumps({
            "query": "duplicate_clusters(stats)", "mode": args.mode,
            "sec": round(time.time() - t0, 2),
            "iterations": stats.get("iterations"),
            "n_nodes": stats.get("n_nodes"),
            "log2_bound": math.ceil(math.log2(max(n, 2))) + 1,
        }), flush=True)

    print(json.dumps({"mode": args.mode, "factor": args.factor,
                      "total": round(sum(v for v in results.values() if v), 2),
                      "queries": results}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
