"""10x blow-up stress for the hot-bucket caps (round-11 verdict item).

The three quadratic-blowup guards — IMAGE_BAND_CAP / VIDEO_BAND_CAP
(queries/multimodal.py) and the shingle ``df_cap``
(operators/dedup.py: word_shingles) — were sized from sf0.1
measurements. This tool PROVES them at 10x instead of arguing them:

1. Builds a 10x synthetic blow-up of sf0.1 in the temp dir: documents and
   embeddings replicated with id offsets (texts unchanged, so hot
   shingles get exactly 10x hotter — the adversarial direction; media
   payloads derive from doc_id, so new ids extend the closed-form
   corpus naturally). Other tables are symlinked from the source SF.
2. Runs the three capped paths end-to-end (real decode, real joins)
   and measures, for each: wall seconds, PRE-cap max bucket occupancy
   (how hot the hottest band/shingle actually got), buckets dropped by
   the cap, POST-cap max occupancy (must be <= CAP), and the max
   per-bucket candidate-pair count (must be <= CAP*(CAP-1)/2).
3. Runs tools/skew_stress.py's salted/AQE join matrix against the
   blown-up dir for the join-layer evidence.
4. Runs q_lof_outliers (``knn_lof``): the replicated embeddings put
   factor x the rows of each side in every SRP bucket, so knn_join's
   per-bucket scoring block holds ~factor^2 the pairs, all exact
   duplicates and ties. Reports wall time, peak RSS and the output's
   value hash, which must match across versions of the kernel.

Prints one JSON line; paste the numbers into SCALE.md's
measured-evidence table.

Usage: python tools/blowup_stress.py [--factor 10] [--src /root/testdata/sf0.1]
``--only knn_lof`` (comma-separated stage names) runs only those stages.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

FACTOR = 10


def build_blowup(spark, src: str, factor: int) -> str:
    out = os.path.join(tempfile.gettempdir(), f"blowup{factor}x")
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for tbl, idc in (("documents", "doc_id"), ("embeddings", "vec_id")):
        df = spark.read.parquet(os.path.join(src, f"{tbl}.parquet"))
        mx = df.agg(F.max(idc)).first()[0] + 1
        reps = spark.range(factor).select(F.col("id").alias("_rep"))
        blown = df.crossJoin(F.broadcast(reps)).select(
            (F.col(idc) + F.col("_rep") * F.lit(mx)).alias(idc),
            *[c for c in df.columns if c != idc],
        )
        blown.write.mode("overwrite").parquet(os.path.join(out, f"{tbl}.parquet"))
    # Join/skew family (round-12 verdict item): replicate the fact
    # tables with CONSISTENT key offsets — lineitem.l_orderkey and
    # orders.o_orderkey shift by the same base so the join fan-out per
    # key is unchanged while the corpus is factor x bigger; events
    # offset user_id too, so per-user event density (the asof/range
    # join fan-out driver) stays constant — the realistic scale-up.
    from sandbox_data_pipeline_spark.catalog import table as cat_table

    obase = (
        cat_table(spark, src, "orders").agg(F.max("o_orderkey")).first()[0]
        + 1
    )
    ebase = (
        cat_table(spark, src, "events")
        .agg(F.max("event_id"), F.max("user_id"))
        .first()
    )
    eid_base, uid_base = ebase[0] + 1, ebase[1] + 1
    reps = spark.range(factor).select(F.col("id").alias("_rep"))
    shifts = {
        "lineitem": {"l_orderkey": obase},
        "orders": {"o_orderkey": obase},
        "events": {"event_id": eid_base, "user_id": uid_base},
    }
    for tbl, cols in shifts.items():
        # catalog scan: nanos-ts conversion + money decimals — the
        # written copy re-reads cleanly through the same catalog
        df = cat_table(spark, src, tbl)
        blown = df.crossJoin(F.broadcast(reps)).select(
            *[
                (F.col(c) + F.col("_rep") * F.lit(cols[c])).alias(c)
                if c in cols
                else F.col(c)
                for c in df.columns
            ]
        )
        blown.write.mode("overwrite").parquet(os.path.join(out, f"{tbl}.parquet"))
    for f in os.listdir(src):
        dst = os.path.join(out, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(src, f), dst)
    return out


def _band_stats(bands, cap: int, keys: list[str]) -> dict:
    """Occupancy stats for a (band_idx, band_val[, ...]) frame: pre-cap
    max bucket, dropped buckets, post-cap max, max pair count."""
    occ = bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
    row = occ.agg(
        F.max("c").alias("max_pre"),
        F.sum(F.when(F.col("c") > cap, 1).otherwise(0)).alias("dropped"),
        F.max(F.when(F.col("c") <= cap, F.col("c"))).alias("max_post"),
    ).first()
    max_post = int(row["max_post"] or 0)
    return {
        "cap": cap,
        "max_bucket_pre_cap": int(row["max_pre"]),
        "buckets_dropped": int(row["dropped"]),
        "max_bucket_post_cap": max_post,
        "max_pairs_per_bucket": max_post * (max_post - 1) // 2,
        "pair_bound_cap2_over_2": cap * (cap - 1) // 2,
        "post_cap_within_bound": max_post <= cap,
    }


def image_stress(spark, sf_dir: str) -> dict:
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.operators.jpeg import jpeg_dhash, jpeg_media
    from sandbox_data_pipeline_spark.queries.multimodal import (
        IMAGE_BAND_CAP,
        q_image_dhash_dedup,
    )

    t0 = time.time()
    n_rows = q_image_dhash_dedup(spark, sf_dir).count()
    wall = time.time() - t0
    hashes = jpeg_dhash(jpeg_media(table(spark, sf_dir, "documents")))
    bands = hashes.selectExpr(
        "media_id",
        "stack(4, 0, h1 >> 16, 1, h1 & 65535, 2, h2 >> 16, 3, h2 & 65535)"
        " AS (band_idx, band_val)",
    )
    out = _band_stats(bands, IMAGE_BAND_CAP, ["band_idx", "band_val"])
    out.update({"query_sec": round(wall, 2), "result_rows": n_rows})
    return out


def video_stress(spark, sf_dir: str) -> dict:
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.operators.video import (
        avi_media,
        video_frame_dhash,
    )
    from sandbox_data_pipeline_spark.queries.multimodal import (
        VIDEO_BAND_CAP,
        q_video_near_dup,
    )

    t0 = time.time()
    n_rows = q_video_near_dup(spark, sf_dir).count()
    wall = time.time() - t0
    hashes = video_frame_dhash(avi_media(table(spark, sf_dir, "documents")))
    bands = hashes.selectExpr(
        "media_id",
        "frame_idx",
        "stack(4, 0, h1 >> 16, 1, h1 & 65535, 2, h2 >> 16, 3, h2 & 65535)"
        " AS (band_idx, band_val)",
    )
    out = _band_stats(bands, VIDEO_BAND_CAP, ["band_idx", "band_val"])
    out.update({"query_sec": round(wall, 2), "result_rows": n_rows})
    return out


def shingle_stress(spark, sf_dir: str) -> dict:
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.operators.dedup import word_shingles
    from sandbox_data_pipeline_spark.queries.dedup import (
        JACCARD_DF_CAP,
        JACCARD_N,
        q_dedup_ngram_jaccard,
    )

    t0 = time.time()
    n_rows = q_dedup_ngram_jaccard(spark, sf_dir).count()
    wall = time.time() - t0
    raw = word_shingles(table(spark, sf_dir, "documents"), n=JACCARD_N)
    occ = raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    row = occ.agg(
        F.max("c").alias("max_pre"),
        F.sum(F.when(F.col("c") > JACCARD_DF_CAP, 1).otherwise(0)).alias(
            "dropped"
        ),
        F.max(F.when(F.col("c") <= JACCARD_DF_CAP, F.col("c"))).alias(
            "max_post"
        ),
    ).first()
    max_post = int(row["max_post"] or 0)
    return {
        "cap": JACCARD_DF_CAP,
        "max_shingle_df_pre_cap": int(row["max_pre"]),
        "shingles_dropped": int(row["dropped"]),
        "max_shingle_df_post_cap": max_post,
        "max_join_rows_per_shingle": max_post * max_post,
        "bound_cap_squared": JACCARD_DF_CAP * JACCARD_DF_CAP,
        "post_cap_within_bound": max_post <= JACCARD_DF_CAP,
        "query_sec": round(wall, 2),
        "result_rows": n_rows,
    }


def _max_task_shuffle_bytes(spark, group: str) -> dict:
    """Max per-TASK shuffle read/write bytes over every stage of a
    job group, from the UI REST API (the only surface where per-task
    maxima survive — SQL metrics accumulate sums). This is the
    'max-partition bytes' number the verdict asked for: the largest
    single shuffle partition any task had to hold."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    tracker = spark.sparkContext.statusTracker()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    mx_read = mx_write = 0
    for sid in sorted(stage_ids):
        url = (
            f"{base}/api/v1/applications/{app}/stages/{sid}"
            f"?details=false&taskStatus=SUCCESS"
        )
        try:
            with urllib.request.urlopen(url, timeout=10) as r:
                for attempt in json.load(r):
                    url2 = (
                        f"{base}/api/v1/applications/{app}/stages/{sid}/"
                        f"{attempt['attemptId']}/taskSummary?quantiles=1.0"
                    )
                    with urllib.request.urlopen(url2, timeout=10) as r2:
                        q = json.load(r2)
                    sr = q.get("shuffleReadMetrics", {})
                    read = (sr.get("readBytes") or [0])[-1]
                    sw = q.get("shuffleWriteMetrics", {})
                    write = (sw.get("writeBytes") or [0])[-1]
                    mx_read = max(mx_read, int(read))
                    mx_write = max(mx_write, int(write))
        except Exception:  # noqa: BLE001 — a stage with no tasks 404s
            continue
    return {
        "max_task_shuffle_read_bytes": mx_read,
        "max_task_shuffle_write_bytes": mx_write,
    }


def join_stress(spark, sf_dir: str) -> dict:
    """Salted / as-of / range / bucketed-IVF joins at the blown-up
    corpus: wall time, total shuffle, spill (must stay 0), and the
    max per-task shuffle bytes (the straggler partition)."""
    sys.path.insert(0, "tools")
    from shuffle_audit import walk_metrics

    from sandbox_data_pipeline_spark.queries import registry

    qs, _ = registry()
    out = {}
    for name in (
        "q_join_salted",
        "q_join_asof",
        "q_join_range",
        "q_similarity_ivf_kmeans_topk",
    ):
        sc = spark.sparkContext
        group = f"blowup-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        rows = df.count()
        wall = time.time() - t0
        acc = {"shuffle_bytes": 0, "spill_bytes": 0, "exchanges": 0}
        walk_metrics(df._jdf.queryExecution().executedPlan(), set(), acc)
        sc.setJobGroup("idle", "")
        entry = {
            "wall_sec": round(wall, 2),
            "rows": rows,
            "exchanges": acc["exchanges"],
            "shuffle_bytes": int(acc["shuffle_bytes"]),
            "spill_bytes": int(acc["spill_bytes"]),
        }
        entry.update(_max_task_shuffle_bytes(spark, group))
        out[name] = entry
    return out


def cc_stress(spark, sf_dir: str) -> dict:
    """Connected components (pointer-jumping min-label propagation) at
    the blown-up corpus: iteration count must stay within the
    log2(N) + 1 bound (each round at least doubles how far a small
    label has spread)."""
    import math

    from sandbox_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
    )
    from sandbox_data_pipeline_spark.queries.dedup import (
        q_dedup_minhash_pairs,
    )

    t0 = time.time()
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    stats: dict = {}
    clusters = duplicate_clusters(pairs, stats=stats)
    n_clustered = clusters.count()
    wall = time.time() - t0
    n_nodes = stats["n_nodes"]
    bound = math.ceil(math.log2(max(n_nodes, 2))) + 1
    return {
        "wall_sec": round(wall, 2),
        "n_nodes": n_nodes,
        "n_clustered_rows": n_clustered,
        "iterations": stats["iterations"],
        "log2_bound": bound,
        "iterations_within_bound": stats["iterations"] <= bound,
    }


def _vm_hwm_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        try:
            tasks = [t.path for t in os.scandir(f"/proc/{todo.pop()}/task")]
        except OSError:  # the process has exited
            continue
        for task in tasks:
            try:
                with open(os.path.join(task, "children")) as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def knn_lof_stress(spark, sf_dir: str) -> dict:
    """q_lof_outliers at the blown-up corpus: wall time, peak RSS of
    the driver JVM over this stage (its high-water mark is reset first
    where the kernel allows it) and of the largest Python worker, and
    the output's value hash."""
    sys.path.insert(0, "tools")
    from _normalize import value_hash

    from sandbox_data_pipeline_spark.queries.similarity import q_lof_outliers

    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # reset VmHWM to the current RSS
        hwm_reset = True
    except OSError:
        hwm_reset = False
    t0 = time.time()
    df = q_lof_outliers(spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    wall = time.time() - t0
    workers = [_vm_hwm_mb(k) for k in _descendants(pid)]
    return {
        "query_sec": round(wall, 2),
        "result_rows": len(rows),
        "value_hash": value_hash(df.columns, rows),
        "driver_peak_rss_mb": round(_vm_hwm_mb(pid) or 0),
        "driver_hwm_reset": hwm_reset,
        "python_worker_peak_rss_mb": round(max(filter(None, workers), default=0)),
    }


def main() -> None:
    factor = FACTOR
    src = "/root/testdata/sf0.1"
    args = sys.argv[1:]
    if "--factor" in args:
        factor = int(args[args.index("--factor") + 1])
    if "--src" in args:
        src = args[args.index("--src") + 1]

    from sandbox_data_pipeline_spark.session import get_spark

    # Model a production executor's heap (8g), not Spark's 1g local
    # default: the stress asks "do the caps bound the quadratic paths
    # on a sanely-sized executor at 10x", not "does 10x the corpus fit
    # in 1 GB". The first run under the 1g default was itself useful —
    # it exposed the unbounded media Arrow batches (fixed: builders
    # chunk + maxRecordsPerBatch=512) before OOMing in the legitimately
    # 100x-bigger duplicated-corpus shingle join.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    spark = get_spark("blowup-stress")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    bdir = build_blowup(spark, src, factor)
    result = {
        "factor": factor,
        "src": src,
        "blowup_dir": bdir,
        "build_sec": round(time.time() - t0, 2),
    }
    print(f"[blowup] built {bdir}", file=sys.stderr, flush=True)
    only = args[args.index("--only") + 1].split(",") if "--only" in args else None
    for name, fn in (
        ("image_band_cap", image_stress),
        ("video_band_cap", video_stress),
        ("shingle_df_cap", shingle_stress),
        ("join_family", join_stress),
        ("connected_components", cc_stress),
        ("knn_lof", knn_lof_stress),
    ):
        if only is not None and name not in only:
            continue
        print(f"[blowup] {name}", file=sys.stderr, flush=True)
        result[name] = fn(spark, bdir)
    print(json.dumps(result, separators=(",", ":")))
    shutil.rmtree(bdir, ignore_errors=True)


if __name__ == "__main__":
    main()
