"""Skew-stress proof for the join layer: measure plain vs salted vs
AQE-skew-split sort-merge joins on a synthetic zipf-keyed join where
ONE hot key holds ~30% of the fact side (the regime the salting and
AQE machinery exists for).

The fact side is lineitem at the given SF with a derived key: ~30% of
rows collapse onto key 0 (deterministic xxhash64 bucket — stable
across runs), the rest spread over 20k keys. The dim side carries one
row per key — small, but broadcast is DISABLED for the experiment so
the join exercises the shuffle path it would take when the dimension
is broadcast-ineligible (the only regime where salting matters; with
broadcast allowed Spark just broadcasts and there is no skew problem).

Variants:
- plain : AQE on, skew-join split OFF — the hot key lands in one
          shuffle partition; its task is the straggler.
- aqe   : AQE skew-join ON with thresholds lowered to fire at test
          scale (at 100 TB the 256 MB default fires on its own; sf0.1
          partitions are ~MBs, so the threshold must scale down for
          the effect to be observable — same physics, smaller rig).
- salted: operators/skew.py salted_join(factor=16), skew split off —
          the explicit pre-shuffle spread for engines/paths where the
          runtime re-plan is unavailable (e.g. a downstream aggregate
          that must keep the salted partitioning).

Prints one JSON line: per-variant wall seconds (min of --reps), the
hot-key share, and whether the AQE final plan actually shows
skew=true splits (the proof the mechanism fired, asserted in
tests/test_skew.py as well).

Usage: python tools/skew_stress.py [sf_dir] [--reps N]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

HOT_BUCKETS = 3  # of 10 → ~30% of rows on key 0
COLD_KEYS = 20000
SALT_FACTOR = 16

SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    # the split target is clamped up to coalescePartitions
    # .minPartitionSize (default 1m) — lower it with the advisory or
    # small-rig splits stay coarse
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8k",
}


def skewed_frames(spark, sf_dir: str):
    from sandbox_data_pipeline_spark.catalog import table

    li = table(spark, sf_dir, "lineitem")
    li = li.withColumn(
        "_rep", F.explode(F.array(*[F.lit(i) for i in range(4)]))
    )  # 4x the fact side so the hot straggler is measurable
    fact = li.select(
        F.when(
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber", "_rep"), F.lit(10))
            < HOT_BUCKETS,
            F.lit(0),
        )
        .otherwise(
            F.pmod(F.xxhash64("l_orderkey", "_rep"), F.lit(COLD_KEYS)) + 1
        )
        .cast("long")
        .alias("k"),
        # incompressible payload: shuffle sizes are COMPRESSED bytes,
        # and a constant-key partition of low-cardinality quantities
        # compresses ~5x better than the uniform partitions — enough
        # to hide a 14x row skew from the byte-based skew detector.
        # A hash payload keeps bytes proportional to rows (measured).
        F.xxhash64("l_orderkey", "l_linenumber", "_rep").alias("v"),
    )
    dim = spark.range(0, COLD_KEYS + 1).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    return fact, dim


def run_variant(spark, fact, dim, variant: str) -> tuple[float, bool]:
    conf = spark.conf
    saved = {}
    def set_(k, v):
        saved[k] = conf.get(k, None)
        conf.set(k, v)

    set_("spark.sql.autoBroadcastJoinThreshold", "-1")
    set_("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    if variant == "aqe":
        set_("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in SKEW_CONFS.items():
            set_(k, v)
    else:
        set_("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        if variant == "salted":
            from sandbox_data_pipeline_spark.operators.skew import salted_join

            joined = salted_join(fact, dim, on="k", salt_factor=SALT_FACTOR)
        else:
            joined = fact.join(dim, "k")
        # timing consumer: the noop sink executes the full join with no
        # driver transfer and, unlike a groupBy on top, keeps the SMJ
        # at the root of its stage — measured (pyspark 4.1.2): AQE's
        # skew split does NOT fire when the skewed SMJ shares a stage
        # with a downstream partial aggregate, which is precisely the
        # regime where explicit salting remains necessary (SCALE.md)
        t0 = time.time()
        joined.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        fired = False
        if variant == "aqe":
            probe = fact.join(dim, "k")
            probe.collect()
            fired = (
                "skew=true"
                in probe._jdf.queryExecution().executedPlan().toString()
            )
        return dt, fired
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def main() -> int:
    from sandbox_data_pipeline_spark.session import cut, get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 2
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    spark = get_spark()
    fact, dim = skewed_frames(spark, sf_dir)
    # 16 map partitions BEFORE the cut: AQE's skew split can
    # only cut a skewed reduce partition along MAP-block boundaries
    # (measured: a single-mapper shuffle is unsplittable — the rule
    # logs the partition as skewed-eligible but creates no split spec;
    # at 100 TB mappers are plentiful, on a one-file test rig they are
    # not). The cut then isolates join cost from the scan.
    fact = cut(fact.repartition(16))
    n = fact.count()
    hot = fact.where(F.col("k") == 0).count()
    result = {"sf_dir": sf_dir, "rows": n, "hot_share": round(hot / n, 4)}
    for variant in ("plain", "aqe", "salted"):
        times, fired = [], False
        for _ in range(reps):
            dt, f = run_variant(spark, fact, dim, variant)
            times.append(dt)
            fired = fired or f
        result[variant + "_sec"] = round(min(times), 3)
        result[variant + "_skew_split"] = fired
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
