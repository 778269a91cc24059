"""Partition-independence audit: every query must produce the SAME
order-insensitive value hash under different parallelism.

The oracle gate catches Spark-vs-DuckDB divergence; this catches the
other flake mechanism — results that depend on partition count or
partition order (unrounded float sums, first()-style picks, RNG).
Each query runs twice in two sessions configured with different
shuffle partitionings and input split sizes; the driver-style value
hash must match exactly.

Usage: python tools/determinism_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from tools._normalize import value_hash  # noqa: E402


def run_pass(sf_dir: str, names, shuffle_partitions: int, max_split: str) -> dict:
    from sandbox_data_pipeline_spark.queries import registry
    from sandbox_data_pipeline_spark.session import get_spark

    spark = get_spark(
        f"determinism-{shuffle_partitions}", shuffle_partitions=shuffle_partitions
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", max_split)
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry()
    out = {}
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            out[name] = (value_hash(df.columns, df.collect()), None)
        except Exception as ex:
            out[name] = (None, str(ex)[:90])
    spark.stop()
    return out


def main() -> int:
    from sandbox_data_pipeline_spark.queries import registry

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]
    if not names:
        q, _ = registry()
        names = list(q)
    a = run_pass(sf_dir, names, shuffle_partitions=7, max_split="1m")
    b = run_pass(sf_dir, names, shuffle_partitions=29, max_split="16m")
    failures = 0
    for name in names:
        ha, ea = a[name]
        hb, eb = b[name]
        if ea or eb:
            print(f"ERR   {name}: {ea or eb}")
            failures += 1
        elif ha != hb:
            print(f"FAIL  {name}: hash {ha} (p=7) != {hb} (p=29)")
            failures += 1
    print(f"\n{failures} partition-dependent queries out of {len(names)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
