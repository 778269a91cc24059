"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same parquet tables, comparing
row count, column names, and an order-insensitive value hash
(values normalized: floats rounded via repr, timestamps → isoformat).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from tools._normalize import diff_sample, value_hash  # noqa: E402


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from sandbox_data_pipeline_spark.catalog import TABLES
    from sandbox_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracle = queries(), oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"not in registry: {unknown}", file=sys.stderr)
        return 1

    spark = get_spark("oracle-check")
    # Janino compiles are JVM-wide; the delta over a query (or the
    # sweep) is the number of generated classes the codegen cache
    # could not serve.
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME().getCount
    compiles0 = compiles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0, c0 = time.time(), compiles()
        try:
            sdf = fn(get_spark(), sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failed.append(name)
            print(
                f"FAIL  {name}: spark error ({compiles() - c0} compiles): "
                f"{type(e).__name__}: {str(e)[:400]}"
            )
            continue
        cg = f"{compiles() - c0} compiles"
        if name not in oracle:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s, {cg})")
            continue
        try:
            res = con.execute(oracle[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failed.append(name)
            print(f"FAIL  {name}: duckdb error ({cg}): {type(e).__name__}: {str(e)[:400]}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        elif value_hash(scols, srows) != value_hash(dcols, drows):
            problems.append("value-hash mismatch")
        if problems:
            failed.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)} ({cg})")
            if "value-hash mismatch" in problems:
                sonly, donly = diff_sample(scols, srows, dcols, drows)
                for x in sonly:
                    print(f"        spark-only: {x[:200]}")
                for x in donly:
                    print(f"        duck-only:  {x[:200]}")
        else:
            print(f"ok    {name}: {len(srows)} rows match ({time.time()-t0:.1f}s, {cg})")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    print(
        f"codegen: {compiles() - compiles0} "
        "Janino compiles over the sweep, cache maxEntries "
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
