"""Query registry: every declared engine query + its DuckDB oracle SQL.

Each submodule exposes ``QUERIES: dict[str, Callable[(spark, sf_dir),
DataFrame]]`` and ``ORACLE: dict[str, str]`` (ANSI SQL for DuckDB over
the same parquet tables; omitted for non-SQL-expressible operators,
which get a weaker rows-only check). ``__spark_entry__.py`` aggregates
these for the driver.

Naming contract: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _envproof_wrap(fn: QueryFn) -> QueryFn:
    """Pin session confs on whatever SparkSession the driver passes,
    run the query, and stabilize fragile output dtypes (ltz → ntz,
    double → 7-significant-digit round-trip). See _envproof.py for the
    forensics this answers."""
    import functools

    from sandbox_data_pipeline_spark.queries import _envproof

    @functools.wraps(fn)
    def run(spark, sf_dir):
        _envproof.pin_session(spark)
        return _envproof.stabilize_df(fn(spark, sf_dir))

    return run


def registry(raw: bool = False) -> tuple[dict[str, QueryFn], dict[str, str]]:
    from sandbox_data_pipeline_spark.queries import (
        analytics,
        canary,
        cdc,
        dedup,
        dq,
        layout,
        multimodal,
        reference_parity,
        relational,
        similarity,
        streaming_twins,
        text,
        tpch,
        txlog,
    )

    mods = (
        canary,
        reference_parity,
        txlog,
        dq,
        cdc,
        streaming_twins,
        layout,
        analytics,
        multimodal,
        text,
        dedup,
        similarity,
        tpch,
        relational,
    )
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for m in mods:
        for name, fn in m.QUERIES.items():
            if name in queries:
                raise ValueError(f"duplicate query name: {name}")
            queries[name] = fn
        missing = m.ORACLE.keys() - m.QUERIES.keys()
        if missing:
            raise ValueError(f"oracle without query: {missing}")
        oracle.update(m.ORACLE)
    if raw:
        return queries, oracle
    queries = {n: _envproof_wrap(fn) for n, fn in queries.items()}
    oracle = {n: _stabilized_oracle(n, sql) for n, sql in oracle.items()}
    return queries, oracle


def _stabilized_oracle(name: str, sql: str) -> str:
    """Apply the MONEY_COLS decimal prelude plus the per-column casts
    that land the DuckDB output in the same pandas dtype + str() as
    the stabilized Spark side (_envproof module docstring). The cast
    plan comes from _outmeta (the recorded Spark output schema);
    tools/gen_outmeta.py regenerates it and a test keeps it fresh."""
    from sandbox_data_pipeline_spark.catalog import oracle_prelude
    from sandbox_data_pipeline_spark.queries import _envproof

    try:
        from sandbox_data_pipeline_spark.queries._outmeta import META
    except ImportError:
        META = {}
    sql = oracle_prelude(sql)
    m = META.get(name)
    if m:
        sql = _envproof.stabilize_oracle_sql(sql, m["cols"], m["ty"])
    return sql


def raw_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Unwrapped queries + unmodified oracle SQL (for meta generation
    and plan auditing)."""
    return registry(raw=True)
