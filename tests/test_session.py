"""Session defaults (`session.py`): the local core count, and a
generated-class cache that holds the curation working set — a repeat
pass over curation queries is served from the cache instead of
compiling every class again in Janino (and then in HotSpot's JIT).
Spark's default of 100 entries is smaller than one pass of these
queries, so at the default every repeat recompiles them."""

from __future__ import annotations

import os

from sandbox_data_pipeline_spark.queries.similarity import q_lof_outliers
from sandbox_data_pipeline_spark.queries.txlog import q_lakehouse_lifecycle
from sandbox_data_pipeline_spark.session import SCALE_CONFS, local_cpus

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
# A repeat pass may still miss a few classes (AQE can pick another
# join for a stage, depending on which stage finished first), never a
# query's whole class set.
REPEAT_COMPILES_MAX = 8


def test_local_cpus_default_is_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def test_repeat_pass_is_served_from_codegen_cache(spark, sf_dir):
    assert spark.conf.get(CACHE_CONF) == SCALE_CONFS[CACHE_CONF]
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def pass_compiles() -> int:
        c0 = metrics.METRIC_COMPILATION_TIME().getCount()
        for q in (q_lof_outliers, q_lakehouse_lifecycle):
            q(spark, sf_dir).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - c0

    pass_compiles()
    assert pass_compiles() <= REPEAT_COMPILES_MAX
