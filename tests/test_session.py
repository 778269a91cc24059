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


RELIABLE_RUN = """
import json, sys
from sandbox_data_pipeline_spark.operators.local_solve import LOCAL_CAPS
from sandbox_data_pipeline_spark.queries.dedup import q_pagerank_dups
from sandbox_data_pipeline_spark.session import get_spark
from tools._normalize import value_hash

LOCAL_CAPS.update(dict.fromkeys(LOCAL_CAPS, 0))
spark = get_spark("reliable-cut", extra_conf={"spark.checkpoint.dir": sys.argv[1]})
df = q_pagerank_dups(spark, sys.argv[2])
rows = df.collect()
it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
local = 0
while it.hasNext():
    local += bool(it.next()._2().isLocallyCheckpointed())
print(json.dumps({"hash": value_hash(df.columns, rows), "local": local}))
"""


def test_cut_is_reliable_under_a_checkpoint_dir(spark, sf_dir, local_caps, tmp_path):
    """With ``spark.checkpoint.dir`` set, every cut writes checkpoint
    files there and none is executor-local, and the distributed graph
    loop gives the same values as in local mode. A fresh process: a
    checkpoint dir outlives ``stop()`` within one Python process."""
    import json
    import subprocess
    import sys

    from sandbox_data_pipeline_spark.operators.local_solve import LOCAL_CAPS
    from sandbox_data_pipeline_spark.queries.dedup import q_pagerank_dups
    from tools._normalize import value_hash

    local_caps(**dict.fromkeys(LOCAL_CAPS, 0))
    df = q_pagerank_dups(spark, sf_dir)
    local_hash = value_hash(df.columns, df.collect())

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env.update(PYTHONPATH=repo, SPARK_GRAFT_CPUS="2")
    ckpt = tmp_path / "ckpt"
    out = subprocess.run(
        [sys.executable, "-c", RELIABLE_RUN, str(ckpt), sf_dir],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"hash": local_hash, "local": 0}
    assert any(files for _, _, files in os.walk(ckpt))
