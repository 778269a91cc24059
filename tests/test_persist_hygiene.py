"""Unpersist-on-return hygiene (round-11 verdict item 6).

Query-local persist() frames must release before the query returns so
COMPOSED callers (a session running many registry queries — bench.py,
the grading driver, a notebook) don't accumulate executor storage.
Two gates:

1. STATIC balance: every function in the package that calls
   ``.persist(`` must also call ``unpersist`` (AST-walked, no
   allowlist — the package's pattern for lazily-returned
   materializations is ``session.cut``, which releases with lineage,
   never a bare persist).
2. RUNTIME: after building AND collecting each persist-using registry
   query at sf0.001, no persistent RDD remains except local cut blocks
   (which are pinned by the returned frame's lineage and released with
   it).
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "sandbox_data_pipeline_spark"

# Registry queries that exercise every persist() site left in the
# package: duplicate_clusters (dedup.py), grid_dbscan (similarity.py),
# coverage-greedy's token frame (queries/text.py).
PERSIST_QUERIES = [
    "q_dedup_clusters",
    "q_embedding_dup_clusters",
    "q_dbscan_grid",
    "q_coverage_greedy",
]


def test_every_persist_has_an_unpersist():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        if ".persist(" not in src:
            continue
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            seg = ast.get_source_segment(src, node) or ""
            if ".persist(" in seg and "unpersist" not in seg:
                bad.append(f"{path.name}:{node.lineno} {node.name}")
    assert bad == [], (
        "functions persist() without a matching unpersist (use "
        "session.cut for lazily-returned materializations): "
        + ", ".join(bad)
    )


def _lingering_non_checkpoint_rdds(spark) -> list[str]:
    out = []
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        e = it.next()
        rdd = e._2()
        if not rdd.isLocallyCheckpointed():
            out.append(f"RDD {e._1()}: {rdd.toString()}")
    return out


@pytest.mark.parametrize("name", PERSIST_QUERIES)
def test_no_lingering_cache_after_query(name, spark, sf_dir):
    from sandbox_data_pipeline_spark.queries import registry
    from sandbox_data_pipeline_spark.session import release_storage

    release_storage(spark)  # leftovers from earlier tests in the session
    qs, _ = registry()
    qs[name](spark, sf_dir).collect()
    assert _lingering_non_checkpoint_rdds(spark) == []
