"""Transactional table format: atomic commits, time travel, optimistic
concurrency, row-level delete/merge with file pruning, txn idempotence,
checkpointing, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.sinks.txlog import (
    CHECKPOINT_EVERY,
    ConcurrentModification,
    TxTable,
)
from sandbox_data_pipeline_spark.sinks.writers import SkippedWrite


def _mk(spark, tmp_path, n=100, start=0):
    df = spark.range(start, start + n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
    )
    return TxTable.create(spark, str(tmp_path / "tbl"), df)


def test_create_and_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.latest_version() == 0
    assert t.read().count() == 100
    assert [f.name for f in t.read().schema.fields] == ["k", "v"]


def test_append_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.range(100, 150).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")))
    assert t.latest_version() == 1
    assert t.read(version=0).count() == 100
    assert t.read(version=1).count() == 150
    # history reflects both commits
    h = t.history()
    assert [e["operation"] for e in h] == ["create", "append"]
    assert h[1]["rows_added"] == 50


def test_delete_where_rewrites_only_overlapping_files(spark, tmp_path):
    # Write v0 as 4 disjoint ranges → 4+ files with disjoint k stats.
    base = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).repartitionByRange(4, "k")
    t = TxTable.create(spark, str(tmp_path / "tbl"), base)
    res = t.delete_where("k", 10, 20)
    assert res["files_rewritten"] < res["files_total"]
    got = t.read()
    assert got.where(F.col("k").between(10, 20)).count() == 0
    assert got.count() == 400 - 11
    # the old snapshot still shows the deleted rows
    assert t.read(version=0).where(F.col("k").between(10, 20)).count() == 11


def test_merge_upserts_and_appends(spark, tmp_path):
    t = _mk(spark, tmp_path)  # k 0..99, v = 10k
    src = spark.createDataFrame([(5, 999), (150, 111)], "k long, v long")
    t.merge(src, "k")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == 999 and got[150] == 111 and got[6] == 60
    assert t.read().count() == 101


def test_stats_pruned_read(spark, tmp_path):
    base = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).repartitionByRange(4, "k")
    t = TxTable.create(spark, str(tmp_path / "tbl"), base)
    all_files = len(t.snapshot())
    pruned = t.read(predicate=("k", 0, 50))
    # the pruned scan addresses fewer files than the snapshot holds
    assert len(pruned.inputFiles()) < all_files
    # and still returns every matching row once filtered
    assert pruned.where(F.col("k").between(0, 50)).count() == 51


def test_concurrent_append_retargets(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t2 = TxTable(spark, t.path)  # second writer handle
    extra = spark.createDataFrame([(1000, 1)], "k long, v long")
    t.append(extra)
    t2.append(extra)  # saw v0 as tail candidate, lands at v2 without error
    assert t.latest_version() == 2
    assert t.read().count() == 102


def test_concurrent_delete_conflicts(spark, tmp_path):
    t = _mk(spark, tmp_path)
    rv = t.latest_version()
    snap = sorted(t.snapshot(rv).keys())
    # writer A deletes (commits v1, removing v0's files)
    t.delete_where("k", 0, 9)
    # writer B pretends it read v0 and tries to remove the same files
    with pytest.raises(ConcurrentModification):
        t._commit("delete", [], snap, read_version=rv)


def test_txn_idempotence(spark, tmp_path):
    t = _mk(spark, tmp_path)
    extra = spark.createDataFrame([(1000, 1)], "k long, v long")
    t.append(extra, txn=("jobA", 7))
    with pytest.raises(SkippedWrite):
        t.append(extra, txn=("jobA", 7))
    assert t.read().count() == 101  # second append suppressed


@pytest.mark.slow
def test_checkpoint_written_and_used(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    row = spark.createDataFrame([(1000, 1)], "k long, v long")
    for _ in range(CHECKPOINT_EVERY):
        t.append(row)
    ckpts = [f for f in os.listdir(t.log_path) if f.startswith("checkpoint-")]
    assert ckpts, "expected a checkpoint entry"
    assert t.read().count() == 10 + CHECKPOINT_EVERY


def test_vacuum_removes_only_unreachable(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite_all(spark.createDataFrame([(1, 1)], "k long, v long"))
    deleted = t.vacuum(retain_versions=1, retain_seconds=0)
    assert deleted, "v0 files should be vacuumed"
    # current snapshot unaffected; time travel to v0 is now gone
    assert t.read().count() == 1
    with pytest.raises(Exception):
        t.read(version=0).count()


def test_schema_recorded_and_enforced(spark, tmp_path):
    t = _mk(spark, tmp_path)
    s = t.schema_at()
    assert [f.name for f in s.fields] == ["k", "v"]
    t.overwrite_all(spark.createDataFrame([(1, 1, "x")], "k long, v long, tag string"))
    assert [f.name for f in t.schema_at().fields] == ["k", "v", "tag"]
    # old snapshot still reads with the OLD schema
    assert [f.name for f in t.read(version=0).schema.fields] == ["k", "v"]


def test_append_schema_enforced(spark, tmp_path):
    t = _mk(spark, tmp_path)
    bad = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad)


@pytest.mark.slow
def test_refresh_rollup_incremental_matches_full(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import refresh_rollup

    base = spark.range(0, 100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    t = TxTable.create(spark, str(tmp_path / "tbl"), base)
    mv, ver = refresh_rollup(t, None, -1, "k", "v")
    mv = spark.createDataFrame(mv.collect(), mv.schema)  # materialize
    t.append(spark.range(100, 180).select((F.col("id") % 7).alias("k"), F.col("id").alias("v")))
    t.append(spark.range(180, 250).select((F.col("id") % 7).alias("k"), F.col("id").alias("v")))
    mv2, ver2 = refresh_rollup(t, mv, ver, "k", "v")
    assert ver2 == t.latest_version()
    got = {r["k"]: (r["total"], r["n"]) for r in mv2.collect()}
    full = {
        r["k"]: (r["total"], r["n"])
        for r in t.read()
        .groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == full
    # no-op refresh returns the same mv
    mv3, ver3 = refresh_rollup(t, mv2, ver2, "k", "v")
    assert ver3 == ver2 and mv3 is mv2


def test_refresh_rollup_rejects_nonmonotone_history(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import refresh_rollup

    t = _mk(spark, tmp_path)
    mv, ver = refresh_rollup(t, None, -1, "k", "v")
    t.delete_where("k", 0, 9)
    with pytest.raises(ValueError, match="full recompute"):
        refresh_rollup(t, mv, ver, "k", "v")


@pytest.mark.slow
def test_txlog_stream_exactly_once(spark, tmp_path):
    from sandbox_data_pipeline_spark.sources.txlog_stream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass  # already registered in this session
    t = _mk(spark, tmp_path, n=10)
    t.append(spark.range(10, 25).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain(name):
        q = (
            spark.readStream.format("txlog")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    rows = drain("tx_stream_1")
    assert len(rows) == 25
    assert {r["_commit_version"] for r in rows} == {0, 1}
    # new commit, restart from checkpoint: ONLY the new rows arrive
    # (cumulative file-sink count would exceed 30 on any replay)
    t.append(spark.range(25, 30).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")))
    rows2 = drain("tx_stream_2")
    assert len(rows2) == 30
    assert sum(1 for r in rows2 if r["_commit_version"] == 2) == 5


@pytest.mark.slow
def test_txlog_stream_rejects_removes(spark, tmp_path):
    from sandbox_data_pipeline_spark.sources.txlog_stream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    t = _mk(spark, tmp_path)
    t.delete_where("k", 0, 9)
    q = (
        spark.readStream.format("txlog")
        .option("path", t.path)
        .load()
        .writeStream.format("memory")
        .queryName("tx_stream_bad")
        .option("checkpointLocation", str(tmp_path / "ckpt_bad"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignoreChanges"):
        q.awaitTermination(120)
    # opt-in add-only semantics streams the delete's rewrite too
    q2 = (
        spark.readStream.format("txlog")
        .option("path", t.path)
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("memory")
        .queryName("tx_stream_ok")
        .option("checkpointLocation", str(tmp_path / "ckpt_ok"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    n = spark.sql("select count(*) c from tx_stream_ok").first()["c"]
    # v0's adds plus exactly the rows the delete's rewrite re-added
    assert n == 100 + t.history()[1]["rows_added"]


def test_optimize_zorder_improves_second_column_skipping(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import files_skipped, optimize

    # Natural layout range-partitions on c1; c2 is decorrelated, so
    # every file's c2 stats span the full range → zero skipping on c2.
    base = spark.range(0, 4000).select(
        F.col("id").alias("c1"),
        (F.col("id") * 2654435761 % 1000).alias("c2"),
    ).repartitionByRange(4, "c1")
    t = TxTable.create(spark, str(tmp_path / "tbl"), base)
    before = files_skipped(t, "c2", 0, 99)
    assert before["files_read"] == before["files_total"]  # no pruning
    res = optimize(t, zorder_by=("c1", "c2"), num_files=4)
    assert res["version"] == 1
    after = files_skipped(t, "c2", 0, 99)
    assert after["files_read"] < after["files_total"]  # Z-order prunes
    # logical content unchanged
    assert t.read().count() == 4000
    assert t.read().agg(F.sum("c2")).first()[0] == base.agg(F.sum("c2")).first()[0]


def test_optimize_concurrent_append_survives(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import optimize

    t = _mk(spark, tmp_path)
    rv = t.latest_version()
    snap = sorted(t.snapshot(rv).keys())
    # an append lands between optimize's read and its commit
    t.append(spark.createDataFrame([(1000, 1)], "k long, v long"))
    adds = t._write_data(t.spark.createDataFrame([], t.schema_at(rv)), t._state(rv))
    v = t._commit("optimize", adds, snap, read_version=rv)
    assert v == 2  # retargeted past the append, no conflict
    # appended row still visible (its file was not superseded)
    assert t.read().where(F.col("k") == 1000).count() == 1


def test_txlog_sink_exactly_once_replay(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import txlog_sink

    path = str(tmp_path / "sink_tbl")
    sink = txlog_sink(path, "qA")
    b0 = spark.createDataFrame([(1, 10)], "k long, v long")
    b1 = spark.createDataFrame([(2, 20)], "k long, v long")
    sink(b0, 0)
    sink(b0, 0)  # replayed first batch
    sink(b1, 1)
    sink(b1, 1)  # replayed later batch
    t = TxTable(spark, path)
    assert t.read().count() == 2


@pytest.mark.slow
def test_txlog_table_to_table_streaming(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import txlog_sink
    from sandbox_data_pipeline_spark.sources.txlog_stream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    src = _mk(spark, tmp_path, n=50)
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt_t2t")

    def run():
        q = (
            spark.readStream.format("txlog")
            .option("path", src.path)
            .load()
            .drop("_commit_version")
            .writeStream.foreachBatch(txlog_sink(dst, "t2t"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert TxTable(spark, dst).read().count() == 50
    src.append(
        spark.range(50, 70).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    )
    run()
    assert TxTable(spark, dst).read().count() == 70


def test_restore_rolls_back_and_preserves_history(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import restore

    t = _mk(spark, tmp_path)  # v0: 100 rows
    t.delete_where("k", 0, 49)  # v1: 50 rows
    t.append(spark.createDataFrame([(500, 1)], "k long, v long"))  # v2: 51
    v = restore(t, 0)
    assert v == 3
    assert t.read().count() == 100  # back to v0's content
    assert t.read(version=2).count() == 51  # history intact
    assert [e["operation"] for e in t.history()] == [
        "create", "delete", "append", "restore",
    ]


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import restore

    t = _mk(spark, tmp_path)
    t.overwrite_all(spark.createDataFrame([(1, 1)], "k long, v long"))
    t.vacuum(retain_versions=1, retain_seconds=0)
    import pytest as _pt

    with _pt.raises(FileNotFoundError, match="vacuumed"):
        restore(t, 0)


def test_restore_around_a_compacted_position_delete(spark, tmp_path):
    """optimize retires the position deletes it compacts away, so a
    restore to before them brings every row back, and a restore to the
    delete's own version brings its markers back with its files."""
    from sandbox_data_pipeline_spark.sinks.txlog import optimize, restore

    t = _mk(spark, tmp_path)  # v0: 100 rows
    v_del = t.delete_where_positional("k", 10, 19)["version"]
    optimize(t)
    restore(t, 0)
    assert t.read().count() == t.read(version=0).count() == 100
    restore(t, v_del)
    assert t.read().count() == t.read(version=v_del).count() == 90
    assert t.read().where(F.col("k").between(10, 19)).count() == 0


def test_stream_reader_throttles_versions(spark, tmp_path):
    from sandbox_data_pipeline_spark.sources.txlog_stream import TxLogStreamReader

    t = _mk(spark, tmp_path, n=10)
    for i in range(4):
        t.append(spark.createDataFrame([(100 + i, 1)], "k long, v long"))
    # 5 commits total (v0..v4); cap = 2 versions per trigger
    r = TxLogStreamReader({"path": t.path, "maxversionspertrigger": "2"})
    offsets = [r.initialOffset()["version"]]
    while True:
        nxt = r.latestOffset()["version"]
        if nxt == offsets[-1]:
            break
        r.partitions({"version": offsets[-1]}, {"version": nxt})
        offsets.append(nxt)
    assert offsets == [0, 2, 4, 5]  # two-version steps, then the tail
    # restart with a checkpoint beyond the fresh cap: the inverted
    # first range yields no partitions and the anchor catches up
    r2 = TxLogStreamReader({"path": t.path, "maxversionspertrigger": "2"})
    assert r2.latestOffset()["version"] == 2
    assert r2.partitions({"version": 4}, {"version": 2}) == []
    assert r2.latestOffset()["version"] == 5  # anchored past checkpoint


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import clone

    src = _mk(spark, tmp_path)  # k 0..99
    c = clone(src, spark, str(tmp_path / "cl"))
    # no data files were copied into the clone
    assert not os.path.isdir(os.path.join(c.path, "data"))
    assert c.read().count() == 100
    # clone mutations do not touch the source
    c.delete_where("k", 0, 49)
    assert c.read().count() == 50
    assert src.read().count() == 100
    # source appends after the clone are invisible to the clone
    src.append(spark.createDataFrame([(777, 1)], "k long, v long"))
    assert c.read().where(F.col("k") == 777).count() == 0
    # clone's own rewrites landed in the clone's data dir
    assert os.path.isdir(os.path.join(c.path, "data"))


def test_table_changes_feed(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import optimize, table_changes

    t = _mk(spark, tmp_path)  # v0: k 0..99, v = 10k
    t.append(spark.createDataFrame([(200, 1)], "k long, v long"))  # v1
    t.merge(spark.createDataFrame([(5, 999), (300, 3)], "k long, v long"), "k")  # v2
    cdf = table_changes(t, -1, t.latest_version())
    by = {
        (r["_commit_version"], r["_change_type"], r["k"]): r["v"]
        for r in cdf.collect()
    }
    # v0 create: 100 inserts; v1 append: 1 insert
    assert sum(1 for (v, c, _k) in by if v == 0 and c == "insert") == 100
    assert by[(1, "insert", 200)] == 1
    # v2 merge: k=5 rewritten (delete old 50, insert 999), k=300 new
    assert by[(2, "delete", 5)] == 50
    assert by[(2, "insert", 5)] == 999
    assert by[(2, "insert", 300)] == 3
    # untouched rewritten rows cancel: no delete for keys != 5
    assert not any(
        c == "delete" and k != 5 for (v, c, k) in by if v == 2
    )
    # OPTIMIZE is CDF-silent: every byte moves, no row changes
    optimize(t, num_files=2)
    silent = table_changes(t, t.latest_version() - 1, t.latest_version())
    assert silent.count() == 0


@pytest.mark.slow
def test_streaming_rollup_into_txtable_matches_batch(spark, tmp_path):
    """End-to-end: commit-log stream → per-batch delta aggregation →
    transactional rollup table maintained by overwrite with txn
    identity — the streaming IVM loop, exactly-once across restarts."""
    from sandbox_data_pipeline_spark.sinks.txlog import SkippedWrite
    from sandbox_data_pipeline_spark.sources.txlog_stream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    src_df = spark.range(0, 60).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    src = TxTable.create(spark, str(tmp_path / "src"), src_df)
    roll_path = str(tmp_path / "roll")
    ckpt = str(tmp_path / "ck_roll")

    def _roll(batch_df, batch_id):
        s = batch_df.sparkSession
        delta = batch_df.groupBy("k").agg(F.sum("v").alias("total"))
        try:
            cur = TxTable(s, roll_path)
            cur.latest_version()
        except FileNotFoundError:
            TxTable.create(s, roll_path, delta, txn=("roll", batch_id))
            return
        merged = (
            cur.read()
            .withColumnRenamed("total", "_t0")
            .join(delta.withColumnRenamed("total", "_t1"), "k", "full_outer")
            .select(
                "k",
                (
                    F.coalesce("_t0", F.lit(0)) + F.coalesce("_t1", F.lit(0))
                ).alias("total"),
            )
        )
        try:
            cur.overwrite_all(merged, txn=("roll", batch_id))
        except SkippedWrite:
            pass

    def run():
        q = (
            spark.readStream.format("txlog")
            .option("path", src.path)
            .load()
            .drop("_commit_version")
            .writeStream.foreachBatch(_roll)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    src.append(
        spark.range(60, 100).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    )
    run()
    got = {
        r["k"]: r["total"] for r in TxTable(spark, roll_path).read().collect()
    }
    want = {
        r["k"]: r["total"]
        for r in src.read().groupBy("k").agg(F.sum("v").alias("total")).collect()
    }
    assert got == want


def test_replace_where_is_one_atomic_commit(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import replace_where

    base = spark.range(0, 300).select(
        (F.col("id") % 3).alias("hr"), F.col("id").alias("v")
    ).repartitionByRange(3, "hr")
    t = TxTable.create(spark, str(tmp_path / "tbl"), base)
    fresh = spark.range(1000, 1010).select(
        F.lit(1).cast("long").alias("hr"), F.col("id").alias("v")
    )
    v = replace_where(t, fresh, "hr", 1, 1)
    assert v == 1  # exactly ONE commit for delete+insert
    got = t.read()
    assert got.where(F.col("hr") == 1).count() == 10  # hour replaced
    assert got.where(F.col("hr") != 1).count() == 200  # others intact
    # time travel still shows the pre-publish hour
    assert t.read(version=0).where(F.col("hr") == 1).count() == 100
    # rows outside the predicate are rejected, not silently written
    bad = spark.createDataFrame([(2, 1)], "hr long, v long")
    with pytest.raises(ValueError, match="outside"):
        replace_where(t, bad, "hr", 1, 1)
    # retried publish with the same txn id is absorbed
    from sandbox_data_pipeline_spark.sinks.writers import SkippedWrite as SW

    replace_where(t, fresh, "hr", 1, 1, txn=("pub", 7))
    with pytest.raises(SW):
        replace_where(t, fresh, "hr", 1, 1, txn=("pub", 7))


def test_vacuum_age_floor_spares_young_files(spark, tmp_path):
    """Default retain_seconds must NOT delete a freshly-written
    unreferenced file: a concurrent writer may have written data but
    not yet committed (ADVICE: write-then-commit race)."""
    t = _mk(spark, tmp_path)
    t.overwrite_all(spark.createDataFrame([(1, 1)], "k long, v long"))
    assert t.vacuum(retain_versions=1) == []
    # still fully time-travelable because nothing was deleted
    assert t.read(version=0).count() >= 1


def test_merge_rejects_duplicate_and_null_source_keys(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(
            spark.createDataFrame([(1, 10), (1, 20)], "k long, v long"), "k"
        )
    with pytest.raises(ValueError, match="null"):
        t.merge(
            spark.createDataFrame([(None, 10), (2, 20)], "k long, v long"),
            "k",
        )


def test_rejected_evolving_merge_commits_nothing(spark, tmp_path):
    """MERGE with schema evolution validates its source before the
    widening add_columns commit: a rejected source leaves the version
    and the schema as they were."""
    t = _mk(spark, tmp_path)
    schema = t.schema_at()
    for rows, match in (
        ([(1, 10, "a"), (1, 20, "b")], "duplicate"),
        ([(None, 10, "a"), (2, 20, "b")], "null"),
    ):
        src = spark.createDataFrame(rows, "k long, v long, grade string")
        with pytest.raises(ValueError, match=match):
            t.merge(src, "k", evolve_schema=True)
        assert t.latest_version() == 0
        assert t.schema_at() == schema


def test_every_write_call_commits_one_version(spark, tmp_path):
    """Version N is the N-th write call whatever the file layout: a
    delete, update or position delete that overlaps no file, and a
    merge of an empty source, still commit (with no adds or removes)."""
    t = _mk(spark, tmp_path)  # k 0..99
    files = set(t.snapshot())
    assert t.delete_where("k", 500, 600)["version"] == 1
    assert t.update_where("v", "v + 1", "k", 500, 600)["version"] == 2
    assert t.delete_where_positional("k", 500, 600)["version"] == 3
    assert t.merge(spark.createDataFrame([], "k long, v long"), "k") == 4
    assert [e["operation"] for e in t.history()] == [
        "create", "delete", "update", "pdelete", "merge",
    ]
    assert set(t.snapshot()) == files
    assert t.read().count() == 100


def test_refresh_rollup_on_shallow_clone(spark, tmp_path):
    """Clone v0 references files rooted at the SOURCE table; the first
    incremental refresh must resolve AddFile.base (ADVICE fix)."""
    from sandbox_data_pipeline_spark.sinks.txlog import clone, refresh_rollup

    t = _mk(spark, tmp_path)
    t.overwrite_all(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    )
    c = clone(t, spark, str(tmp_path / "cloned"))
    mv, ver = refresh_rollup(c, None, -1, "k", "v")
    got = {r["k"]: (r["total"], r["n"]) for r in mv.collect()}
    assert got == {1: (10, 1), 2: (20, 1)}
    c.append(spark.createDataFrame([(1, 5)], "k long, v long"))
    mv2, ver2 = refresh_rollup(c, mv, ver, "k", "v")
    got2 = {r["k"]: (r["total"], r["n"]) for r in mv2.collect()}
    assert got2 == {1: (15, 2), 2: (20, 1)}


def test_add_columns_schema_evolution(spark, tmp_path):
    """Widen-only evolution: metadata-only commit, NULL backfill on old
    files, time travel resolves the pre-evolution schema, append drift
    guard enforces the widened schema, duplicates rejected."""
    import pytest

    from sandbox_data_pipeline_spark.sinks.txlog import TxTable

    t = TxTable.create(
        spark, str(tmp_path / "evo"),
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"),
    )
    v = t.add_columns([("note", "string"), ("w", "int")])
    h = t.history()[v]
    assert h["operation"] == "add_columns"
    assert h["n_add"] == 0 and h["n_remove"] == 0  # metadata-only commit

    # old snapshot keeps the narrow schema
    assert [f.name for f in t.read(version=0).schema.fields] == ["id", "v"]
    # widened read backfills NULLs for pre-evolution files
    rows = {r["id"]: r for r in t.read().collect()}
    assert rows[1]["note"] is None and rows[1]["w"] is None

    # appends must now match the widened schema
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(3, 30.0)], "id long, v double"))
    t.append(
        spark.createDataFrame([(3, 30.0, "x", 7)], "id long, v double, note string, w int")
    )
    got = sorted((r["id"], r["note"], r["w"]) for r in t.read().collect())
    assert got == [(1, None, None), (2, None, None), (3, "x", 7)]

    with pytest.raises(ValueError):
        t.add_columns([("note", "string")])


def test_check_constraints(spark, tmp_path):
    """CHECK constraints: metadata commit, atomic batch rejection,
    existing-data validation at add time, overwrite enforcement."""
    import pytest

    from sandbox_data_pipeline_spark.sinks.txlog import TxTable

    t = TxTable.create(
        spark, str(tmp_path / "cc"),
        spark.createDataFrame([(1, 10.0)], "id long, qty double"),
    )
    t.add_constraint("cap", "qty <= 100")
    assert t.constraints_at() == {"cap": "qty <= 100"}

    before = t.latest_version()
    with pytest.raises(ValueError, match="cap"):
        t.append(spark.createDataFrame([(2, 50.0), (3, 500.0)], "id long, qty double"))
    # atomic: nothing from the rejected batch landed, no commit happened
    assert t.latest_version() == before
    assert sorted(r.id for r in t.read().collect()) == [1]

    with pytest.raises(ValueError, match="cap"):
        t.overwrite_all(spark.createDataFrame([(9, 101.0)], "id long, qty double"))

    with pytest.raises(ValueError, match="existing"):
        TxTable.create(
            spark, str(tmp_path / "cc2"),
            spark.createDataFrame([(1, -1.0)], "id long, qty double"),
        ).add_constraint("pos", "qty >= 0")


def test_position_deletes(spark, tmp_path):
    """Deletion vectors: rewrite-free delete, DV-aware reads everywhere
    (snapshot, time travel, rewriting delete, merge, optimize), the
    active/inert guard lifecycle, and idempotent txn suppression."""
    from sandbox_data_pipeline_spark.sinks.txlog import (
        TxTable,
        clone,
        optimize,
        restore,
        table_changes,
    )

    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).repartitionByRange(4, "k")
    t = TxTable.create(spark, str(tmp_path / "tbl"), base)
    res = t.delete_where_positional("k", 10, 19)
    assert res["n_deleted"] == 10
    h = t.history()[res["version"]]
    assert h["operation"] == "pdelete" and h["n_add"] == 0 and h["n_remove"] == 0
    assert t.read().count() == 90
    assert t.read().where(F.col("k").between(10, 19)).count() == 0
    assert t.read(version=0).count() == 100  # time travel unaffected

    # guard: active while the DV'd files are in the snapshot
    with pytest.raises(ValueError, match="position deletes"):
        clone(t, spark, str(tmp_path / "c1"))
    with pytest.raises(ValueError, match="position deletes"):
        restore(t, 0)
    with pytest.raises(ValueError, match="position deletes"):
        table_changes(t, 0, t.latest_version())

    # rewriting ops read THROUGH the DV layer — no resurrection
    t.delete_where("k", 15, 24)  # overlaps the DV'd file
    assert t.read().count() == 85  # 10 DV'd + 5 more (15..19 already gone)
    assert t.read().where(F.col("k").between(10, 24)).count() == 0
    src = spark.createDataFrame([(11, 999)], "k long, v long")
    t.merge(src, "k")  # k=11 was deleted: merge must INSERT, not revive
    got = t.read()
    assert got.where(F.col("k") == 11).count() == 1
    assert got.count() == 86

    # the rewriting delete superseded the DV'd files -> markers went
    # inert and every operation composes again (optimize also works)
    optimize(t)
    assert t.read().count() == 86
    assert clone(t, spark, str(tmp_path / "c2")).read().count() == 86

    # second positional delete hitting nothing
    res2 = t.delete_where_positional("k", 5000, 6000)
    assert res2["n_deleted"] == 0


def test_txlog_stream_refuses_position_deletes(spark, tmp_path):
    """An append-only stream cannot represent a markers-only delete —
    even under ignoreChanges — so the source must fail loudly."""
    from sandbox_data_pipeline_spark.sources.txlog_stream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    t = _mk(spark, tmp_path, n=20)
    t.delete_where_positional("k", 0, 4)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("txlog")
        .option("path", t.path)
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="position deletes"):
        q.awaitTermination()


class TestPartitionEvolution:
    def _mk(self, spark, tmp_path, n=200):
        from pyspark.sql import functions as F

        from sandbox_data_pipeline_spark.sinks.txlog import TxTable

        docs = spark.range(0, n).select(
            F.col("id").alias("doc_id"),
            F.element_at(
                F.array(*[F.lit(x) for x in ["de", "en", "fr", "ja", "zh"]]),
                (F.col("id") % 5 + 1).cast("int"),
            ).alias("lang"),
            (F.col("id") * 7 % 100).alias("n_chars"),
        )
        old = docs.where("doc_id % 2 = 0")
        new = docs.where("doc_id % 2 = 1")
        t = TxTable.create(
            spark, str(tmp_path / "t"), old.repartitionByRange(2, "doc_id")
        )
        return t, old, new

    def test_spec_is_metadata_only_and_files_remember_theirs(
        self, spark, tmp_path
    ):
        t, old, new = self._mk(spark, tmp_path)
        files_before = set(t.snapshot().keys())
        v = t.set_partition_spec(["lang"])
        assert set(t.snapshot().keys()) == files_before  # nothing rewritten
        assert t._read_entry(v)["add"] == [] and t._read_entry(v)["remove"] == []
        t.append(new)
        by_spec = {}
        for f in t.snapshot().values():
            by_spec.setdefault(f.spec_id, []).append(f)
        assert len(by_spec[0]) == 2 and all(
            f.partition is None for f in by_spec[0]
        )
        assert len(by_spec[1]) == 5  # one file per language
        assert all(f.partition == {"lang": f.partition["lang"]} for f in by_spec[1])

    def test_read_restores_partition_columns_exactly(self, spark, tmp_path):
        t, old, new = self._mk(spark, tmp_path)
        t.set_partition_spec(["lang"])
        t.append(new)
        want = {
            (r["doc_id"], r["lang"], r["n_chars"])
            for r in old.unionByName(new).collect()
        }
        got = {
            (r["doc_id"], r["lang"], r["n_chars"]) for r in t.read().collect()
        }
        assert got == want
        # time travel to the pre-spec version still works
        assert t.read(version=0).count() == old.count()

    def test_partition_pruning_via_stats(self, spark, tmp_path):
        from sandbox_data_pipeline_spark.sinks.txlog import files_skipped

        t, old, new = self._mk(spark, tmp_path)
        t.set_partition_spec(["lang"])
        t.append(new)
        r = files_skipped(t, "lang", "en", "en")
        assert r == {"files_total": 7, "files_read": 3}  # 2 old + 1 'en'

    def test_rewrites_and_pdels_compose_with_spec(self, spark, tmp_path):
        t, old, new = self._mk(spark, tmp_path)
        t.set_partition_spec(["lang"])
        t.append(new)
        n = t.read().count()
        t.delete_where("doc_id", 0, 9)
        assert t.read().count() == n - 10
        d = t.delete_where_positional("doc_id", 10, 19)
        assert d["n_deleted"] == 10
        assert t.read().count() == n - 20

    def test_invalid_spec_column_rejected(self, spark, tmp_path):
        import pytest

        t, _old, _new = self._mk(spark, tmp_path)
        with pytest.raises(ValueError):
            t.set_partition_spec(["nope"])


def test_txlog_stream_restores_partition_columns(spark, tmp_path):
    """Streaming from a table with an active partition spec must
    re-attach the hive partition values (they are not in the file
    payloads) in declared-schema order."""
    from pyspark.sql import functions as F

    from sandbox_data_pipeline_spark.sinks.txlog import TxTable
    from sandbox_data_pipeline_spark.sources.txlog_stream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("de"), F.lit("en")), (F.col("id") % 2 + 1).cast("int")
        ).alias("lang"),
    )
    t = TxTable.create(spark, str(tmp_path / "t"), docs.where("doc_id < 20"))
    t.set_partition_spec(["lang"])
    t.append(docs.where("doc_id >= 20"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("txlog")
        .option("path", t.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 40
    got = {(r["doc_id"], r["lang"]) for r in rows}
    want = {(r["doc_id"], r["lang"]) for r in docs.collect()}
    assert got == want


def test_optimize_scoped_by_predicate(spark, tmp_path):
    """where=(col,lo,hi) compacts ONLY the overlapping files; every
    other file survives the commit untouched (same path, same bytes)."""
    from sandbox_data_pipeline_spark.sinks.txlog import TxTable, optimize

    base = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).repartitionByRange(4, "k")
    t = TxTable.create(spark, str(tmp_path / "tbl"), base)
    before = t.snapshot()
    untouched_before = {
        p: f.bytes
        for p, f in before.items()
        if f.stats["k"]["max"] < 0 or f.stats["k"]["min"] > 99
    }
    assert untouched_before  # some files lie wholly outside the range
    r = optimize(t, where=("k", 0, 99), num_files=1)
    assert r["files_before"] < len(before)
    after = t.snapshot()
    for p, b in untouched_before.items():
        assert p in after and after[p].bytes == b
    assert t.read().count() == 400  # no logical change
    # scoped optimize on a partitioned table compacts one partition
    docs = spark.range(0, 100).select(
        F.col("doc_id").alias("doc_id") if False else F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("de"), F.lit("en")), (F.col("id") % 2 + 1).cast("int")
        ).alias("lang"),
    )
    t2 = TxTable.create(spark, str(tmp_path / "t2"), docs.where("doc_id < 50"))
    t2.set_partition_spec(["lang"])
    t2.append(docs.where("doc_id >= 50"))
    t2.append(docs.where("doc_id >= 50"))  # duplicate appends → small files
    n_en_before = sum(
        1 for f in t2.snapshot().values() if (f.partition or {}).get("lang") == "en"
    )
    assert n_en_before == 2
    optimize(t2, where=("lang", "en", "en"), num_files=1)
    snap = t2.snapshot()
    # the 'en' partition files AND the pre-spec create file (its lang
    # stats span 'en') were compacted — and the spec-aware rewrite
    # MIGRATES the old-spec rows into the current layout: one 'en'
    # file, the create file's 'de' rows land as a third 'de' file,
    # no unpartitioned file remains
    assert sum(1 for f in snap.values() if (f.partition or {}).get("lang") == "en") == 1
    assert sum(1 for f in snap.values() if (f.partition or {}).get("lang") == "de") == 3
    assert sum(1 for f in snap.values() if f.partition is None) == 0
    assert t2.read().count() == 150


def test_hidden_partitioning_generated_column(spark, tmp_path):
    """A generated partition column drives the layout but never leaks
    into the schema; reads are exact; a typo'd transform fails at
    set_partition_spec time, not first write."""
    from sandbox_data_pipeline_spark.sinks.txlog import TxTable

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    t = TxTable.create(spark, str(tmp_path / "t"), df.where("k < 50"))
    with pytest.raises(Exception):
        t.set_partition_spec([{"name": "bad", "expr": "nope(k)"}])
    with pytest.raises(ValueError, match="collides"):
        t.set_partition_spec([{"name": "v", "expr": "k % 3"}])
    t.set_partition_spec([{"name": "kbucket", "expr": "CAST(k DIV 25 AS INT)"}])
    t.append(df.where("k >= 50"))
    assert [f.name for f in t.read().schema.fields] == ["k", "v"]
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(r["k"], r["v"]) for r in df.collect()}
    parted = [f for f in t.snapshot().values() if f.partition]
    assert {f.partition["kbucket"] for f in parted} == {2, 3}
    # source-column pruning through the clustered footer stats
    from sandbox_data_pipeline_spark.sinks.txlog import files_skipped

    r = files_skipped(t, "k", 80, 90)
    assert r["files_read"] < r["files_total"]


@pytest.mark.slow
def test_bloom_index_no_false_negatives_and_conservative_appends(
    spark, tmp_path
):
    import random

    from sandbox_data_pipeline_spark.sinks.txlog import (
        TxTable,
        _bloom_positions_py,
        build_bloom_index,
        files_skipped_bloom,
    )

    rng = random.Random(3)
    vals = [rng.randrange(0, 1 << 40) for _ in range(400)]
    df = spark.createDataFrame(
        [(i % 4, v) for i, v in enumerate(vals)], "fb: int, u: long"
    )
    t = TxTable.create(spark, str(tmp_path / "t"), df)
    t.set_partition_spec(["fb"])
    t.overwrite_all(df)
    build_bloom_index(t, "u")
    # NO false negative: every present value keeps >= its home file,
    # and filtering the kept files still finds the row
    for v in rng.sample(vals, 25):
        r = files_skipped_bloom(t, "u", v)
        assert r["files_read"] >= 1
        assert t.read().where(F.col("u") == v).count() >= 1
    # pure-Python probe positions == the Spark-side md5 family
    pos = _bloom_positions_py(vals[0], 256, 3)
    assert len(pos) == 3 and all(0 <= p < 256 for p in pos)
    # files added AFTER the index have no bloom → conservatively read
    t.append(spark.createDataFrame([(9, 424242)], "fb: int, u: long"))
    r = files_skipped_bloom(t, "u", 424242)
    assert r["files_read"] >= 1  # the un-indexed file is never pruned
    assert t.read().where("u = 424242").count() == 1


def test_merge_conditional_clauses(spark, tmp_path):
    """WHEN MATCHED AND cond THEN UPDATE/DELETE + insert gating —
    Delta's clause surface on the txlog merge."""
    t = _mk(spark, tmp_path)  # k 0..99, v = 10k
    src = spark.createDataFrame(
        [(5, 999), (6, 1), (150, 111)], "k long, v long"
    )
    # update only when the source value is LARGER; no inserts
    t.merge(
        src,
        "k",
        matched_condition="s.v > t.v",
        insert_unmatched=False,
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == 999  # 999 > 50 → updated
    assert got[6] == 60  # 1 < 60 → target kept
    assert 150 not in got  # insert suppressed
    assert len(got) == 100
    # conditional DELETE of matched rows
    t.merge(
        spark.createDataFrame([(5, 0), (7, 0)], "k long, v long"),
        "k",
        when_matched="delete",
        matched_condition="t.v >= 500",
        insert_unmatched=False,
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert 5 not in got  # v=999 >= 500 → deleted
    assert got[7] == 70  # condition false → kept
    assert len(got) == 99
    with pytest.raises(ValueError, match="update|delete"):
        t.merge(src, "k", when_matched="upsert")


def test_time_travel_by_timestamp(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path, n=10)
    ts_after_v0 = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(1000, 1)], "k long, v long"))
    assert t.read(as_of_ts=ts_after_v0).count() == 10
    assert t.read(as_of_ts=_time.time()).count() == 11
    assert t.version_at_timestamp(_time.time()) == 1
    with pytest.raises(ValueError, match="no commit"):
        t.version_at_timestamp(0.0)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=0, as_of_ts=_time.time())


def test_update_where_prunes_and_mutates(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.txlog import TxTable

    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    t = TxTable.create(
        spark, str(tmp_path / "u"), df.repartitionByRange(4, "k")
    )
    res = t.update_where("v", "v + 1000", "k", 10, 19)
    assert res["files_rewritten"] < res["files_total"]  # pruning engaged
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[10] == 1020 and got[19] == 1038
    assert got[9] == 18 and got[20] == 40
    # time travel reads pre-update values
    v0 = {r["k"]: r["v"] for r in t.read(version=0).collect()}
    assert v0[10] == 20
    # CHECK constraints veto a violating update atomically
    t.add_constraint("v_cap", "v < 100000")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CHECK"):
        t.update_where("v", "v + 1000000", "k", 0, 5)
    assert {r["k"]: r["v"] for r in t.read().collect()} == got
    # unknown column refused
    with _pytest.raises(ValueError, match="no column"):
        t.update_where("nope", "1", "k", 0, 1)


def test_lakehouse_lifecycle_cuts_only_its_result(spark, sf_dir, monkeypatch):
    """The scratch-table shape (queries/txlog.py): q_lakehouse_lifecycle
    reads its four snapshots lazily by version and cuts once, so the
    frame it returns is the only locally checkpointed one it makes;
    its temp dir is gone when it returns, and the result still reads."""
    import glob
    import tempfile

    from sandbox_data_pipeline_spark.queries.txlog import q_lakehouse_lifecycle

    frame_cls = type(spark.range(1))
    real_cut = frame_cls.localCheckpoint
    cuts = []

    def counted_cut(self, *args, **kwargs):
        cuts.append(real_cut(self, *args, **kwargs))
        return cuts[-1]

    monkeypatch.setattr(frame_cls, "localCheckpoint", counted_cut)
    scratch = os.path.join(tempfile.gettempdir(), "txlife_*")
    before = set(glob.glob(scratch))
    out = q_lakehouse_lifecycle(spark, sf_dir)
    assert len(cuts) == 1 and cuts[0] is out
    assert set(glob.glob(scratch)) - before == set()
    assert out.count() == 6


# --- one fold, one pruned read through position deletes -------------------


def _four_files(spark, tmp_path, **cols):
    """k 0..399 in four range files, plus ``cols`` (name -> expression
    over ``id``)."""
    base = spark.range(0, 400).select(
        F.col("id").alias("k"),
        *[F.expr(e).alias(name) for name, e in cols.items()],
    )
    return TxTable.create(spark, str(tmp_path / "tbl"), base.repartitionByRange(4, "k"))


def test_replace_where_keeps_position_deletes(spark, tmp_path):
    """replace_where keeps the out-of-range rows of the files it
    touches by reading them through the DV layer, so rows deleted
    positionally before stay deleted."""
    from sandbox_data_pipeline_spark.sinks.txlog import replace_where

    t = _four_files(spark, tmp_path, v="id * 10")
    t.delete_where_positional("k", 10, 19)
    fresh = spark.range(0, 5).select(F.col("id").alias("k"), F.col("id").alias("v"))
    replace_where(t, fresh, "k", 0, 9)
    got = t.read()
    assert got.where(F.col("k").between(10, 19)).count() == 0
    assert got.count() == 400 - 10 - 10 + 5


def test_replace_where_prunes_by_physical_column(spark, tmp_path):
    """After a rename the footer stats still carry the PHYSICAL name:
    replace_where removes exactly the files files_skipped counts, not
    every file."""
    from sandbox_data_pipeline_spark.sinks.txlog import files_skipped, replace_where

    t = _four_files(spark, tmp_path, hr="id div 100")
    t.rename_column("hr", "hour")
    overlap = files_skipped(t, "hour", 1, 1)
    assert overlap["files_read"] < overlap["files_total"]
    fresh = spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("hour")
    )
    v = replace_where(t, fresh, "hour", 1, 1)
    assert t.history()[v]["n_remove"] == overlap["files_read"]
    got = t.read()
    assert got.where(F.col("hour") == 1).count() == 3
    assert got.count() == 303


def test_ivm_refreshers_refuse_position_deletes(spark, tmp_path):
    """A position-delete commit is not an append (the stream source's
    rule): every log-driven refresher raises on it, incrementally and
    as a full recompute, instead of counting the deleted rows."""
    from sandbox_data_pipeline_spark.sinks.txlog import (
        refresh_dd_sketch,
        refresh_media_fingerprints,
        refresh_rollup,
    )

    t = _four_files(spark, tmp_path, g="id % 4", v="id")
    mv, ver = refresh_rollup(t, None, -1, "g", "v")
    assert sorted(r["n"] for r in mv.collect()) == [100] * 4
    t.delete_where_positional("k", 0, 99)
    assert sorted(r["count"] for r in t.read().groupBy("g").count().collect()) == [75] * 4
    for refresh in (
        lambda: refresh_rollup(t, mv, ver, "g", "v"),
        lambda: refresh_rollup(t, None, -1, "g", "v"),
        lambda: refresh_dd_sketch(t, mv, ver, "g", "v"),
        lambda: refresh_dd_sketch(t, None, -1, "g", "v"),
        lambda: refresh_media_fingerprints(t, mv, ver),
    ):
        with pytest.raises(ValueError, match="full recompute"):
            refresh()


def test_files_skipped_maps_the_columns_of_its_version(spark, tmp_path):
    """files_skipped(version=0) prunes with the column mapping of v0,
    not the latest one (where logical ``x`` names another column)."""
    from sandbox_data_pipeline_spark.sinks.txlog import files_skipped

    t = _four_files(spark, tmp_path, x="id div 100", y="id % 4")
    t.rename_column("x", "tmp")
    t.rename_column("y", "x")
    at_v0 = files_skipped(t, "x", 1, 1, version=0)
    assert at_v0 == files_skipped(t, "tmp", 1, 1)  # the same physical column
    assert at_v0["files_read"] < at_v0["files_total"]
    assert files_skipped(t, "x", 1, 1)["files_read"] == at_v0["files_total"]


def test_state_reads_replay_from_the_checkpoint(spark, tmp_path, monkeypatch):
    """A checkpoint holds the whole folded state, so schema, CHECK
    constraints and column mapping at the tail replay only the entries
    after it, not the log back to v0."""
    t = _mk(spark, tmp_path, n=10)
    t.add_constraint("v_nonneg", "v >= 0")
    t.rename_column("k", "key")
    row = spark.createDataFrame([(1000, 1)], "key long, v long")
    while t.latest_version() <= CHECKPOINT_EVERY:
        t.append(row)
    reads = []
    real = TxTable._read_entry
    monkeypatch.setattr(
        TxTable, "_read_entry", lambda self, v: reads.append(v) or real(self, v)
    )
    assert [f.name for f in t.schema_at().fields] == ["key", "v"]
    assert t.constraints_at() == {"v_nonneg": "v >= 0"}
    assert t.column_mapping_at() == {"key": "k", "v": "v"}
    assert 0 < len(reads) <= CHECKPOINT_EVERY
    assert t.read().count() == 10 + t.latest_version() - 2


def test_txlog_reads_state_one_way():
    """Tripwire: in sinks/txlog.py the file-pruning rule (a ``.stats[``
    subscript) lives only in ``_prune``, and loops over ``_read_entry``
    only in the fold and in the readers of events, not state."""
    import ast
    import inspect

    from sandbox_data_pipeline_spark.sinks import txlog

    event_readers = {
        "_state",
        "history",
        "version_at_timestamp",
        "_commit",
        "table_changes",
        "_appended_since",
    }
    loops = (ast.For, ast.While, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)
    stats, entry_loops = set(), set()

    def walk(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "stats"
        ):
            stats.add(fn)
        if isinstance(node, loops) and any(
            isinstance(n, ast.Attribute) and n.attr == "_read_entry"
            for n in ast.walk(node)
        ):
            entry_loops.add(fn)
        for child in ast.iter_child_nodes(node):
            walk(child, fn)

    walk(ast.parse(inspect.getsource(txlog)), None)
    assert stats == {"_prune"}
    assert entry_loops <= event_readers
    assert "_state" in entry_loops
