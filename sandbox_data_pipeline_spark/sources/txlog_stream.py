"""Structured-Streaming source over a TxTable commit log (Python Data
Source API, Spark 4) — the engine's own change feed.

The reference's incremental surface is "poll the upstream until the
hour's files land, then process the hour" (sensor tasks,
/root/reference/dags/sandbox_data_pipeline.py:182-198 + the GCS
sensors at :262-272). With a transactional table the arrival signal IS
the commit log: every committed version is a durable, ordered,
replayable batch boundary. This source streams a TxTable by VERSION —

    spark.dataSource.register(TxLogStreamDataSource)
    spark.readStream.format("txlog")
         .option("path", table_root)
         .load()                # table columns + _commit_version

so downstream windows/dedup/publish consume exactly the rows each
commit added, with checkpointed exactly-once offsets and no
re-listing, no modification-time heuristics, no sensor loops (what
file-source streaming has to do against a bare directory).

Offsets are log versions — durable and monotonic in the log itself,
so restarts need no side state (contrast the poll source's high-water
mark): a checkpoint at version N simply resumes at N, and replay of a
planned-but-uncommitted batch re-reads exactly the same files (commit
data files are immutable).

Scale: one InputPartition per added FILE (not per commit), so a large
backfill commit fans out across executors; executors read parquet via
Arrow and ship columnar batches. Appends and creates stream cleanly;
a commit that REMOVES files (delete/merge/overwrite) is not
expressible as an append-only feed, so the source fails loudly unless
``ignoreChanges=true`` opts into add-only semantics (the documented
Delta-streaming trade: downstream must tolerate re-emitted or
superseded rows).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

VERSION_COL = "_commit_version"


class _CommitFilePartition(InputPartition):
    def __init__(
        self,
        version: int,
        abs_path: str,
        partition: dict | None = None,
        cols: list | None = None,
        col_types: dict | None = None,
    ):
        self.version = version
        self.abs_path = abs_path
        # hive partition values for files written under a partition
        # spec: the values are NOT in the file payload and must be
        # re-attached as constant columns, in declared-schema order
        # and with the DECLARED type (col_types: name -> Spark
        # simpleString) — letting Arrow infer would hand a pa.int64
        # column to a declared int32 schema slot, or re-int a STRING
        # partition value, and the batch would not match the source
        # schema the driver promised
        self.partition = partition
        self.cols = cols
        self.col_types = col_types or {}


class TxLogStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path", "").rstrip("/")
        if not self.path:
            raise ValueError("option 'path' (table root) is required")
        self.ignore_changes = (
            options.get("ignorechanges", options.get("ignoreChanges", "false"))
            .lower()
            == "true"
        )
        self.start_version = int(options.get("startingversion", "0"))
        # Backfill throttle: cap how many log versions one micro-batch
        # may cover (Delta's maxFilesPerTrigger analog at version
        # granularity). 0 = unthrottled. A fresh reader does not know
        # the checkpointed offset, so the cap anchors on the highest
        # version this INSTANCE has seen (updated in partitions());
        # before the first batch the cap may undershoot the committed
        # offset, which is safe — partitions() returns [] for an
        # inverted range and the anchor catches up on that batch.
        self.max_versions = int(
            options.get("maxversionspertrigger", options.get("maxVersionsPerTrigger", "0"))
        )
        self._seen = self.start_version

    def _table(self):
        from sandbox_data_pipeline_spark.sinks.txlog import TxTable

        return TxTable(None, self.path)

    def initialOffset(self):
        return {"version": self.start_version}

    def latestOffset(self):
        try:
            tail = self._table().latest_version() + 1
        except FileNotFoundError:
            return {"version": self.start_version}
        if self.max_versions > 0:
            tail = min(tail, self._seen + self.max_versions)
        return {"version": max(tail, self._seen)}

    def partitions(self, start, end):
        t = self._table()
        self._seen = max(self._seen, start["version"], end["version"])
        parts = []
        # one fold: the state before the batch, then each entry applied
        st = t._state(start["version"] - 1)
        for v in range(start["version"], end["version"]):
            e = t._read_entry(v)
            if e.get("remove") and not self.ignore_changes:
                raise ValueError(
                    f"commit v{v} ({e['operation']}) removes files; an "
                    "append-only stream cannot represent it — set "
                    "ignoreChanges=true to stream adds only, accepting "
                    "re-emitted rows"
                )
            if e.get("pdel"):
                # same contract as removes, but ignoreChanges can't
                # soften it: a position delete ADDS no file at all, so
                # an add-only feed would silently miss the logical
                # deletes — compact (optimize) before streaming on
                raise ValueError(
                    f"commit v{v} carries position deletes, which an "
                    "append-only stream cannot represent; run "
                    "optimize() to compact them first"
                )
            st.apply(e)
            schema_v = st.struct()
            for a in e.get("add", []):
                # shallow-clone entries reference files by absolute base
                parts.append(
                    _CommitFilePartition(
                        v,
                        os.path.join(a.get("base", self.path), a["path"]),
                        a.get("partition"),
                        [f.name for f in schema_v.fields],
                        {
                            f.name: f.dataType.simpleString()
                            for f in schema_v.fields
                        },
                    )
                )
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow_of = {
            "tinyint": pa.int8(),
            "smallint": pa.int16(),
            "int": pa.int32(),
            "bigint": pa.int64(),
            "float": pa.float32(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
            "string": pa.string(),
            "date": pa.date32(),
        }
        tbl = pq.read_table(partition.abs_path)
        if partition.partition:
            for k, v in partition.partition.items():
                ty = arrow_of.get(partition.col_types.get(k))
                tbl = tbl.append_column(
                    k, pa.array([v] * tbl.num_rows, type=ty)
                )
            tbl = tbl.select(partition.cols)
        ver = pa.array([partition.version] * tbl.num_rows, type=pa.int64())
        tbl = tbl.append_column(VERSION_COL, ver)
        yield from tbl.to_batches()

    def commit(self, end):
        pass  # offsets are durable in the log; nothing to release


class TxLogStreamDataSource(DataSource):
    """spark.readStream.format("txlog") — see TxLogStreamReader."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self):
        from pyspark.sql import types as T

        from sandbox_data_pipeline_spark.sinks.txlog import TxTable

        base = TxTable(None, self.options["path"]).schema_at()
        return T.StructType(
            list(base.fields) + [T.StructField(VERSION_COL, T.LongType())]
        )

    def streamReader(self, schema):
        return TxLogStreamReader(self.options)
