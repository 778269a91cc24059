"""SQL facade over the transactional-table layer — the statement
surface a SQL-first user (the reference's Jinja-SQL DAGs are exactly
that) drives the lakehouse with, without learning the TxTable API.

Design rules, stated up front:

* Every statement matches ONE anchored, case-insensitive regex.
  Anything that doesn't match raises ``TxSqlError`` loudly — there is
  no "best effort" parse and no silent fallthrough to spark.sql, so a
  typo cannot half-run (plain SELECTs over registered temp views are
  the one documented delegation, and only when the statement names no
  managed table).
* The facade TRANSLATES; it never reimplements. Each statement maps
  1:1 onto the TxTable operation that already carries the OCC /
  constraint / column-mapping semantics and tests.
* Table names resolve under one ``base_dir`` (``name`` →
  ``<base_dir>/<name>``); embedded SELECTs run through ``spark.sql``
  verbatim, so the full Spark SQL surface is available inside
  CREATE/INSERT/MERGE sources.

Statement surface (one line each):

  CREATE TABLE t AS <select>
  INSERT INTO t <select>
  DELETE FROM t WHERE col BETWEEN lo AND hi
  UPDATE t SET col = <expr> WHERE col2 BETWEEN lo AND hi
  MERGE INTO t USING (<select>) ON KEY col [EVOLVE SCHEMA]
  ALTER TABLE t RENAME COLUMN a TO b
  ALTER TABLE t DROP COLUMN a
  ALTER TABLE t ADD COLUMNS (a TYPE[, ...])
  ALTER TABLE t ADD CONSTRAINT name CHECK (<predicate>)
  ALTER TABLE t DROP CONSTRAINT name
  SELECT * FROM t [VERSION AS OF k]
  DESCRIBE HISTORY t
  DESCRIBE DETAIL t
  RESTORE TABLE t TO VERSION AS OF k
  OPTIMIZE t [ZORDER BY (a, b)]
  VACUUM t [RETAIN k VERSIONS]

Numeric literals in DELETE bounds parse as int when integral, float
otherwise; quoted literals stay strings — the same typed-value
discipline the partition-value path enforces.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from sandbox_data_pipeline_spark.sinks.txlog import (
    TxTable,
    optimize,
    restore,
)


class TxSqlError(ValueError):
    """Unparseable or unsupported statement — raised instead of any
    silent partial execution."""


def _lit(s: str):
    s = s.strip()
    if (s.startswith("'") and s.endswith("'")) or (
        s.startswith('"') and s.endswith('"')
    ):
        return s[1:-1]
    try:
        f = float(s)
    except ValueError:
        raise TxSqlError(f"cannot parse literal {s!r}")
    return int(f) if f.is_integer() and "." not in s and "e" not in s.lower() else f


_STMTS: list[tuple[re.Pattern, str]] = [
    (re.compile(r"^CREATE\s+TABLE\s+(\w+)\s+AS\s+(.+)$", re.I | re.S), "create"),
    (re.compile(r"^INSERT\s+INTO\s+(\w+)\s+(.+)$", re.I | re.S), "insert"),
    (
        re.compile(
            r"^DELETE\s+FROM\s+(\w+)\s+WHERE\s+(\w+)\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)$",
            re.I,
        ),
        "delete",
    ),
    (
        re.compile(
            r"^UPDATE\s+(\w+)\s+SET\s+(\w+)\s*=\s*(.+?)\s+WHERE\s+(\w+)"
            r"\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)$",
            re.I | re.S,
        ),
        "update",
    ),
    (
        re.compile(
            r"^MERGE\s+INTO\s+(\w+)\s+USING\s+\((.+)\)\s+ON\s+KEY\s+(\w+)"
            r"(\s+EVOLVE\s+SCHEMA)?$",
            re.I | re.S,
        ),
        "merge",
    ),
    (
        re.compile(
            r"^ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$",
            re.I,
        ),
        "rename",
    ),
    (re.compile(r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)$", re.I), "drop"),
    (
        re.compile(r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS\s*\((.+)\)$", re.I),
        "add_columns",
    ),
    (
        re.compile(
            r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)$",
            re.I | re.S,
        ),
        "add_constraint",
    ),
    (
        re.compile(
            r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)$", re.I
        ),
        "drop_constraint",
    ),
    (
        re.compile(
            r"^SELECT\s+\*\s+FROM\s+(\w+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?$",
            re.I,
        ),
        "select",
    ),
    (re.compile(r"^DESCRIBE\s+HISTORY\s+(\w+)$", re.I), "history"),
    (re.compile(r"^DESCRIBE\s+DETAIL\s+(\w+)$", re.I), "detail"),
    (
        re.compile(
            r"^RESTORE\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)$", re.I
        ),
        "restore",
    ),
    (
        re.compile(
            r"^OPTIMIZE\s+(\w+)(?:\s+ZORDER\s+BY\s*\((\w+)\s*,\s*(\w+)\))?$",
            re.I,
        ),
        "optimize",
    ),
    (
        re.compile(
            r"^VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?$", re.I
        ),
        "vacuum",
    ),
]


class TxSql:
    """Statement router bound to one table directory."""

    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        self.base = base_dir

    def _t(self, name: str) -> TxTable:
        return TxTable(self.spark, os.path.join(self.base, name))

    def sql(self, statement: str):
        """Execute one statement. DataFrame-producing statements
        (SELECT / DESCRIBE HISTORY) return a DataFrame; mutations
        return the TxTable result (version int or stats dict)."""
        stmt = statement.strip().rstrip(";").strip()
        for pat, kind in _STMTS:
            m = pat.match(stmt)
            if m:
                return getattr(self, f"_do_{kind}")(*m.groups())
        raise TxSqlError(
            f"unsupported statement (see module docstring for the "
            f"surface): {stmt[:120]!r}"
        )

    # --- handlers -------------------------------------------------

    def _do_create(self, name: str, select: str):
        t = TxTable.create(self.spark, self._t(name).path, self.spark.sql(select))
        return t.latest_version()

    def _do_insert(self, name: str, select: str):
        return self._t(name).append(self.spark.sql(select))

    def _do_delete(self, name: str, col: str, lo: str, hi: str):
        return self._t(name).delete_where(col, _lit(lo), _lit(hi))

    def _do_update(
        self, name: str, set_col: str, expr: str, col: str, lo: str, hi: str
    ):
        return self._t(name).update_where(set_col, expr, col, _lit(lo), _lit(hi))

    def _do_merge(self, name: str, select: str, key: str, evolve: str | None):
        return self._t(name).merge(
            self.spark.sql(select), key, evolve_schema=bool(evolve)
        )

    def _do_rename(self, name: str, old: str, new: str):
        return self._t(name).rename_column(old, new)

    def _do_drop(self, name: str, col: str):
        return self._t(name).drop_column(col)

    def _do_add_columns(self, name: str, cols: str):
        parsed = []
        for item in cols.split(","):
            parts = item.strip().split(None, 1)
            if len(parts) != 2:
                raise TxSqlError(f"ADD COLUMNS item {item.strip()!r}: want 'name TYPE'")
            parsed.append((parts[0], parts[1]))
        return self._t(name).add_columns(parsed)

    def _do_add_constraint(self, name: str, cname: str, pred: str):
        return self._t(name).add_constraint(cname, pred)

    def _do_drop_constraint(self, name: str, cname: str):
        return self._t(name).drop_constraint(cname)

    def _do_select(self, name: str, version: str | None) -> DataFrame:
        return self._t(name).read(
            version=int(version) if version is not None else None
        )

    def _do_history(self, name: str) -> DataFrame:
        rows = self._t(name).history()
        return self.spark.createDataFrame(
            [
                (
                    h["version"],
                    h["operation"],
                    h["n_add"],
                    h["n_remove"],
                    h["rows_added"],
                )
                for h in rows
            ],
            "version int, operation string, n_add int, n_remove int, rows_added long",
        )

    def _do_detail(self, name: str) -> DataFrame:
        st = self._t(name)._state()
        snap = st.files
        return self.spark.createDataFrame(
            [
                (
                    st.version,
                    len(snap),
                    int(sum(f.bytes for f in snap.values())),
                    int(sum(f.rows for f in snap.values())),
                    ",".join(f.name for f in st.struct().fields),
                    str(st.spec["cols"]) if st.spec else None,
                    ",".join(sorted(st.constraints)) or None,
                    str(st.mapping) if st.mapping else None,
                )
            ],
            "version int, n_files int, size_bytes long, n_rows long, "
            "columns string, partition_spec string, constraints string, "
            "column_mapping string",
        )

    def _do_restore(self, name: str, version: str):
        return restore(self._t(name), int(version))

    def _do_optimize(self, name: str, za: str | None, zb: str | None):
        zorder = (za, zb) if za and zb else None
        return optimize(self._t(name), zorder_by=zorder)

    def _do_vacuum(self, name: str, retain: str | None):
        # Bare VACUUM keeps vacuum()'s own safe defaults (head snapshot
        # + the 7-day age floor for concurrent write-then-commit
        # writers), matching Delta's bare-VACUUM retention. Only an
        # explicit RETAIN clause — the user naming a version horizon —
        # drops the age floor to reclaim immediately.
        if retain is None:
            return self._t(name).vacuum()
        return self._t(name).vacuum(
            retain_versions=int(retain), retain_seconds=0
        )


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on semicolons OUTSIDE quotes
    (single or double) — embedded SELECT literals keep their ';'.
    Comments: whole lines starting with -- are dropped."""
    lines = [
        ln for ln in script.splitlines() if not ln.lstrip().startswith("--")
    ]
    text = "\n".join(lines)
    out: list[str] = []
    cur: list[str] = []
    quote: str | None = None
    for ch in text:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def run_script(tx: "TxSql", script: str) -> list:
    """Execute a statement sequence (the reference's DAG shape: each
    task is one templated statement). FAILS FAST: the first error
    aborts the remainder — each statement is individually atomic
    through the commit log, so a fail-stop leaves the table at the
    last committed version, never half-applied."""
    return [tx.sql(stmt) for stmt in split_statements(script)]
