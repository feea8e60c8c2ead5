"""Run-log model + analytics (SURVEY §2.5, FIXTURES.md §C).

The reference writes hierarchical run logs into four ``Logging.*
Prozesslaeufe`` tables (workflow → package → realization → step,
parent-FK chain; Helper.cs:2312 InitializeLogging, :2492 UpdateLog)
plus messages/errors/query-log tables, and answers analytics A1-A8
over them. Here the run log is an append-only parquet table per level
(Delta-ready layout: partition by run date at scale) and the analytics
are Spark SQL.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from datetime import datetime
from itertools import count

from pyspark.sql import DataFrame, SparkSession

LEVELS = ("workflow", "package", "realization", "step")


@dataclass
class RunLog:
    """In-driver run-log accumulator, flushed to parquet per level.

    The reference UPDATEs log rows in place (UpdateLog); an analytics
    store wants append-only — we append lifecycle events and let the
    queries take the LAST event per run id (argmax — exactly the A6
    pattern). At 100 TB-scale logging this is the standard
    event-sourced layout; compaction = groupBy run id.
    """

    base_path: str
    _rows: dict[str, list[dict]] = field(default_factory=lambda: {lv: [] for lv in LEVELS})
    _errors: list[dict] = field(default_factory=list)
    _queries: list[dict] = field(default_factory=list)
    _ids: "count[int]" = field(default_factory=lambda: count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def open(self, level: str, name: str, parent_id: int | None, requested: datetime) -> int:
        with self._lock:
            run_id = next(self._ids)
            self._rows[level].append(
                dict(
                    run_id=run_id,
                    name=name,
                    parent_id=parent_id,
                    Anforderungszeitpunkt=requested.isoformat(),
                    Startzeitpunkt=datetime.now().isoformat(),
                    Endzeitpunkt=None,
                    Ist_gestartet=True,
                    Ist_abgeschlossen=False,
                    Erfolgreich=None,
                    ErwarteteDaten=None,
                )
            )
            return run_id

    def close(self, level: str, run_id: int, *, success: bool, expected_rows: int | None = None) -> None:
        import json

        with self._lock:
            base = next(r for r in self._rows[level] if r["run_id"] == run_id)
            row = dict(base)
            row.update(
                Endzeitpunkt=datetime.now().isoformat(),
                Ist_abgeschlossen=True,
                Erfolgreich=success,
                ErwarteteDaten=expected_rows,
            )
            # denormalized Json_Log string per row (Helper.cs:1841-1851)
            row["Json_Log"] = json.dumps(
                {"level": level, "run_id": run_id, "success": success, "rows": expected_rows},
                sort_keys=True,
            )
            self._rows[level].append(row)

    def error(self, level: str, run_id: int, message: str, sql_text: str | None = None) -> None:
        """Logging.ETL_Fehlermeldungen row (Helper.cs:2027): error text
        keyed to the hierarchy level's run id, with the offending SQL
        when present (the step branch of A1 joins ETL_SQL_Anfragen)."""
        with self._lock:
            self._errors.append(
                dict(
                    level=level,
                    run_id=run_id,
                    Zeitpunkt=datetime.now().isoformat(),
                    Meldung=message,
                    Sql_Text=sql_text,
                )
            )

    def log_query(self, run_id: int, sql_text: str) -> None:
        """Logging.ETL_SQL_Anfragen analogue (LogQuery, Helper.cs:1583):
        every executed command, keyed to its step run."""
        with self._lock:
            self._queries.append(
                dict(run_id=run_id, Zeitpunkt=datetime.now().isoformat(), Sql_Text=sql_text)
            )

    SCHEMA = (
        "run_id BIGINT, name STRING, parent_id BIGINT, "
        "Anforderungszeitpunkt STRING, Startzeitpunkt STRING, Endzeitpunkt STRING, "
        "Ist_gestartet BOOLEAN, Ist_abgeschlossen BOOLEAN, Erfolgreich BOOLEAN, "
        "ErwarteteDaten BIGINT, Json_Log STRING"
    )
    ERROR_SCHEMA = "level STRING, run_id BIGINT, Zeitpunkt STRING, Meldung STRING, Sql_Text STRING"
    QUERY_SCHEMA = "run_id BIGINT, Zeitpunkt STRING, Sql_Text STRING"

    def flush(self, spark: SparkSession) -> dict[str, DataFrame]:
        out = {}
        for lv in LEVELS:
            if not self._rows[lv]:
                continue
            df = spark.createDataFrame(
                [tuple(r.get(k) for k in (
                    "run_id", "name", "parent_id", "Anforderungszeitpunkt",
                    "Startzeitpunkt", "Endzeitpunkt", "Ist_gestartet",
                    "Ist_abgeschlossen", "Erfolgreich", "ErwarteteDaten", "Json_Log",
                )) for r in self._rows[lv]],
                schema=self.SCHEMA,
            )
            path = os.path.join(self.base_path, f"runlog_{lv}.parquet")
            df.write.mode("append").parquet(path)
            out[lv] = spark.read.schema(self.SCHEMA).parquet(path)
        if self._errors:
            df = spark.createDataFrame(
                [tuple(r[k] for k in ("level", "run_id", "Zeitpunkt", "Meldung", "Sql_Text"))
                 for r in self._errors],
                schema=self.ERROR_SCHEMA,
            )
            df.write.mode("append").parquet(os.path.join(self.base_path, "runlog_errors.parquet"))
        if self._queries:
            df = spark.createDataFrame(
                [tuple(r[k] for k in ("run_id", "Zeitpunkt", "Sql_Text")) for r in self._queries],
                schema=self.QUERY_SCHEMA,
            )
            df.write.mode("append").parquet(os.path.join(self.base_path, "runlog_queries.parquet"))
        # the log files are APPEND-only: a second flush must not
        # re-append everything already written (errors/queries have no
        # dedup key downstream — duplicates would inflate every report)
        for lv in LEVELS:
            self._rows[lv] = []
        self._errors = []
        self._queries = []
        return out


def register_runlog_views(spark: SparkSession, base_path: str) -> None:
    """Every log file was written with a declared schema, so it is read
    back with that schema: no inference job. A file never written
    becomes an empty relation, which keeps the A1/A7/A8 unions total."""
    tables = [(lv, RunLog.SCHEMA) for lv in LEVELS]
    tables += [("errors", RunLog.ERROR_SCHEMA), ("queries", RunLog.QUERY_SCHEMA)]
    for name, schema in tables:
        p = os.path.join(base_path, f"runlog_{name}.parquet")
        df = (spark.read.schema(schema).parquet(p) if os.path.exists(p)
              else spark.createDataFrame([], schema=schema))
        df.createOrReplaceTempView(f"runlog_{name}")


# ------------------------------------------------------------- analytics
def current_state_sql(level: str) -> str:
    """Collapse the event-sourced log to current state per run (A6
    argmax pattern, app.R:331-379)."""
    return f"""
    SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY run_id ORDER BY coalesce(Endzeitpunkt, Startzeitpunkt) DESC
      ) AS _rn FROM runlog_{level}
    ) WHERE _rn = 1
    """


def error_report_sql() -> str:
    """A1 (Helper.cs:922-1025): 4-branch union over the levels with
    NULL-coalesced projections."""
    branches = []
    for lv in LEVELS:
        branches.append(
            f"""
        SELECT '{lv}' AS level, run_id, name,
               coalesce(CAST(parent_id AS STRING), '-') AS parent,
               Startzeitpunkt, Endzeitpunkt
        FROM ({current_state_sql(lv)})
        WHERE Erfolgreich = false"""
        )
    return "\nUNION ALL\n".join(branches)


def error_messages_sql() -> str:
    """A1 full form + A10 (Helper.cs:922-1025, app.R:472-486): error
    messages joined to their failed run rows across all levels; the
    step branch carries the offending SQL (LEFT JOIN runlog_queries,
    '-' coalescing exactly as the reference's CASE WHEN NULL)."""
    branches = []
    for lv in LEVELS:
        branches.append(
            f"""
        SELECT e.level, e.run_id, r.name, e.Zeitpunkt, e.Meldung,
               coalesce(e.Sql_Text, q.Sql_Text, '-') AS sql_text
        FROM runlog_errors e
        JOIN ({current_state_sql(lv)}) r ON e.run_id = r.run_id AND e.level = '{lv}'
        LEFT JOIN (
          -- the LAST logged command per run: a bare run_id join would
          -- fan each error out once per logged query, with arbitrary
          -- SQL attribution
          SELECT run_id, Sql_Text FROM (
            SELECT run_id, Sql_Text,
                   ROW_NUMBER() OVER (PARTITION BY run_id
                                      ORDER BY Zeitpunkt DESC) AS __rk
            FROM runlog_queries
          ) WHERE __rk = 1
        ) q ON e.level = 'step' AND q.run_id = e.run_id"""
        )
    return "\nUNION ALL\n".join(branches)


def last_run_per_workflow_sql() -> str:
    """A6 (app.R:331-379): argmax Endzeitpunkt per workflow name."""
    return f"""
    SELECT name, run_id, Startzeitpunkt, Endzeitpunkt FROM (
      SELECT name, run_id, Startzeitpunkt, Endzeitpunkt,
             ROW_NUMBER() OVER (PARTITION BY name ORDER BY Endzeitpunkt DESC NULLS LAST, run_id DESC) AS rn
      FROM ({current_state_sql('workflow')})
    ) WHERE rn = 1
    """


def run_tree_sql() -> str:
    """A7 (app.R:767-816): the recursive CTE materialized as the bounded
    4-level union (Spark has no WITH RECURSIVE; the hierarchy depth is
    fixed by the schema, so iteration is exact, not an approximation)."""
    parts = []
    parent = {"workflow": None, "package": "workflow", "realization": "package", "step": "realization"}
    for lv in LEVELS:
        pfx = lv[0].upper()
        ppfx = parent[lv][0].upper() if parent[lv] else None
        parent_expr = f"concat('{ppfx}', parent_id)" if ppfx else "'ROOT'"
        parts.append(
            f"""
        SELECT concat('{pfx}', run_id) AS node, {parent_expr} AS parent, name, '{lv}' AS level
        FROM ({current_state_sql(lv)})"""
        )
    return "\nUNION ALL\n".join(parts)


def run_graph_dot(spark: SparkSession) -> str:
    """A9 (Vizualiser.cs:163-455): the run-structure graph, rendered as
    Graphviz DOT text instead of SkiaSharp pixels — same inputs (the
    4-level tree + success flags), toolable output."""
    tree = spark.sql(run_tree_sql()).collect()
    flags: dict[str, bool | None] = {}
    for lv in LEVELS:
        for r in spark.sql(current_state_sql(lv)).collect():
            flags[f"{lv[0].upper()}{r['run_id']}"] = r["Erfolgreich"]
    color = lambda ok: "green" if ok else ("red" if ok is False else "gray")
    lines = ["digraph run {", "  rankdir=LR;"]
    for r in sorted(tree, key=lambda r: r["node"]):
        lines.append(
            f'  "{r["node"]}" [label="{r["name"]}", color={color(flags.get(r["node"]))}];'
        )
    for r in sorted(tree, key=lambda r: r["node"]):
        if r["parent"] != "ROOT":
            lines.append(f'  "{r["parent"]}" -> "{r["node"]}";')
    lines.append("}")
    return "\n".join(lines)
