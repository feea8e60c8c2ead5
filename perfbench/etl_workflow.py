"""etl_workflow: one orchestrated nightly workflow, run repeatedly.

The data, control and observability planes of the service, plus its
incremental ingest, in one workflow driven by the program's
``Orchestrator`` with one admission slot per core:

- wave 1, two packages side by side:
  - ``P_COPY`` (one realization, two concurrent steps, each declaring
    its target table):
    - ``S_COPY_ORDERS``: ``copy_data_timesliced`` of five years of
      orders with audit columns, written month-partitioned by
      ``write_copy``;
    - ``S_ALIGN_LINEITEM``: ``align_to_schema`` of lineitem onto a
      governed schema with audit columns, written by ``write_copy``;
  - ``P_INGEST``: the slice that landed since the last run is drained
    by three ``availableNow`` streams, one step each (see ingest.py);
- wave 2, after ``P_COPY``:
  - ``P_SQL``: ``execute_sql_target`` runs a dialect-translated join and
    monthly aggregate over the two copies; the result is written;
  - ``P_EXPORT``: ``format_lines`` serializes the lineitem copy to CSV
    lines, written as text.

Every run is logged at all four run-log levels. After the timed window
the run log is flushed and the three monitoring analytics run (last run
per workflow, run tree, error report), timed as their own layer.

The first run in the fresh session is the cold run; later runs are
warm. Correctness, after the timed window: copied row counts equal the
source window in DuckDB, the CSV has one line per lineitem row, the
monthly aggregate equals DuckDB's over the source files, the stream
sinks match DuckDB over the landed slices, and the run tree has four
levels and no failed run.
"""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime

from . import datagen, ingest
from .common import Monitor, Session, layer_split, median

SF = 0.01
WINDOW = (datetime(1995, 1, 1), datetime(1999, 12, 31))
AUDIT = ("etl_user", "2026-01-01 00:00:00", "perfbench")
WF_NAME = "WF_NIGHTLY"

SQL_COMMAND = """
SELECT o.Zeitscheibe_Monat AS month,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       ISNULL(MAX(l.Bemerkung), '-') AS remark
FROM lineitem_copy l
JOIN orders_copy o ON l.l_orderkey = o.o_orderkey
GROUP BY o.Zeitscheibe_Monat
"""

ORACLE_SQL = """
SELECT strftime(o.o_orderdate, '%Y%m') AS month,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM read_parquet('{d}/lineitem.parquet') l
JOIN read_parquet('{d}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'
GROUP BY 1
"""

# step name -> per-layer metric stem
STEPS = {
    "S_COPY_ORDERS": "step.copy",
    "S_ALIGN_LINEITEM": "step.align",
    "S_SQL_MONTHLY": "step.sql",
    "S_EXPORT_CSV": "step.export",
    "S_STREAM_COUNTS": "stream.counts",
    "S_STREAM_DEDUP": "stream.dedup",
    "S_STREAM_MERGE": "stream.merge",
}
# package -> (realization, steps)
PACKAGES = {
    "P_COPY": ("R_COPY", ("S_COPY_ORDERS", "S_ALIGN_LINEITEM")),
    "P_INGEST": ("R_INGEST", ("S_STREAM_COUNTS", "S_STREAM_DEDUP", "S_STREAM_MERGE")),
    "P_SQL": ("R_SQL", ("S_SQL_MONTHLY",)),
    "P_EXPORT": ("R_EXPORT", ("S_EXPORT_CSV",)),
}
DEPENDS = {"P_SQL": ("P_COPY",), "P_EXPORT": ("P_COPY",)}
WAVES = (PACKAGES["P_COPY"][1] + PACKAGES["P_INGEST"][1], PACKAGES["P_SQL"][1] + PACKAGES["P_EXPORT"][1])


class Workflow:
    """The workflow's steps over one session, output root and run log."""

    def __init__(self, spark, data_dir: str, out_root: str, mon: Monitor, feed: ingest.Ingest, tracer) -> None:
        from pyspark.sql.types import StringType, StructField, StructType, TimestampNTZType

        from etl_service_spark.sources.catalog import load_table

        self.spark = spark
        self.data_dir = data_dir
        self.out = out_root
        self.mon = mon
        self.feed = feed
        self.tracer = tracer
        self.orders = load_table(spark, data_dir, "orders")
        self.lineitem = load_table(spark, data_dir, "lineitem")
        audit_cols = [
            StructField("Nutzer", StringType()),
            StructField("Abfragezeitpunkt", TimestampNTZType()),
            StructField("Datenproduzent", StringType()),
        ]
        self.orders_schema = StructType(
            list(self.orders.schema.fields) + audit_cols + [StructField("Zeitscheibe_Monat", StringType())]
        )
        self.lineitem_schema = StructType(
            list(self.lineitem.schema.fields) + audit_cols + [StructField("Bemerkung", StringType())]
        )
        self.step_s: dict[str, float] = {}
        self.step_rows: dict[str, int | None] = {}
        self.step_spans: dict[str, tuple] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.out, name)

    # Step bodies: each returns (build, write). ``build`` makes the
    # DataFrame; ``write`` runs it and returns the rows written (None
    # for a stream drain, whose rows are the landed slice).
    def _copy_orders(self):
        from etl_service_spark.operators.align import AuditContext
        from etl_service_spark.operators.copy import TakeoverWindow, copy_data_timesliced

        return (
            lambda: copy_data_timesliced(
                self.orders, "o_orderdate", TakeoverWindow(*WINDOW),
                dst_schema=self.orders_schema, audit=AuditContext(*AUDIT),
            ),
            self._write_copy("orders_copy", partitioned=True),
        )

    def _align_lineitem(self):
        from etl_service_spark.operators.align import AuditContext, align_to_schema

        return (
            lambda: align_to_schema(self.lineitem, self.lineitem_schema, AuditContext(*AUDIT)),
            self._write_copy("lineitem_copy", partitioned=False),
        )

    def _write_copy(self, target: str, partitioned: bool):
        from etl_service_spark.operators.copy import write_copy

        return lambda df: write_copy(df, self.path(target), mode="overwrite", slice_partitioned=partitioned)

    def _sql_monthly(self):
        from etl_service_spark.operators.sql_exec import execute_sql_target

        def build():
            self.spark.read.parquet(self.path("orders_copy")).createOrReplaceTempView("orders_copy")
            self.spark.read.parquet(self.path("lineitem_copy")).createOrReplaceTempView("lineitem_copy")
            return execute_sql_target(self.spark, SQL_COMMAND)

        return build, self._write_result("monthly", "parquet")

    def _export_csv(self):
        from etl_service_spark.operators.csv_export import CsvOptions, format_lines

        return (
            lambda: format_lines(self.spark.read.parquet(self.path("lineitem_copy")), CsvOptions(null_token="NULL")),
            self._write_result("lineitem_csv", "text"),
        )

    def _write_result(self, target: str, fmt: str):
        def write(df) -> int:
            df.write.mode("overwrite").format(fmt).save(self.path(target))
            return self.spark.read.format(fmt).load(self.path(target)).count()

        return write

    def _drain(self, stream: str):
        return (lambda: None), (lambda _: self.feed.drain(stream))

    def _bodies(self) -> dict:
        return {
            "S_COPY_ORDERS": self._copy_orders(),
            "S_ALIGN_LINEITEM": self._align_lineitem(),
            "S_SQL_MONTHLY": self._sql_monthly(),
            "S_EXPORT_CSV": self._export_csv(),
            "S_STREAM_COUNTS": self._drain("counts"),
            "S_STREAM_DEDUP": self._drain("dedup"),
            "S_STREAM_MERGE": self._drain("merge"),
        }

    def _action(self, name: str, parent: int, build, write):
        def action() -> None:
            t0 = time.perf_counter()
            with self.mon.step(name, parent) as box:
                with self.tracer.span("build", step=name, only=name) as b:
                    df = build()
                with self.tracer.span("write", step=name, only=name) as w:
                    box["rows"] = write(df)
            self.step_s[name] = time.perf_counter() - t0
            self.step_rows[name] = box["rows"]
            self.step_spans[name] = (b, w)

        return action

    def definition(self, real_ids: dict[str, int]):
        from etl_service_spark.plans.orchestrator import Package, Realization, Step
        from etl_service_spark.plans.orchestrator import Workflow as Wf

        bodies = self._bodies()
        packages = {
            pkg: Package(pkg, (Realization(real, tuple(
                Step(name=s, action=self._action(s, real_ids[s], *bodies[s]), order=i, target_tables=(s.lower(),))
                for i, s in enumerate(steps)
            )),), depends_on=DEPENDS.get(pkg, ()))
            for pkg, (real, steps) in PACKAGES.items()
        }
        packages["P_END"] = Package("P_END", (), depends_on=tuple(PACKAGES))
        return Wf(name=WF_NAME, packages=packages, master="P_END")

    def run_once(self, orch) -> dict:
        """Land the next slice, then one logged workflow run; returns
        its timings."""
        from etl_service_spark.plans.statemachine import Stage, WorkflowState

        log, now = self.mon.log, datetime.now()
        t0 = time.perf_counter()
        ingested = self.feed.land_next()
        wf_id = log.open("workflow", WF_NAME, None, now)
        real_ids: dict[str, int] = {}
        opened = []
        for pkg, (real, steps) in PACKAGES.items():
            p = log.open("package", pkg, wf_id, now)
            r = log.open("realization", real, p, now)
            opened.append((p, r))
            real_ids.update({s: r for s in steps})
        wf = self.definition(real_ids)
        state = WorkflowState(WF_NAME)
        state.transition(Stage.SCHEDULED)
        self.step_s.clear()
        self.step_rows.clear()
        with self.tracer.span("workflow") as span:
            t1 = time.perf_counter()
            report = orch.run(wf, state, spark=self.spark)
            t2 = time.perf_counter()
        ok = not report.failed and state.stage == Stage.FINISHED
        for p, r in opened:
            log.close("realization", r, success=ok)
            log.close("package", p, success=ok)
        rows = sum(v for v in self.step_rows.values() if v) + ingested
        log.close("workflow", wf_id, success=ok, expected_rows=rows)
        longest = sum(max(self.step_s.get(n, 0.0) for n in wave) for wave in WAVES)
        return {
            "ok": ok, "failed_steps": list(report.failed), "wall_s": t2 - t0, "rows": rows,
            "overhead_s": (t2 - t1) - longest, "step_s": dict(self.step_s),
            "step_rows": dict(self.step_rows), "span": span, "step_spans": dict(self.step_spans),
        }

    def check(self) -> list[str]:
        import duckdb

        problems = []
        con = duckdb.connect()
        try:
            lo, hi = WINDOW[0].isoformat(" "), WINDOW[1].replace(hour=23, minute=59, second=59).isoformat(" ")
            d = self.data_dir
            want_orders = con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{d}/orders.parquet') "
                f"WHERE o_orderdate BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'"
            ).fetchone()[0]
            want_lines = con.execute(f"SELECT COUNT(*) FROM read_parquet('{d}/lineitem.parquet')").fetchone()[0]
            got_orders = self.spark.read.parquet(self.path("orders_copy")).count()
            got_lines = self.spark.read.parquet(self.path("lineitem_copy")).count()
            if not got_orders == want_orders == self.step_rows.get("S_COPY_ORDERS"):
                problems.append(f"orders copy has {got_orders} rows, the window has {want_orders}")
            if not got_lines == want_lines == self.step_rows.get("S_ALIGN_LINEITEM"):
                problems.append(f"lineitem copy has {got_lines} rows, the source has {want_lines}")
            csv_lines = 0
            for f in glob.glob(os.path.join(self.path("lineitem_csv"), "part-*")):
                with open(f, "rb") as fh:
                    csv_lines += sum(1 for _ in fh)
            if csv_lines != want_lines:
                problems.append(f"CSV export has {csv_lines} lines, lineitem has {want_lines}")
            months = sorted(
                (str(r["month"]), int(r["n_lines"]), round(float(r["revenue"]), 2))
                for r in self.spark.read.parquet(self.path("monthly")).collect()
            )
            oracle = sorted(
                (str(m), int(n), round(float(v), 2))
                for m, n, v in con.execute(ORACLE_SQL.format(d=d, lo=lo, hi=hi)).fetchall()
            )
            if months != oracle:
                problems.append(f"monthly aggregate differs from DuckDB ({len(months)} vs {len(oracle)} months)")
        finally:
            con.close()
        return problems + self.feed.check() + self.mon.check()


def _layers(runs: list[dict], cores: int, prefix: str) -> dict[str, float]:
    spans = [sp for r in runs for sp in r["step_spans"].values()]
    counts = [r["span"].get("counts", {}) for r in runs]
    wall = sum(r["wall_s"] for r in runs)
    return layer_split([b for b, _ in spans], [w for _, w in spans], counts, wall, len(runs), cores, prefix)


def run(ctx) -> dict:
    from etl_service_spark.plans.orchestrator import Orchestrator
    from etl_service_spark.sources import snapshots

    data_dir, rows = datagen.ensure(ctx.data_root, ctx.seed, SF)
    _, slices = datagen.ensure_event_slices(
        ctx.data_root, ctx.seed, ingest.SLICES, ingest.ROWS_PER_SLICE, ingest.SLICE_HOURS, ingest.USERS
    )
    sess = Session(data_dir, ctx.cpus, ctx.tracer)
    setups = sess.set_up_times(3)
    progress, merges = None, []
    if ctx.tracer.enabled:
        progress = ingest.StreamProgress(sess.spark)
        ingest.time_calls(snapshots, ("merge_upsert", "commit_append"), merges)
    mon = Monitor(os.path.join(ctx.work, "runlog"))
    feed = ingest.Ingest(sess.spark, os.path.join(ctx.work, "ingest"), slices)
    wf = Workflow(sess.spark, data_dir, os.path.join(ctx.work, "etl_out"), mon, feed, ctx.tracer)
    orch = Orchestrator(max_threads=ctx.cpus)

    runs: list[dict] = []
    problems: list[str] = []
    attempted = 0
    start = time.perf_counter()
    while True:
        attempted += 1
        try:
            r = wf.run_once(orch)
        except Exception as exc:
            problems.append(f"workflow run raised {exc!r}"[:300])
            break
        runs.append(r)
        if not r["ok"]:
            problems.append(f"failed steps {r['failed_steps']}")
            break
        if not feed.pending or (time.perf_counter() - start >= ctx.seconds and len(runs) >= 3):
            break
    failed = len(problems)
    # monitoring and correctness, outside the timed window
    if not problems:
        attempted += 1
        try:
            mon.report(sess.spark)
            problems += wf.check()
        except Exception as exc:
            problems.append(f"check raised {exc!r}"[:300])
        failed += 1 if problems else 0

    warm = runs[1:] or runs
    e2e = {
        "setup_s": median(setups),
        "cold_s": runs[0]["wall_s"] if runs else 0.0,
        # the fastest warm round: a CPU-steal burst that slows one round
        # does not move it (README.md, "Noise")
        "warm_s": min((r["wall_s"] for r in warm), default=0.0),
        "rows_per_s": max((r["rows"] / r["wall_s"] for r in warm), default=0.0),
    }
    layers = {}
    if ctx.tracer.enabled and runs:
        layers.update(sess.layer_metrics())
        layers.update(_layers(runs[:1], ctx.cpus, ""))
        layers.update(_layers(warm, ctx.cpus, "warm."))
        for name, stem in STEPS.items():
            layers[f"{stem}_s"] = median(r["step_s"].get(name, 0.0) for r in warm)
            if stem.startswith("step."):
                layers[f"{stem}_rows"] = median(r["step_rows"].get(name) or 0 for r in warm)
        layers["orchestrator.overhead_s"] = median(r["overhead_s"] for r in warm)
        layers.update(mon.layer_metrics())
        layers.update(progress.metrics())
        layers["snapshots.merge_s"] = median(merges)
        layers["staging.temp_views"] = sess.temp_views()
        layers["session.jvm_peak_rss_mb"] = sess.jvm_peak_rss_mb()
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "e2e": e2e,
        "layers": layers,
        "inputs": {
            "sf": SF, "rows": rows, "runs": len(runs),
            "rows_written_per_run": runs[0]["rows"] if runs else 0,
            "ingest_rows_per_run": ingest.ROWS_PER_SLICE,
        },
        "detail": {
            "round_s": [r["wall_s"] for r in runs],
            "cold_step_s": runs[0]["step_s"] if runs else {},
            "warm_step_s": {s: median(r["step_s"].get(s, 0.0) for r in warm) for s in STEPS},
        },
    }
