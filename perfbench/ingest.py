"""Incremental ingest of disjoint event slices, as steps of the ETL
workflow.

A fixed, seeded sequence of disjoint, time-ordered slices of an event
stream lands in a landing directory, one slice per workflow run (the
slice that arrived since the last run). Three ``availableNow`` streams
drain the landing directory, each against its own checkpoint:

- ``counts``: ``windowed_event_counts`` (1-hour tumbling windows,
  2-hour watermark) into a parquet sink;
- ``dedup``: ``dedup_event_stream`` (state bounded by a 1-day
  watermark) into a parquet sink;
- ``merge``: ``run_merge_maintenance`` folds the latest value per user
  into a ``sources.snapshots`` table, one file-pruned MERGE per
  micro-batch.

Correctness, against DuckDB over the union of the landed slices: every
emitted window count equals the batch count and every window closed by
the watermark was emitted; the dedup sink holds each event exactly
once; the snapshot table holds each user's latest value.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from .common import median

SLICES = 10
ROWS_PER_SLICE = 20_000
SLICE_HOURS = 6
USERS = 2_000
WATERMARK_H = 2
STREAMS = ("counts", "dedup", "merge")


class Ingest:
    """Landing directory, sinks and checkpoints of the three streams."""

    def __init__(self, spark, root: str, slices: list[str]) -> None:
        self.spark = spark
        self.landing = os.path.join(root, "landing")
        self.sinks = {s: os.path.join(root, f"sink_{s}") for s in STREAMS}
        self.ckpts = {s: os.path.join(root, f"ckpt_{s}") for s in STREAMS}
        os.makedirs(self.landing)
        self.pending = list(slices)
        self.landed: list[str] = []

    def land_next(self) -> int:
        """Land the next slice; returns its row count."""
        src = self.pending.pop(0)
        dst = os.path.join(self.landing, os.path.basename(src))
        shutil.copyfile(src, dst + ".tmp")
        os.rename(dst + ".tmp", dst)  # the stream never lists a partial file
        self.landed.append(src)
        return ROWS_PER_SLICE

    def drain(self, name: str) -> None:
        from etl_service_spark.streaming.events_stream import (
            dedup_event_stream,
            read_event_stream,
            run_available_now_to_parquet,
            windowed_event_counts,
        )
        from etl_service_spark.streaming.merge_stream import run_merge_maintenance

        events = read_event_stream(self.spark, self.landing)
        if name == "counts":
            run_available_now_to_parquet(
                windowed_event_counts(events, watermark=f"{WATERMARK_H} hours"), self.ckpts[name], self.sinks[name]
            )
        elif name == "dedup":
            run_available_now_to_parquet(dedup_event_stream(events), self.ckpts[name], self.sinks[name])
        else:
            updates = events.selectExpr(
                "user_id AS k", "CAST(ROUND(value * 100) AS BIGINT) AS v", "unix_micros(ts) AS seq"
            )
            run_merge_maintenance(updates, self.ckpts[name], self.sinks[name], "k", "seq")

    def check(self) -> list[str]:
        import duckdb

        from etl_service_spark.sources import snapshots

        problems = []
        hour = 3_600_000_000
        con = duckdb.connect()
        try:
            files = ", ".join(f"'{f}'" for f in self.landed)
            con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet([{files}])")
            n_rows, max_ts = con.execute("SELECT COUNT(*), MAX(epoch_us(ts)) FROM ev").fetchone()
            # the last drain's watermark lies between these two bounds
            wm_hi = max_ts - WATERMARK_H * hour
            prev = self.landed[:-1]
            wm_lo = None
            if prev:
                prev_files = ", ".join(f"'{f}'" for f in prev)
                wm_lo = con.execute(
                    f"SELECT MAX(epoch_us(ts)) FROM read_parquet([{prev_files}])"
                ).fetchone()[0] - WATERMARK_H * hour
            batch = {
                (int(w), t): (int(n), round(float(v), 2))
                for w, t, n, v in con.execute(
                    "SELECT epoch_us(time_bucket(INTERVAL 1 hour, ts)), event_type, COUNT(*), "
                    "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) FROM ev GROUP BY 1, 2"
                ).fetchall()
            }
            got: dict = {}
            for r in self.spark.read.parquet(self.sinks["counts"]).selectExpr(
                "unix_micros(window_start) AS w", "event_type", "n_events", "total_value"
            ).collect():
                key = (int(r["w"]), r["event_type"])
                if key in got:
                    problems.append(f"window {key} emitted twice")
                got[key] = (int(r["n_events"]), round(float(r["total_value"]), 2))
            wrong = [k for k, v in got.items() if batch.get(k) != v]
            if wrong:
                problems.append(f"{len(wrong)} windowed counts differ from the batch recomputation, e.g. {wrong[0]}")
            if any(w + hour > wm_hi for w, _ in got):
                problems.append("a window still open under the final watermark was emitted")
            if wm_lo is not None:
                missing = [k for k in batch if k[0] + hour <= wm_lo and k not in got]
                if missing:
                    problems.append(f"{len(missing)} windows closed by the watermark were not emitted")

            dd = self.spark.read.parquet(self.sinks["dedup"]).selectExpr(
                "COUNT(*) AS n", "COUNT(DISTINCT event_id) AS d"
            ).first()
            if not dd["n"] == dd["d"] == n_rows:
                problems.append(f"dedup sink has {dd['n']} rows / {dd['d']} ids, the slices hold {n_rows} events")

            want = {
                (int(k), int(v), int(s))
                for k, v, s in con.execute(
                    "SELECT user_id, arg_max(CAST(ROUND(value * 100) AS BIGINT), ts), MAX(epoch_us(ts)) "
                    "FROM ev GROUP BY user_id"
                ).fetchall()
            }
            have = {
                (int(r["k"]), int(r["v"]), int(r["seq"]))
                for r in snapshots.read_snapshot(self.spark, self.sinks["merge"]).collect()
            }
            if have != want:
                problems.append(f"snapshot table differs from the latest value per user ({len(have)} vs {len(want)})")
        finally:
            con.close()
        return problems


class StreamProgress:
    """``StreamingQueryListener`` progress events, for the traced run."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def metrics(self) -> dict[str, float]:
        busy = [e for e in self.events if e.get("numInputRows", 0) > 0]
        dur = lambda e, k: e.get("durationMs", {}).get(k, 0)  # noqa: E731
        last: dict[str, dict] = {}
        for e in self.events:
            last[e["id"]] = e
        ops = [op for e in last.values() for op in e.get("stateOperators", [])]
        return {
            "stream.batch_s": median(dur(e, "triggerExecution") for e in busy) / 1e3,
            "stream.commit_ms": median(dur(e, "commitOffsets") + dur(e, "walCommit") for e in busy),
            "stream.state_rows": float(sum(op.get("numRowsTotal", 0) for op in ops)),
            "stream.state_mb": sum(op.get("memoryUsedBytes", 0) for op in ops) / (1024 * 1024),
        }


def time_calls(module, names: tuple[str, ...], sink: list) -> None:
    """Wrap ``module.<name>`` so each call's wall time lands in
    ``sink`` (traced run only; callers reach these functions through
    the module attribute)."""
    for name in names:
        fn = getattr(module, name)

        def wrapped(*a, _fn=fn, **kw):
            t0 = time.perf_counter()
            try:
                return _fn(*a, **kw)
            finally:
                sink.append(time.perf_counter() - t0)

        setattr(module, name, wrapped)
