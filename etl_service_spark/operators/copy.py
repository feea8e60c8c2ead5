"""COPY operators (SURVEY §2.2 D1/D2): batched copy and time-sliced
incremental copy.

Reference semantics:

- D1 ``CopyData`` (CommandExecuter.cs:322-544): COUNT(*) the source
  query, read 500k-row offset batches, align schema + audit columns,
  bulk-append 50k-row chunks.
- D2 ``CopyDataTimesliced`` (CommandExecuter.cs:50-304): rewrite
  ``##Uebernahme_von##``/``##Uebernahme_bis##`` (and
  ``&&EXECUTE_FROM/TO&&``) with per-month bounds
  ``yyyyMMdd000000``–``yyyyMMdd235959`` across the workflow's takeover
  window, copying month by month; accumulated row count becomes the
  ``ErwarteteDaten`` metric.

Spark-first: both collapse into ONE declarative plan.

- Batching/chunking disappear — partitioning does that, and the write
  path appends partition-parallel. A COUNT(*) pre-pass would double the
  scan, so the row-count metric is taken from the write itself
  (observed count), not a separate job.
- The month loop becomes a single ``BETWEEN`` filter (pushed to the
  parquet/JDBC scan) plus ``write.partitionBy(slice_col)`` — the
  target's monthly layout is what the reference's loop was emulating.
  At 100 TB this is the difference between 12 scans and 1.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..functions.placeholders import resolve_placeholders
from .align import AuditContext, align_to_schema

SLICE_COL = "Zeitscheibe_Monat"


@dataclass(frozen=True)
class TakeoverWindow:
    """The workflow's incremental window (Workflow.GetTakeoverTime,
    Workflow.cs:593-646): explicit von/bis, or now − back-days, always
    day-aligned to 00:00:00 / 23:59:59."""

    von: datetime
    bis: datetime

    def day_aligned(self) -> "TakeoverWindow":
        return TakeoverWindow(
            self.von.replace(hour=0, minute=0, second=0, microsecond=0),
            self.bis.replace(hour=23, minute=59, second=59, microsecond=999999),
        )


def copy_data_timesliced(
    src: DataFrame,
    ts_col: str,
    window: TakeoverWindow,
    dst_schema: StructType | None = None,
    audit: AuditContext | None = None,
) -> DataFrame:
    """D2: incremental copy of ``window`` out of ``src``, tagged with the
    month slice the reference would have copied it in.

    One filtered scan; the filter is pushed down to the source, the
    month tag enables ``partitionBy(SLICE_COL)`` layout on write so the
    NEXT incremental run prunes to the touched months only.
    """
    w = window.day_aligned()
    sliced = src.filter(
        F.col(ts_col).between(F.lit(w.von.isoformat()), F.lit(w.bis.isoformat()))
    ).withColumn(SLICE_COL, F.date_format(F.col(ts_col), "yyyyMM"))
    if dst_schema is not None:
        aligned = align_to_schema(sliced, dst_schema, audit)
        return aligned
    return sliced


def render_sliced_command(template: str, context: dict[str, str], window: TakeoverWindow) -> str:
    """Reproduce the reference's command rewrite exactly: placeholder
    pass (E1) + takeover bounds in ``yyyyMMdd`` form
    (CommandExecuter.cs:105-106)."""
    w = window.day_aligned()
    ctx = dict(context)
    ctx.setdefault("Uebernahme_von", w.von.strftime("%Y%m%d"))
    ctx.setdefault("Uebernahme_bis", w.bis.strftime("%Y%m%d"))
    return resolve_placeholders(template, ctx)


def write_copy_idempotent(df: DataFrame, path: str) -> int:
    """Idempotent incremental write: dynamic partition overwrite
    replaces ONLY the month slices present in this batch, leaving other
    months untouched. Re-running a failed/partial time-sliced copy
    converges to the same state — the Spark-native equivalent of the
    reference's rollback protocol (delete rows WHERE Dateiname=...,
    CommandExecuter.cs:1130-1283), without a delete pass. At 100 TB the
    overwrite unit (one month partition) is also the recovery unit.
    Dynamic mode is this write's option, not the session conf: a
    concurrent step's static overwrite on the shared session stays
    static."""
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        SLICE_COL
    ).parquet(path)
    return df.sparkSession.read.parquet(path).count()


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 32) -> None:
    """Bucketed catalog-table write: pre-shuffles ONCE at write time so
    every later equi-join/aggregation on ``key`` is exchange-free (the
    scan exposes HashPartitioning(key, buckets); Catalyst skips the
    shuffle). The co-located-join strategy for repeatedly-joined big
    tables — e.g. orders x lineitem on the order key at 100 TB: pay one
    shuffle at ingest, none per query. Asserted by
    tests/test_planshape.py::test_bucketed_join_has_no_exchange."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)  # default warehouse location
    )


def write_copy(df: DataFrame, path: str, *, mode: str = "append", slice_partitioned: bool = False) -> int:
    """Append the aligned relation to the destination. Returns the row
    count of THIS write (the ErwarteteDaten metric): the count-only
    contract over write_copy_observed."""
    return write_copy_observed(
        df, path, mode=mode, slice_partitioned=slice_partitioned
    )["n_rows"]


def write_copy_observed(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    checksum_col: str | None = None,
    slice_partitioned: bool = False,
) -> dict:
    """Write the relation with the audit metrics collected DURING the
    write via Spark's Observation API — zero extra scan; a destination
    re-read would pay a footer pass and, in append mode, count the
    pre-existing rows too. The metrics describe exactly the rows that
    landed: the reference's ErwarteteDaten row count plus an optional
    column checksum (a sum is order-independent, so stable across
    partitionings and engines). The Observation is uuid-named because
    concurrent workflow steps write in one session."""
    from pyspark.sql import Observation

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if checksum_col is not None:
        metrics.append(F.sum(checksum_col).alias("checksum"))
    obs = Observation()
    writer = df.observe(obs, *metrics).write.mode(mode)
    if slice_partitioned and SLICE_COL in df.columns:
        writer = writer.partitionBy(SLICE_COL)
    writer.parquet(path)
    return dict(obs.get)


def write_sorted_for_skipping(
    df: DataFrame, path: str, key: str, files: int = 8
) -> int:
    """Range-sorted parquet layout: repartitionByRange on ``key`` then
    sortWithinPartitions, so each output file holds a disjoint key
    range and each row group's parquet min/max statistics are tight.

    This is the storage half of predicate pushdown: a reader filtering
    ``key BETWEEN a AND b`` skips every file and row group whose
    [min,max] misses the range — at 100 TB the difference between
    scanning a few files and scanning the table. (Same idea Delta/
    Iceberg expose as ORDER BY / Z-ORDER clustering; single-column
    linear sort is the plain-parquet form.) Returns the file count.

    tests/test_operators.py asserts the written row-group stats are
    pairwise disjoint and that a range filter prunes row groups.
    """
    import glob
    import os

    (
        df.repartitionByRange(files, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )
    return len(glob.glob(os.path.join(path, "*.parquet")))


def write_zordered(
    df: DataFrame, path: str, key_x: str, key_y: str, files: int = 8, bits: int = 16
) -> int:
    """Z-order (Morton-curve) clustered parquet layout over TWO keys —
    the multi-column generalization of :func:`write_sorted_for_skipping`
    (what Delta/Iceberg expose as ZORDER BY).

    Each key is min/max-normalized to ``bits`` bits with pure integer
    arithmetic, the bits are interleaved into one Morton code, and the
    data is range-partitioned + sorted on that code. Because the curve
    preserves locality in BOTH dimensions, every output file covers a
    small rectangle of (x, y) space, so the parquet min/max statistics
    prune files for predicates on EITHER column — a linear sort prunes
    only its leading column. At 100 TB this is how you make two
    independent access paths (e.g. user_id probes AND time ranges) both
    skip ~sqrt-fraction of the data from one copy of the table.

    The min/max scalars come from one tiny aggregate (broadcast); the
    interleave is a generated JVM expression (shift/mask terms inside
    whole-stage codegen — no UDF); the only data-sized movement is the
    single range shuffle, the same cost as the linear sorted write.
    Linear normalization assumes roughly uniform keys; for heavy skew,
    substitute rank-based boundaries from approxQuantile."""
    import glob
    import os

    from pyspark.sql import functions as F

    mm = df.agg(
        F.min(key_x).alias("xmin"), F.max(key_x).alias("xmax"),
        F.min(key_y).alias("ymin"), F.max(key_y).alias("ymax"),
    )
    top = (1 << bits) - 1
    scaled = df.crossJoin(F.broadcast(mm)).withColumns(
        {
            "__zx": F.expr(
                f"CAST(({key_x} - xmin) * {top} DIV greatest(xmax - xmin, 1) AS BIGINT)"
            ),
            "__zy": F.expr(
                f"CAST(({key_y} - ymin) * {top} DIV greatest(ymax - ymin, 1) AS BIGINT)"
            ),
        }
    )
    morton = " + ".join(
        f"shiftleft(shiftright(__zx, {i}) & 1, {2 * i})"
        f" + shiftleft(shiftright(__zy, {i}) & 1, {2 * i + 1})"
        for i in range(bits)
    )
    (
        scaled.withColumn("__morton", F.expr(morton))
        .repartitionByRange(files, "__morton")
        .sortWithinPartitions("__morton")
        .drop("__zx", "__zy", "__morton", "xmin", "xmax", "ymin", "ymax")
        .write.mode("overwrite")
        .parquet(path)
    )
    return len(glob.glob(os.path.join(path, "*.parquet")))


def compact_small_files(
    spark, src_dir: str, out_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int]:
    """Compact a directory of small parquet files into ~target-size
    files: size the output file count from the actual on-disk bytes,
    then rewrite through ``coalesce`` — which merges input splits
    WITHOUT a shuffle (each output task reads several input files
    sequentially), so compaction cost is one read + one write, no
    exchange.

    The small-files problem is the classic failure mode of streaming /
    per-batch ingestion at scale: a 100 TB table in 1 MB files means
    100M footer reads per query plan. Run this as the maintenance step
    on cold partitions (the reference's cleanup step D12 is the
    closest analogue — file-level housekeeping after ingestion).
    Returns (files_before, files_after)."""
    import glob
    import math
    import os

    files = glob.glob(os.path.join(src_dir, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(src_dir).coalesce(n_out).write.mode("overwrite").parquet(out_dir)
    return len(files), len(glob.glob(os.path.join(out_dir, "*.parquet")))


def expire_partitions(
    spark, table_dir: str, partition_col: str, keep: set[str] | list[str]
) -> dict:
    """Retention/TTL maintenance: drop whole Hive-style partitions
    (``col=value`` directories) whose value is NOT in ``keep`` — the
    partition-level companion of the row-level takedown
    (corpus_stream.purge_forgotten). Deleting a partition directory is
    the O(1) retention primitive a time-partitioned 100 TB table
    relies on: no scan, no rewrite, readers prune the dropped range
    at the directory level the moment it is gone.

    ``keep`` holds the partition VALUES to retain (compute it from the
    retention policy — e.g. the last N months of the D2 time-sliced
    copy's month slices). Returns {dropped: [...], kept: [...]};
    refuses to act if the directory has no ``col=`` partitions at all
    (a layout mismatch must never delete data)."""
    import os
    import shutil

    prefix = f"{partition_col}="
    parts = [
        d for d in sorted(os.listdir(table_dir))
        if d.startswith(prefix) and os.path.isdir(os.path.join(table_dir, d))
    ]
    if not parts:
        raise ValueError(
            f"expire_partitions: {table_dir} has no {prefix}* partitions — "
            "refusing to delete anything on a layout mismatch"
        )
    from urllib.parse import unquote

    keep_vals = {str(v) for v in keep}
    dropped, kept = [], []
    for d in parts:
        # Hive-style writers percent-escape partition values in the
        # directory name ('2024/01' -> '2024%2F01', ':' -> '%3A');
        # the retention policy speaks RAW values, so decode before
        # comparing — else an escapable kept value never matches and
        # its partition is deleted (same class as purge_forgotten's
        # store-path decoding).
        val = unquote(d[len(prefix):])
        if val in keep_vals:
            kept.append(val)
        else:
            shutil.rmtree(os.path.join(table_dir, d))
            dropped.append(val)
    return {"dropped": dropped, "kept": kept}


def compact_state_log(spark, table_dir: str, merge) -> dict:
    """Generic maintenance for the grow-only state tables the
    incremental operators keep (dedup fingerprints, near-dup band keys,
    HLL register log, CMS grid log): rewrite the append-only log as its
    merged form via a temp-sibling write + remove-then-rename swap.

    ``merge`` maps the raw log DataFrame to its compacted equivalent
    (distinct for identity states, groupBy MAX for monotone registers —
    the READ path's own compaction, so bytes change, answers don't).

    The swap never deletes the live log in place — a crash mid-rmtree
    would leave a PARTIAL log that a re-run would compact as if it were
    the whole state, silently losing everything in the already-deleted
    files. Instead: write merged to a temp sibling, rename the live log
    ASIDE (atomic), rename the temp into place (atomic), then delete
    the set-aside copy. Every crash window converges on re-run: before
    the first rename nothing changed (stale temp is discarded);
    between the renames the complete merged state is in the temp and
    recovery finishes the swap; mid-delete of the set-aside copy the
    live log is already complete and recovery just finishes the
    delete."""
    import os
    import shutil

    base = table_dir.rstrip("/")
    tmp = base + "__compacting"
    old = base + "__replaced"
    # recovery from a prior crash, in reverse order of the crash windows
    if not os.path.exists(table_dir):
        if os.path.exists(tmp):
            os.rename(tmp, table_dir)  # finish an interrupted swap
        elif os.path.exists(old):
            os.rename(old, table_dir)  # restore (temp was lost pre-write)
        else:
            raise FileNotFoundError(table_dir)
    if os.path.exists(old):
        shutil.rmtree(old)  # swap completed; finish the deferred delete
    merged = merge(spark.read.parquet(table_dir))
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.parquet(tmp)
    n_before = sum(1 for f in os.listdir(table_dir) if f.endswith(".parquet"))
    os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old)
    return {"files_before": n_before, "files_after": sum(
        1 for f in os.listdir(table_dir) if f.endswith(".parquet")
    )}
