"""File-exchange ingest pipeline (SURVEY §2.2 D6/D7/D12).

Reference: ``TransferDataFromExcelToDB`` (CommandExecuter.cs:1335-1640)
implements a directory protocol: every ``*.xlsx`` under ``{dir}/Insert``
is moved to ``{dir}/TMP``, sheet 1 is read, columns are renamed via a
2-column ``mapping.csv`` (source_column→target_column — the reference
CSV reader literally reads only the first two columns,
CommandExecuter.cs:2078-2082), eight audit columns are injected
(CommandExecuter.cs:1974-1982), rows are appended; on failure the
file's rows are deleted (``DELETE … WHERE Dateiname = f``,
CommandExecuter.cs:1130-1157) and the file moved back; on success files
are deleted. ``CheckFileExistenceInDB`` (CommandExecuter.cs:1736-1786)
is the dedup-by-filename guard.

Spark-first:

- the per-file rollback unit becomes a ``Dateiname``-keyed partition of
  the target (idempotent overwrite of one file's partition = the
  reference's delete+retry);
- dedup-by-filename is a broadcast left-anti join against the distinct
  loaded filenames — no driver loop, scales to millions of files;
- Excel decode itself is gated: openpyxl is not in this container, so
  the reader accepts any pandas-readable sheet and tests use CSV sheets
  through the same code path.
"""

from __future__ import annotations

import logging
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

@dataclass(frozen=True)
class IngestContext:
    mandant_id: int
    datenherkunft: str
    producer: str
    query_time: str  # ISO timestamp (workflow start)
    export_date: str  # ISO date


def read_mapping_csv(spark: SparkSession, path: str, delimiter: str = ";") -> dict[str, str]:
    """mapping.csv: header + exactly two meaningful columns
    (CommandExecuter.cs:2078-2082) — source sheet header → target column."""
    rows = (
        spark.read.option("header", True).option("sep", delimiter).csv(path).collect()
    )
    out: dict[str, str] = {}
    for r in rows:
        vals = [v for v in r]
        if len(vals) >= 2 and vals[0] is not None and vals[1] is not None:
            out[str(vals[0])] = str(vals[1])
    return out


def apply_mapping(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    return df.withColumnsRenamed(mapping)


def inject_audit_columns(
    df: DataFrame, filename: str, ctx: IngestContext, pk_col: str | None = None
) -> DataFrame:
    """The eight Excel-path audit columns (CommandExecuter.cs:1974-1982).

    ``DataVorsystemPK`` (the source-system PK) uses ``pk_col`` when the
    sheet has a natural key; otherwise a partition-unique synthetic id.
    """
    pk = F.col(pk_col).cast("bigint") if pk_col else F.monotonically_increasing_id()
    return (
        df.withColumn("Dateiname", F.lit(os.path.basename(filename)))
        .withColumn("Exportdatum", F.lit(ctx.export_date).cast("date"))
        .withColumn("Mandanten_ID", F.lit(ctx.mandant_id).cast("bigint"))
        .withColumn("LoeschDatum", F.lit(None).cast("date"))
        .withColumn("Datenherkunft", F.lit(ctx.datenherkunft))
        .withColumn("DataVorsystemPK", pk)
        .withColumn("Datenproduzent", F.lit(ctx.producer))
        .withColumn("Abfragezeitpunkt", F.lit(ctx.query_time).cast("timestamp_ntz"))
    )


def dedup_new_files(incoming: DataFrame, target: DataFrame | None, key: str = "Dateiname") -> DataFrame:
    """D7: keep only rows whose filename is not yet loaded — broadcast
    left-anti join against the distinct loaded keys."""
    if target is None or key not in target.columns:
        return incoming
    loaded = target.select(key).distinct()
    return incoming.join(F.broadcast(loaded), on=key, how="left_anti")


def read_sheet(spark: SparkSession, path: str) -> DataFrame:
    """Sheet reader. Real .xlsx decodes via pandas/openpyxl when the
    library is present, else via the vendored pure-python zip+XML
    reader (sources/xlsx.py) — scope-equal to the reference's sheet-1
    value reads (CommandExecuter.cs:1915-2027); every other format
    flows through the same ingest pipeline via CSV."""
    if path.endswith(".xlsx"):
        try:
            import openpyxl  # noqa: F401
            import pandas as pd

            pdf = pd.read_excel(path)
        except ImportError:  # pragma: no cover - environment-dependent
            from ..sources.xlsx import read_xlsx_pandas

            pdf = read_xlsx_pandas(path)
        return spark.createDataFrame(pdf)
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


# ----------------------------------------------------- staging protocol (D12)
INGESTIBLE_EXTS = (".xlsx", ".xls", ".csv")

# Known sidecar/config names kept beside the sheets that must never be
# staged as data even though their extension is ingestible (the
# reference avoids the issue by globbing *.xlsx only).
SIDECAR_NAMES = frozenset({"mapping.csv"})


def stage_files(directory: str) -> list[str]:
    """Move Insert/<sheet files> → TMP/ (CommandExecuter.cs:1086-1320),
    returning the staged paths. Only ingestible FILES are staged — the
    reference globs *.xlsx; moving everything would stage Excel lock
    files (~$report.xlsx, perpetually failing), subdirectories, and a
    mapping.csv kept beside the sheets would even be ingested as
    data. Hidden/lock entries, sidecars (SIDECAR_NAMES), and other
    extensions stay in Insert/."""
    ins, tmp = os.path.join(directory, "Insert"), os.path.join(directory, "TMP")
    os.makedirs(tmp, exist_ok=True)
    staged = []
    for name in sorted(os.listdir(ins)) if os.path.isdir(ins) else []:
        src = os.path.join(ins, name)
        if (
            not os.path.isfile(src)
            or name.startswith(("~$", "."))
            or name.lower() in SIDECAR_NAMES
            or not name.lower().endswith(INGESTIBLE_EXTS)
        ):
            if os.path.isfile(src) and name.lower() in SIDECAR_NAMES:
                # a DATA file that happens to be named like a sidecar
                # would otherwise strand in Insert/ forever with no
                # trace (round-5 advisor finding) — leave it, but say so
                logging.getLogger(__name__).info(
                    "stage_files: leaving sidecar-named %s in Insert/ "
                    "(config name, never staged as data)", name
                )
            continue
        dst = os.path.join(tmp, name)
        shutil.move(src, dst)
        staged.append(dst)
    return staged


def reset_file(staged_path: str, directory: str) -> None:
    """Failure rollback: move the file back to Insert/."""
    ins = os.path.join(directory, "Insert")
    os.makedirs(ins, exist_ok=True)
    shutil.move(staged_path, os.path.join(ins, os.path.basename(staged_path)))


def ingest_directory(
    spark: SparkSession,
    directory: str,
    target_path: str,
    mapping: dict[str, str],
    ctx: IngestContext,
) -> tuple[int, list[str]]:
    """Full D6 pipeline over a staging directory. Appends to a
    Dateiname-partitioned parquet target; per-file failure rolls the
    file back without touching other files' partitions.

    Returns (rows_ingested, failed_files).
    """
    staged = stage_files(directory)
    total, failed = 0, []
    for path in staged:
        # rollback scope: the partition may already hold a PREVIOUS
        # successful load of this filename (the D7 dedup gate then
        # writes nothing new into it) — deleting it on failure would
        # destroy committed data, not this run's rows
        part = os.path.join(target_path, f"Dateiname={os.path.basename(path)}")
        part_existed = os.path.isdir(part)
        try:
            df = read_sheet(spark, path)
            df = apply_mapping(df, mapping)
            df = inject_audit_columns(df, path, ctx)
            try:
                existing = spark.read.parquet(target_path)
            except Exception:
                existing = None
            df = dedup_new_files(df, existing)
            n = df.count()
            if n:
                df.write.mode("append").partitionBy("Dateiname").parquet(target_path)
            total += n
            os.remove(path)
        except Exception:
            # rollback: drop this file's partition ONLY if this run
            # created it, then restore the file for repair-and-replay
            if not part_existed:
                shutil.rmtree(part, ignore_errors=True)
            reset_file(path, directory)
            failed.append(os.path.basename(path))
    return total, failed
