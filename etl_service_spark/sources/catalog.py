"""Catalog of the synthetic test tables + schema normalization.

Plays the role of the reference's connection/config resolution chain
(`Step.GetRealizationConnections`, Step.cs:1285-1767): given a "source
directory" (one parquet file per table), expose typed DataFrames and
registered temp views.

Normalization rules (applied identically on the DuckDB-oracle side by
`oracle_prelude()` in plans/queries.py):

- ``events.ts`` has appeared in TWO parquet encodings across testdata
  generations, and ``load_table`` adapts to whichever it finds:
    * TIMESTAMP(MICROS) — the current encoding, read natively as
      TIMESTAMP_NTZ;
    * TIMESTAMP(NANOS) — the legacy encoding, which Spark reads as a
      long under ``nanosAsLong`` (kept enabled for old directories).
  Either way we expose BOTH:
    * ``ts_us``  — bigint microseconds since epoch (for NANOS input:
      nanos // 1000, truncation) — the cross-engine-stable
      representation;
    * ``ts``     — TIMESTAMP_NTZ built from ts_us.
  DuckDB's ``epoch_us(ts)`` performs the same truncation, so values
  hash-match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .footer import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_parquet(spark, [os.path.join(sf_dir, f"{name}.parquet")])
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos → micros (truncating), keep both representations
            # integer DIV, not `/`: epoch-nanos ≈ 1.7e18 exceeds double's 2^53
            df = df.withColumn("ts_us", F.expr("ts DIV 1000"))
        else:
            # parquet TIMESTAMP(MICROS) → timestamp_ntz; session tz is UTC,
            # so the ltz round-trip is the identity and ts_us is exact
            df = df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every test table as a temp view; returns name → DataFrame.
    Schemas come from the footers (``footer.read_parquet``): no Spark job."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_with_schema_evolution(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Read a landing directory whose parquet drops have DRIFTED
    schemas (columns added over time, int widened to long) into one
    DataFrame: ``mergeSchema`` unions the footers' schemas, older
    files surface the missing columns as NULL.

    Schema drift is a fact of life for a multi-month landing zone at
    100 TB — upstream teams add columns without coordinating. The
    merge cost is footer-only (no data read), so it scales with file
    COUNT, not bytes; pair with ``align_to_schema`` (operators/align)
    to land the merged relation onto the governed target schema with
    defaults instead of NULLs. Mirrors the reference's mapping.csv
    rename step (Helper.cs mapping load) which tolerates extra source
    columns by selection rather than failure."""
    try:
        return (
            spark.read.option("mergeSchema", "true")
            # landing zones nest drops in per-batch/per-date subdirectories
            .option("recursiveFileLookup", "true")
            .parquet(landing_dir)
        )
    except Exception:
        # mergeSchema refuses NUMERIC WIDENING drift (INT vs BIGINT,
        # FLOAT vs DOUBLE raise CANNOT_MERGE_SCHEMAS) — the most common
        # real-world drift of all. Fall back to manual widening: group
        # files by footer schema (metadata-only), read each group, cast
        # every column to the widened common type, union by name.
        return _read_with_numeric_widening(spark, landing_dir)


_INT_LADDER = ["tinyint", "smallint", "int", "bigint"]
_FLOAT_LADDER = ["float", "double"]


def _wider(a: str | None, b: str) -> str:
    if a is None or a == b:
        return b
    if a in _INT_LADDER and b in _INT_LADDER:
        return _INT_LADDER[max(_INT_LADDER.index(a), _INT_LADDER.index(b))]
    if a in _INT_LADDER + _FLOAT_LADDER and b in _INT_LADDER + _FLOAT_LADDER:
        return "double"
    raise ValueError(f"irreconcilable schema drift: {a} vs {b}")


def _read_with_numeric_widening(spark: SparkSession, landing_dir: str) -> DataFrame:
    from functools import reduce

    import pyarrow.parquet as pq

    # Walk order is filesystem-dependent; sort the discovered paths so
    # schema-group discovery — and therefore the derived union column
    # order — is identical across runs and filesystems.
    paths: list[str] = []
    for root, _dirs, names in os.walk(landing_dir):
        paths.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    by_schema: dict[tuple, list[str]] = {}
    for p in sorted(paths):
        sch = pq.ParquetFile(p).schema_arrow
        key = tuple((f.name, str(f.type)) for f in sch)
        by_schema.setdefault(key, []).append(p)
    if not by_schema:
        raise FileNotFoundError(f"no parquet files under {landing_dir}")
    # files of one group share an arrow schema, so one footer types them all
    dfs = [read_parquet(spark, paths) for paths in by_schema.values()]
    target: dict[str, str] = {}
    order: list[str] = []
    for df in dfs:
        for name, t in df.dtypes:
            if name not in target:
                order.append(name)
            target[name] = _wider(target.get(name), t)
    aligned = [
        df.select(
            *[
                (F.col(n) if dict(df.dtypes).get(n) == target[n]
                 else F.col(n).cast(target[n]) if n in dict(df.dtypes)
                 else F.lit(None).cast(target[n])).alias(n)
                for n in order
            ]
        )
        for df in dfs
    ]
    return reduce(lambda a, b: a.unionByName(b), aligned)
