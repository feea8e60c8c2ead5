"""Parquet schemas read from file footers on the driver.

``spark.read.parquet(p)`` without a schema launches one Spark job per
call (``ParquetFileFormat.mergeSchemasInParallel``) whose tasks open
the footer, convert its message type and send the result back. For a
path the program already knows, that job is pure fixed cost: the same
conversion runs here on the driver, through Spark's own converter, and
the read takes the result as a user-supplied schema — the data-source
contract of Spark SQL (SIGMOD 2015) — so no job launches.

The conversion is the one the inference job applies to each file:
``ParquetFooterReader.readFooter`` with ``SKIP_ROW_GROUPS``, then
``ParquetFileFormat.readSchemaFromFooter`` with a
``ParquetToSparkSchemaConverter`` built from the session's SQL conf.
So session settings (``nanosAsLong``, INT96, ``timestamp_ntz``
inference) and a Spark-written file's embedded row schema apply
exactly as they do under inference. An unreadable footer raises, as
the inference job does.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of the parquet file at ``path``, from its footer."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    meta = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hpath, state.newHadoopConf()),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(hpath, meta),
        parquet.ParquetToSparkSchemaConverter(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def read_parquet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """``spark.read.parquet(*paths)`` for a list of parquet FILES,
    without the inference job. With ``mergeSchema`` off, inference
    reads only the footer of the first file in path order
    (``ParquetUtils.splitFiles`` sorts the leaves by path), so that is
    the footer read here — not the first one listed."""
    return spark.read.schema(footer_schema(spark, min(paths))).parquet(*paths)
