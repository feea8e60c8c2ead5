"""Footer-derived parquet schemas (sources/footer.py): the schema read on
the driver must equal what Spark's inference job would produce, for
the test tables and for the encodings the catalog has to tolerate, and
the readers built on it must launch no Spark job."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_service_spark.sources import snapshots as S
from etl_service_spark.sources.catalog import TABLES, load_table
from etl_service_spark.sources.footer import footer_schema, read_parquet

from .conftest import SF_DIR

TESTDATA = os.path.dirname(SF_DIR)


def _parity(spark, path):
    got = spark.read.schema(footer_schema(spark, path)).parquet(path).schema
    assert got == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference_on_test_tables(spark, sf):
    for name in TABLES:
        _parity(spark, os.path.join(TESTDATA, sf, f"{name}.parquet"))


def _nanos_events(path, n=5):
    base = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([base + i * 1_001 for i in range(n)], pa.timestamp("ns")),
                "user_id": pa.array([i % 2 for i in range(n)], pa.int64()),
                "event_type": pa.array(["click"] * n),
                "value": pa.array([float(i) for i in range(n)]),
                "props": pa.array(["{}"] * n),
            }
        ),
        path,
    )
    return base


def test_footer_schema_nanos_events_and_load_table(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    base = _nanos_events(path)
    _parity(spark, path)
    assert dict(read_parquet(spark, [path]).dtypes)["ts"] == "bigint"  # nanosAsLong
    df = load_table(spark, str(tmp_path), "events")
    types = dict(df.dtypes)
    assert types["ts_us"] == "bigint" and types["ts"] == "timestamp_ntz"
    first = df.orderBy("event_id").first()
    assert first["ts_us"] == base // 1000
    assert first["ts"] == dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=base // 1000)


def test_footer_schema_nanos_rich_types(spark, tmp_path):
    path = str(tmp_path / "rich.parquet")
    pq.write_table(
        pa.table(
            {
                "ts_tz": pa.array([1_700_000_000_000_000_001], pa.timestamp("ns", tz="UTC")),
                "ts_us": pa.array([1_700_000_000_000_001], pa.timestamp("us")),
                "dec": pa.array([decimal.Decimal("12.345")], pa.decimal128(12, 3)),
                "u32": pa.array([4_000_000_000], pa.uint32()),
                "st": pa.array([{"a": 1, "b": "x"}], pa.struct([("a", pa.int32()), ("b", pa.string())])),
                "mp": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
                "arr": pa.array([[1, 2]], pa.list_(pa.int16())),
                "d": pa.array([dt.date(2026, 1, 2)], pa.date32()),
                "bin": pa.array([b"\x00\x01"], pa.binary()),
            }
        ),
        path,
    )
    _parity(spark, path)


def test_footer_schema_int96(spark, tmp_path):
    path = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    _parity(spark, path)
    assert dict(read_parquet(spark, [path]).dtypes)["ts"] == "timestamp"


def test_footer_schema_spark_written_file(spark, tmp_path):
    out = str(tmp_path / "spark_out")
    spark.sql(
        """
        SELECT CAST(1 AS TINYINT) AS b, CAST(2 AS SMALLINT) AS s, 3 AS i, 4L AS l,
               CAST(1.5 AS FLOAT) AS f, 2.5D AS d, CAST(12.345 AS DECIMAL(20,3)) AS dec,
               DATE'2026-01-02' AS dt, TIMESTAMP'2026-01-02 03:04:05' AS ts,
               TIMESTAMP_NTZ'2026-01-02 03:04:05' AS ts_ntz, true AS flag,
               X'0102' AS bin, named_struct('a', 1, 'b', 'x') AS st,
               map('k', 1L) AS mp, array(1, 2) AS arr
        """
    ).coalesce(1).write.parquet(out)
    (part,) = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    _parity(spark, part)


def test_read_parquet_types_from_first_file_in_path_order(spark, tmp_path):
    """Inference reads the footer of the first file in PATH order, not
    of the first one passed; a drifted column order shows which."""
    late, early = str(tmp_path / "z.parquet"), str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"id": [1], "v": ["x"]}), late)
    pq.write_table(pa.table({"v": ["y"], "id": [2], "extra": [1.0]}), early)
    for paths in ([late, early], [early, late]):
        got = read_parquet(spark, paths).schema
        assert got == spark.read.parquet(*paths).schema
        assert got.fieldNames() == ["v", "id", "extra"]


def test_views_launch_no_spark_job(spark, sf_dir):
    from etl_service_spark.plans.queries import views

    fresh = spark.newSession()
    tracker = spark.sparkContext.statusTracker()

    def jobs_during(fn):
        before = set(tracker.getJobIdsForGroup(None))
        fn()
        return set(tracker.getJobIdsForGroup(None)) - before

    assert jobs_during(lambda: views(fresh, sf_dir)) == set()
    assert set(views(fresh, sf_dir)) == set(TABLES)
    # the counter does see an inference job
    assert jobs_during(lambda: fresh.read.parquet(os.path.join(sf_dir, "region.parquet")))


def test_unreadable_footer_raises(spark, tmp_path):
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        footer_schema(spark, str(bad))


def _assert_versions_match_inference(spark, table_dir):
    for v in S.list_versions(table_dir):
        paths = [os.path.join(table_dir, f) for f in S._read_manifest(table_dir, v)["files"]]
        got = S.read_snapshot(spark, table_dir, v).schema
        assert got == spark.read.parquet(*paths).schema, f"version {v}"


def test_snapshot_versions_match_inference(spark, tmp_path):
    """Every commit path of the snapshot layer — append (also with a
    drifted column order), overwrite, merge (update/insert/delete,
    insert-only), compact and recluster — yields versions whose
    footer-typed read equals the inferred one."""
    d = str(tmp_path / "tbl")

    def rows(ids, ddl="id bigint, v bigint"):
        return spark.createDataFrame([(i, i * 10) for i in ids], ddl)

    S.commit_append(rows(range(40)).repartitionByRange(4, "id"), d)
    S.commit_append(rows([100, 101], "v bigint, id bigint"), d)
    S.commit_overwrite(rows(range(200)).repartition(8), d)
    flagged = spark.createDataFrame(
        [(2, 999, False), (3, 0, True), (500, 5000, False)],
        "id bigint, v bigint, is_delete boolean",
    )
    S.merge_upsert(spark, d, flagged, "id", "is_delete")
    S.merge_upsert(spark, d, rows([900, 901], "v bigint, id bigint").select("v", "id"), "id")
    assert S.compact_files(spark, d)["version"] is not None
    S.recluster_files(spark, d, "id", n_files=2)
    assert len(S.list_versions(d)) == 7
    _assert_versions_match_inference(spark, d)
    assert sorted(r.id for r in S.read_snapshot(spark, d).collect()) == sorted(
        [i for i in range(200) if i != 3] + [500, 9000, 9010]
    )
