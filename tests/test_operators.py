"""Unit tests for data-plane operators: placeholders (E1), dialect shim
(D3), alignment (D10), copy write path (D1/D2), CSV export (D8), file
ingest directory protocol (D6/D12), run-log lifecycle."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_service_spark.functions.placeholders import (
    UnknownPlaceholderError,
    resolve_execute_window,
    resolve_placeholders,
)
from etl_service_spark.operators.align import AuditContext, align_to_schema
from etl_service_spark.operators.copy import (
    SLICE_COL,
    TakeoverWindow,
    copy_data_timesliced,
    render_sliced_command,
    write_copy,
)
from etl_service_spark.operators.csv_export import CsvOptions, sanitize_filename, write_csv
from etl_service_spark.operators.file_ingest import (
    IngestContext,
    ingest_directory,
    read_mapping_csv,
)
from etl_service_spark.operators.sql_exec import SqlTargetError, execute_sql_target, translate_dialect


# ------------------------------------------------------------------- E1
def test_placeholder_resolution():
    out = resolve_placeholders("SELECT * FROM t WHERE id = ##Workflow_ID##", {"Workflow_ID": "42"})
    assert out == "SELECT * FROM t WHERE id = 42"


def test_placeholder_unknown_raises():
    with pytest.raises(UnknownPlaceholderError):
        resolve_placeholders("##NoSuchToken##", {})


def test_placeholder_known_but_missing_raises():
    with pytest.raises(UnknownPlaceholderError):
        resolve_placeholders("##Uebernahme_von##", {})


def test_execute_window_literals():
    out = resolve_execute_window(
        "BETWEEN &&EXECUTE_FROM&& AND &&EXECUTE_TO&&",
        datetime(2026, 3, 1),
        datetime(2026, 3, 31),
    )
    assert out == "BETWEEN 20260301000000 AND 20260331235959"


def test_render_sliced_command_day_bounds():
    out = render_sliced_command(
        "##Uebernahme_von##/##Uebernahme_bis##",
        {},
        TakeoverWindow(datetime(2026, 1, 5, 14, 30), datetime(2026, 2, 7, 9, 0)),
    )
    assert out == "20260105/20260207"


# ------------------------------------------------------------------- D3
def test_dialect_translation():
    sql = "SELECT TOP 5 [Fehler Text], ISNULL(x, '-'), GETDATE(), SUSER_NAME() FROM t ORDER BY 1"
    out = translate_dialect(sql)
    assert "LIMIT 5" in out and "TOP" not in out
    assert "`Fehler Text`" in out
    assert "coalesce(" in out and "current_timestamp()" in out and "current_user()" in out


def test_sql_target_sentinel(spark):
    with pytest.raises(SqlTargetError):
        execute_sql_target(spark, "SELECT -1 AS OutputParam1")


# ------------------------------------------------------------------ D10
def test_align_adds_missing_renames_and_audits(spark):
    src = spark.createDataFrame([(1, "x")], ["ID", "payload"])
    dst = StructType(
        [
            StructField("id", LongType()),
            StructField("payload", StringType()),
            StructField("Nutzer", StringType()),
            StructField("extra", StringType()),
        ]
    )
    audit = AuditContext("u", "2026-01-01 00:00:00", "p")
    out = align_to_schema(src, dst, audit).collect()[0]
    assert out["id"] == 1 and out["payload"] == "x"
    assert out["Nutzer"] == "u" and out["extra"] is None


# -------------------------------------------------------------- D1 / D2
def test_timesliced_copy_write(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = TakeoverWindow(datetime(1995, 1, 1), datetime(1995, 3, 31))
    sliced = copy_data_timesliced(orders, "o_orderdate", w)
    assert SLICE_COL in sliced.columns
    n = write_copy(sliced, str(tmp_path / "t"), mode="overwrite", slice_partitioned=True)
    assert n == sliced.count()
    # partition layout on disk = month slices (pruning for the next run)
    parts = [p for p in os.listdir(tmp_path / "t") if p.startswith(f"{SLICE_COL}=")]
    assert sorted(parts) == [f"{SLICE_COL}=199501", f"{SLICE_COL}=199502", f"{SLICE_COL}=199503"]


# ------------------------------------------------------------------- D8
def test_csv_writer_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a;b", None), (2, 'q"uote', "ok")], ["id", "s", "t"])
    opts = CsvOptions(null_token="NULL")
    write_csv(df, str(tmp_path / "out"), opts)
    back = (
        spark.read.option("header", True)
        .option("sep", ";")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "NULL")
        .csv(str(tmp_path / "out"))
    )
    rows = {r["id"]: r for r in back.collect()}
    assert rows["1"]["s"] == "a;b" and rows["1"]["t"] is None
    assert rows["2"]["s"] == 'q"uote'


def test_filename_sanitizer():
    assert sanitize_filename('out 12:30:55 "x".csv') == "out12_30_55x.csv"


# ------------------------------------------------------- D6 / D12 ingest
def test_ingest_directory_protocol(spark, tmp_path):
    d = tmp_path / "exchange"
    (d / "Insert").mkdir(parents=True)
    (d / "Insert" / "good.csv").write_text("OrderKey,Amount\n1,10\n2,20\n")
    (d / "Insert" / "empty.csv").write_text("OrderKey,Amount\n")
    mapping_path = tmp_path / "mapping.csv"
    mapping_path.write_text("source_column;target_column;ignored_third_column\nOrderKey;o_key;zzz\nAmount;amount;zzz\n")
    mapping = read_mapping_csv(spark, str(mapping_path))
    assert mapping == {"OrderKey": "o_key", "Amount": "amount"}  # only first 2 columns read

    ctx = IngestContext(1, "unit-test", "spark", "2026-01-01 00:00:00", "2026-01-01")
    target = str(tmp_path / "target")
    total, failed = ingest_directory(spark, str(d), target, mapping, ctx)
    assert failed == []
    assert total == 2
    out = spark.read.parquet(target)
    assert set(out.columns) >= {"o_key", "amount", "Dateiname", "Mandanten_ID", "Datenherkunft"}
    assert out.count() == 2
    # staged files removed on success, Insert drained
    assert os.listdir(d / "Insert") == []


def test_stage_files_skips_mapping_sidecar_and_nonsheets(tmp_path):
    """Round-5 ADVICE: a mapping.csv kept beside the sheets in Insert/
    must NOT be staged as data (its extension is ingestible, its role
    is config); lock files/hidden/other extensions also stay."""
    from etl_service_spark.operators.file_ingest import stage_files

    d = tmp_path / "exchange"
    (d / "Insert").mkdir(parents=True)
    (d / "Insert" / "sheet.csv").write_text("A,B\n1,2\n")
    (d / "Insert" / "mapping.csv").write_text("source_column;target_column\nA;a\n")
    (d / "Insert" / "Mapping.CSV").write_text("source_column;target_column\nA;a\n")
    (d / "Insert" / "~$lock.xlsx").write_text("")
    (d / "Insert" / "notes.txt").write_text("")
    staged = stage_files(str(d))
    assert [os.path.basename(p) for p in staged] == ["sheet.csv"]
    assert sorted(os.listdir(d / "Insert")) == [
        "Mapping.CSV", "mapping.csv", "notes.txt", "~$lock.xlsx",
    ]


def test_ingest_rollback_on_failure(spark, tmp_path):
    d = tmp_path / "exchange"
    (d / "Insert").mkdir(parents=True)
    (d / "Insert" / "bad.bin").write_bytes(b"\x00\x01 not a sheet")
    ctx = IngestContext(1, "unit-test", "spark", "2026-01-01 00:00:00", "2026-01-01")
    target = str(tmp_path / "target")
    total, failed = ingest_directory(
        spark, str(d), target, {"missing_col": "x"}, ctx
    )
    # unreadable file → rolled back to Insert/, nothing written
    if failed:  # CSV reader may tolerate binary garbage; only assert when it failed
        assert os.path.exists(d / "Insert" / "bad.bin")


# ---------------------------------------------------------------- runlog
def test_runlog_lifecycle_and_analytics(spark, tmp_path):
    from etl_service_spark.plans.runlog import (
        RunLog,
        error_report_sql,
        last_run_per_workflow_sql,
        register_runlog_views,
        run_tree_sql,
    )

    log = RunLog(str(tmp_path))
    wf = log.open("workflow", "WF_TEST", None, datetime(2026, 1, 1, 2, 0))
    pkg = log.open("package", "P_MAIN", wf, datetime(2026, 1, 1, 2, 0))
    real = log.open("realization", "R_MAIN", pkg, datetime(2026, 1, 1, 2, 0))
    step = log.open("step", "S_COPY", real, datetime(2026, 1, 1, 2, 0))
    log.close("step", step, success=False)
    log.close("realization", real, success=True)
    log.close("package", pkg, success=False)
    log.close("workflow", wf, success=False, expected_rows=0)
    wf2 = log.open("workflow", "WF_TEST", None, datetime(2026, 1, 2, 2, 0))
    log.close("workflow", wf2, success=True, expected_rows=123)
    log.flush(spark)

    register_runlog_views(spark, str(tmp_path))
    errors = spark.sql(error_report_sql()).collect()
    assert {r["level"] for r in errors} == {"workflow", "package", "step"}
    last = spark.sql(last_run_per_workflow_sql()).collect()
    assert len(last) == 1 and last[0]["run_id"] == wf2
    tree = spark.sql(run_tree_sql()).collect()
    nodes = {r["node"]: r["parent"] for r in tree}
    assert nodes[f"P{pkg}"] == f"W{wf}" and nodes[f"R{real}"] == f"P{pkg}" and nodes[f"S{step}"] == f"R{real}"


def test_runlog_errors_queries_and_json_log(spark, tmp_path):
    """Fehlermeldungen/SQL_Anfragen/Json_Log plane: errors join their
    failed runs with SQL text; Json_Log parses with from_json."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from etl_service_spark.plans.runlog import (
        RunLog,
        error_messages_sql,
        register_runlog_views,
    )

    log = RunLog(str(tmp_path))
    t0 = datetime(2026, 2, 1, 3, 0)
    wf = log.open("workflow", "WF_ERR", None, t0)
    step = log.open("step", "S_BAD", wf, t0)
    log.log_query(step, "INSERT INTO t SELECT broken")
    log.error("step", step, "sentinel -1 from target", sql_text=None)
    log.close("step", step, success=False)
    log.error("workflow", wf, "child step failed")
    log.close("workflow", wf, success=False, expected_rows=0)
    log.flush(spark)
    register_runlog_views(spark, str(tmp_path))

    errs = spark.sql(error_messages_sql()).collect()
    by_level = {r["level"]: r for r in errs}
    assert by_level["step"]["sql_text"] == "INSERT INTO t SELECT broken"  # via query log
    assert by_level["workflow"]["sql_text"] == "-"  # NULL-coalesced like the reference
    assert by_level["step"]["Meldung"].startswith("sentinel")

    parsed = (
        spark.table("runlog_workflow")
        .filter(F.col("Json_Log").isNotNull())
        .select(F.from_json("Json_Log", "level STRING, run_id BIGINT, success BOOLEAN, rows BIGINT").alias("j"))
        .select("j.*")
        .collect()
    )
    assert parsed and parsed[0]["success"] is False and parsed[0]["rows"] == 0


def test_csv_option_matrix_golden(spark):
    """D8 fidelity matrix (CommandExecuter.cs:2285-2333): custom
    delimiter/qualifier/escape/null-token/date-format produce exact
    golden lines."""
    from datetime import datetime

    from etl_service_spark.operators.csv_export import CsvOptions, format_lines, header_line

    df = spark.createDataFrame(
        [
            (1, "plain", datetime(2026, 3, 1, 14, 30)),
            (2, "has|delim", None),
            (3, "o'quote", datetime(2026, 12, 31, 23, 59)),
            (4, None, None),
        ],
        "id int, s string, ts timestamp",
    )
    opts = CsvOptions(
        delimiter="|", qualifier="'", escape="\\", null_token="NULL", date_format="dd.MM.yyyy HH:mm"
    )
    lines = {r["id"]: r["line"] for r in format_lines(df, opts, order_col="id").collect()}
    assert header_line(df, opts) == "id|s|ts"
    assert lines[1] == "1|plain|01.03.2026 14:30"
    assert lines[2] == "2|'has|delim'|NULL"      # delimiter forces qualifier-wrap
    assert lines[3] == "3|'o\\'quote'|31.12.2026 23:59"  # inner qualifier escaped
    assert lines[4] == "4|NULL|NULL"             # null token everywhere


def test_run_graph_dot(spark, tmp_path):
    """A9: DOT rendering of the run structure with success coloring."""
    from datetime import datetime

    from etl_service_spark.plans.runlog import RunLog, register_runlog_views, run_graph_dot

    log = RunLog(str(tmp_path))
    t0 = datetime(2026, 4, 1, 1, 0)
    wf = log.open("workflow", "WF_VIZ", None, t0)
    pkg = log.open("package", "P", wf, t0)
    log.close("package", pkg, success=True)
    log.close("workflow", wf, success=False)
    log.flush(spark)
    register_runlog_views(spark, str(tmp_path))
    dot = run_graph_dot(spark)
    assert dot.startswith("digraph run {") and dot.endswith("}")
    assert f'"W{wf}" -> "P{pkg}";' in dot
    assert f'"P{pkg}" [label="P", color=green];' in dot
    assert f'"W{wf}" [label="WF_VIZ", color=red];' in dot


def test_html_run_report(spark, tmp_path):
    """Mail-ready HTML report (Helper.cs:606-1292 + resultTable*.txt):
    seeded failure run renders status banner, hierarchical module rows
    in walk order, duration rule, and the failure table; a success
    render carries no error table."""
    from datetime import datetime

    from etl_service_spark.plans.report import duration_label, render_run_report
    from etl_service_spark.plans.runlog import RunLog, register_runlog_views

    log = RunLog(str(tmp_path))
    t0 = datetime(2026, 5, 1, 6, 0)
    wf = log.open("workflow", "WF_MAIL", None, t0)
    pkg = log.open("package", "P_LOAD", wf, t0)
    real = log.open("realization", "R_DB1", pkg, t0)
    step = log.open("step", "S_COPY", real, t0)
    log.log_query(step, "INSERT INTO tgt SELECT broken")
    log.error("step", step, "sentinel -1 from target")
    log.close("step", step, success=False)
    log.close("realization", real, success=False)
    log.close("package", pkg, success=False)
    log.close("workflow", wf, success=False)
    log.flush(spark)
    register_runlog_views(spark, str(tmp_path))

    now = datetime(2026, 5, 1, 6, 10)
    html_doc = render_run_report(spark, 42, success=False, now=now)
    # status banner + workflow id (failure branch, Helper.cs:665-686)
    assert "Fehlgeschlagen" in html_doc and "#c4254a" in html_doc
    assert "Report Workflow 42" in html_doc
    # module table: depth-first package -> realization -> step order
    assert "Ausgeführte Module" in html_doc
    i_p = html_doc.index(f"Paket {pkg}")
    i_r = html_doc.index(f"Umsetzung {real}")
    i_s = html_doc.index(f"Schritt {step}")
    assert i_p < i_r < i_s
    assert "P_LOAD" in html_doc and "R_DB1" in html_doc and "S_COPY" in html_doc
    # failure table with the step's SQL from the query log + message
    assert "Fehlermeldungen" in html_doc
    assert "INSERT INTO tgt SELECT broken" in html_doc
    assert "sentinel -1 from target" in html_doc

    # success render: no error table (Helper.cs:652 {{ERRORTABLE}} -> "")
    ok_doc = render_run_report(spark, 42, success=True, now=now)
    assert "Erfolgreich" in ok_doc and "#44d478" in ok_doc
    assert "Fehlermeldungen" not in ok_doc

    # end-of-run artifact writer (SendResultMail minus SMTP): both
    # files land in the outbox dir and carry the rendered content;
    # the distribution list resolves to a deliverable envelope (C10)
    from etl_service_spark.plans.report import DistributionEntry, finalize_run

    dist = [
        DistributionEntry(42, "ops@example.org"),
        DistributionEntry(42, "lead@example.org", cc=True),
        DistributionEntry(42, "onfail@example.org", nur_fehler=True),
        DistributionEntry(42, "gone@example.org", ist_aktiv=False),
        DistributionEntry(99, "other-wf@example.org"),
    ]
    paths = finalize_run(spark, 42, False, str(tmp_path / "outbox"), distribution=dist)
    written = open(paths["html"]).read()
    assert "Fehlgeschlagen" in written and "sentinel -1 from target" in written
    assert open(paths["png"], "rb").read(8) == b"\x89PNG\r\n\x1a\n"
    # failure mail: Nur_Fehler recipients INCLUDED (Workflow.cs:1561-1581
    # has no filter); inactive + other-workflow rows excluded; CC split
    assert paths["to"] == ["ops@example.org", "onfail@example.org"]
    assert paths["cc"] == ["lead@example.org"]
    assert paths["send"] is True
    import json as _json

    env = _json.load(open(paths["envelope"]))
    assert env["to"] == paths["to"] and env["cc"] == paths["cc"]

    # duration rule (Helper.cs:710-717): minutes when rounded > 0, else
    # seconds; open run measures against now; missing start -> '-'
    # 2.5 min rounds to 2: banker's rounding, same as C# Math.Round default
    assert duration_label("2026-05-01T06:00:00", "2026-05-01T06:02:30") == "2 Minuten"
    assert duration_label("2026-05-01T06:00:00", "2026-05-01T06:00:20") == "20 Sekunden"
    assert duration_label("2026-05-01T06:00:00", None, now) == "10 Minuten"
    assert duration_label(None, None, now) == "-"


def test_run_graph_png_render(spark, tmp_path):
    """Raster render of the run structure (Vizualiser.cs parity): valid
    PNG, expected dimensions from the layout math, failure box painted
    in the failure color, background in the canvas color."""
    import struct
    import zlib
    from datetime import datetime

    import numpy as np

    from etl_service_spark.plans.runlog import RunLog, register_runlog_views
    from etl_service_spark.plans.viz import BOX_H, BOX_W, COL_GAP, COLORS, MARGIN, ROW_GAP, render_run_graph_png

    log = RunLog(str(tmp_path))
    t0 = datetime(2026, 6, 1, 1, 0)
    wf = log.open("workflow", "WF_PNG", None, t0)
    pkg = log.open("package", "P", wf, t0)
    st = log.open("step", "S", pkg, t0)
    log.close("step", st, success=False)
    log.close("package", pkg, success=True)
    log.close("workflow", wf, success=False)
    log.flush(spark)
    register_runlog_views(spark, str(tmp_path))

    out = tmp_path / "run.png"
    png = render_run_graph_png(spark, str(out))
    assert png.startswith(b"\x89PNG\r\n\x1a\n") and out.read_bytes() == png
    w, h = struct.unpack(">II", png[16:24])
    assert w == 2 * MARGIN + 4 * BOX_W + 3 * COL_GAP
    assert h == 2 * MARGIN + BOX_H  # one row per level at most

    # decode scanlines (filter 0) and check painted colors
    idat = png[png.index(b"IDAT") + 4 : png.rindex(b"IEND") - 4]
    raw = zlib.decompress(idat)
    fb = np.frombuffer(raw, dtype=np.uint8).reshape(h, w * 3 + 1)[:, 1:].reshape(h, w, 3)
    assert tuple(fb[0, 0]) == COLORS["bg"]
    # workflow box (col 0) failed -> fail fill inside the border
    assert tuple(fb[MARGIN + BOX_H // 2, MARGIN + BOX_W // 2]) == COLORS["fail"]
    # package box (col 1) succeeded -> ok fill
    x_pkg = MARGIN + (BOX_W + COL_GAP) + BOX_W // 2
    assert tuple(fb[MARGIN + BOX_H // 2, x_pkg]) == COLORS["ok"]
    # connector pixel between workflow and package columns
    x_gap = MARGIN + BOX_W + COL_GAP // 2
    assert tuple(fb[MARGIN + BOX_H // 2, x_gap]) == COLORS["edge"]


def test_views_reregister_on_sf_switch(spark):
    """views() must re-point the session's temp views when switching
    BACK to a previously-registered sf_dir — spark.table()/spark.sql()
    consumers read whatever was registered last, so a stale memo hit
    silently serves the other scale factor (regression: caught by an
    interleaved-sf oracle run of corpus_training_pipeline)."""
    from etl_service_spark.plans.queries import views

    views(spark, "/root/testdata/sf0.001")
    n_small = spark.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    views(spark, "/root/testdata/sf0.01")
    n_mid = spark.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    views(spark, "/root/testdata/sf0.001")  # memo hit — must still re-register
    n_back = spark.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    assert n_small < n_mid
    assert n_back == n_small


def test_scrub_pii_masks_and_counts(spark):
    """Span-level PII scrub: emails/phones/IPs masked to <TYPE> tokens
    with per-type counts, clean rows untouched, JVM-side only."""
    from etl_service_spark.operators.profile import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "contact jane.doe@example.org or +43 (1) 234-5678 today"),
            (2, "nodes 10.0.0.1 and 192.168.1.254 deadlocked"),
            (3, "no identifiers here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert "<EMAIL>" in rows[1]["text_scrubbed"] and "<PHONE>" in rows[1]["text_scrubbed"]
    assert "jane.doe" not in rows[1]["text_scrubbed"]
    assert rows[2]["n_ipv4"] == 2 and rows[2]["text_scrubbed"].count("<IPV4>") == 2
    assert rows[3]["text_scrubbed"] == "no identifiers here"
    assert rows[3]["n_email"] == rows[3]["n_phone"] == rows[3]["n_ipv4"] == 0


def test_idempotent_partition_overwrite_copy(spark, sf_dir, tmp_path):
    """Re-running an incremental window replaces only its months:
    no duplicates, other months untouched (the rollback-free recovery
    path for D2)."""
    from datetime import datetime

    from etl_service_spark.operators.copy import (
        TakeoverWindow,
        copy_data_timesliced,
        write_copy_idempotent,
    )
    from etl_service_spark.sources.catalog import load_table

    target = str(tmp_path / "t")
    orders = load_table(spark, sf_dir, "orders")
    h1 = TakeoverWindow(datetime(1995, 1, 1), datetime(1995, 6, 30))
    h2 = TakeoverWindow(datetime(1995, 7, 1), datetime(1995, 12, 31))
    n1 = write_copy_idempotent(copy_data_timesliced(orders, "o_orderdate", h1), target)
    n_total = write_copy_idempotent(copy_data_timesliced(orders, "o_orderdate", h2), target)
    assert n_total > n1  # h1 months still present after writing h2

    # re-run h2 (simulating retry after partial failure): converges
    n_again = write_copy_idempotent(copy_data_timesliced(orders, "o_orderdate", h2), target)
    assert n_again == n_total  # no duplicates, h1 untouched
    full_year = orders.filter(
        "o_orderdate BETWEEN '1995-01-01T00:00:00' AND '1995-12-31T23:59:59'"
    ).count()
    assert n_again == full_year


def test_connected_components_multihop(spark):
    """Chain A-B-C plus isolated pair D-E plus self-contained triangle:
    labels must propagate across hops (similarity is not transitive —
    the pair list alone cannot produce these clusters)."""
    from etl_service_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["doc_a", "doc_b"],
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (7, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_sorted_write_enables_rowgroup_skipping(spark, sf_dir, tmp_path):
    """Range-sorted layout: every output file's [min,max] key range is
    disjoint, so a range predicate can skip all but one file — the
    plain-parquet form of clustering for data skipping."""
    import glob

    import pyarrow.parquet as pq

    from etl_service_spark.operators.copy import write_sorted_for_skipping

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = str(tmp_path / "sorted")
    n_files = write_sorted_for_skipping(orders, out, "o_orderkey", files=4)
    assert n_files >= 3  # range partitioner may merge tiny ranges

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        schema_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        col = schema_idx["o_orderkey"]
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(col).statistics
            ranges.append((s.min, s.max))
    ranges.sort()
    # pairwise disjoint: each row group's min exceeds the previous max
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges
    # and the layout actually answers a range probe from few groups
    lo, hi = ranges[0][0], ranges[0][1]
    hits = [r for r in ranges if not (r[1] < lo or r[0] > hi)]
    assert len(hits) == 1


def test_incremental_dedup_across_batches(spark, sf_dir, tmp_path):
    """Batch 2 re-delivers batch 1's texts plus new ones: only the new
    uniques come out, and the fingerprint table accumulates state —
    the restart-safe batch twin of streaming dropDuplicates."""
    from etl_service_spark.operators.dedup import incremental_dedup

    fp = str(tmp_path / "fingerprints")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    b1 = docs.filter("doc_id < 30").select("doc_id", "text")
    # batch 2: doc 100+ carry copies of batch-1 texts (dup content, new ids)
    dup_part = (
        b1.filter("doc_id < 10")
        .selectExpr("doc_id + 1000 AS doc_id", "text")
    )
    new_part = docs.filter("doc_id >= 30 AND doc_id < 40").select("doc_id", "text")
    b2 = dup_part.union(new_part)

    out1 = incremental_dedup(spark, b1, fp)
    n1 = out1.count()
    assert n1 == b1.select("text").distinct().count()

    out2 = incremental_dedup(spark, b2, fp)
    got_ids = {r.doc_id for r in out2.select("doc_id").collect()}
    # re-delivered texts suppressed; genuinely new docs pass
    assert got_ids == {r.doc_id for r in new_part.select("doc_id").collect()}
    # idempotent-ish: re-running batch 2 emits nothing new
    out3 = incremental_dedup(spark, b2, fp)
    assert out3.count() == 0


def test_zorder_write_prunes_on_both_dimensions(spark, sf_dir, tmp_path):
    """Morton-clustered layout: a narrow predicate on EITHER key hits a
    strict subset of row groups; a linear sort on key_x alone leaves
    the key_y probe hitting every group. Same data, same probe — the
    difference is purely the layout."""
    import glob

    import pyarrow.parquet as pq

    from etl_service_spark.operators.copy import (
        write_sorted_for_skipping,
        write_zordered,
    )

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    n_files = write_zordered(orders, zdir, "o_custkey", "o_orderkey", files=8)
    assert n_files >= 4
    write_sorted_for_skipping(orders, ldir, "o_custkey", files=8)
    assert spark.read.parquet(zdir).count() == orders.count()

    def rg_stats(out_dir, col_name):
        ranges = []
        for f in glob.glob(out_dir + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[col_name]).statistics
                ranges.append((s.min, s.max))
        return ranges

    def hits(ranges, lo, hi):
        return sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))

    ck = [r["k"] for r in orders.selectExpr("min(o_custkey) k").collect()] + [
        r["k"] for r in orders.selectExpr("max(o_custkey) k").collect()
    ]
    ok = [r["k"] for r in orders.selectExpr("min(o_orderkey) k").collect()] + [
        r["k"] for r in orders.selectExpr("max(o_orderkey) k").collect()
    ]
    # a 1/16-width probe on each dimension
    ck_probe = (ck[0], ck[0] + (ck[1] - ck[0]) // 16)
    ok_probe = (ok[0], ok[0] + (ok[1] - ok[0]) // 16)

    zx = rg_stats(zdir, "o_custkey")
    zy = rg_stats(zdir, "o_orderkey")
    assert hits(zx, *ck_probe) < len(zx)  # x probe prunes
    assert hits(zy, *ok_probe) < len(zy)  # y probe ALSO prunes
    # the linear layout cannot prune the secondary column
    ly = rg_stats(ldir, "o_orderkey")
    assert hits(ly, *ok_probe) == len(ly)


def test_compact_small_files_preserves_rows(spark, sf_dir, tmp_path):
    """64 tiny files bin-pack down to the byte-budgeted count with
    identical content and no shuffle (coalesce plan)."""
    from etl_service_spark.operators.copy import compact_small_files

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    frag, out = str(tmp_path / "frag"), str(tmp_path / "compact")
    events.repartition(64).write.parquet(frag)

    import glob

    total = sum(os.path.getsize(f) for f in glob.glob(frag + "/*.parquet"))
    before, after = compact_small_files(spark, frag, out, target_bytes=total // 4 + 1)
    assert before == 64
    assert after <= 6  # ~4 target files (+rounding)
    assert spark.read.parquet(out).count() == events.count()


def test_scd2_merge_semantics_and_idempotence(spark):
    """Changed key closes+reopens, absent key stays open, new key
    inserts, closed history is untouched — and re-applying the SAME
    snapshot is a no-op (the merge converges)."""
    from etl_service_spark.operators.scd import scd2_merge

    current = spark.createDataFrame(
        [
            (1, 100, "2024-01-01", "2025-01-01"),  # closed history
            (1, 150, "2025-01-01", None),          # open, will change
            (2, 200, "2025-01-01", None),          # open, absent from snapshot
        ],
        ["k", "bal", "valid_from", "valid_to"],
    )
    updates = spark.createDataFrame([(1, 175), (3, 300)], ["k", "bal"])

    merged = scd2_merge(current, updates, "k", ["bal"], "2025-06-01")
    rows = {(r["k"], r["bal"], r["valid_from"], r["valid_to"]) for r in merged.collect()}
    assert rows == {
        (1, 100, "2024-01-01", "2025-01-01"),
        (1, 150, "2025-01-01", "2025-06-01"),
        (1, 175, "2025-06-01", None),
        (2, 200, "2025-01-01", None),
        (3, 300, "2025-06-01", None),
    }

    again = scd2_merge(merged, updates, "k", ["bal"], "2025-07-01")
    assert {tuple(r) for r in again.collect()} == rows


def test_cosine_topk_staged_ranks_zero_norm_last_like_oracle(spark):
    """A zero-norm embedding yields a 0/0 cosine: NaN in the Arrow
    kernel, NULL in DuckDB, whose ``ORDER BY cosine DESC`` sorts it
    LAST. The kernel's rows equal cosine_topk_sql's: the zero-norm
    candidate misses the top 3 and takes rank 5 of 5 with a NULL
    cosine."""
    import duckdb
    import pandas as pd

    from etl_service_spark.operators.similarity import DIM, cosine_topk_sql, cosine_topk_staged

    rows = []
    for vid in range(6):
        if vid == 4:
            vec = [0.0] * DIM  # zero norm -> NaN cosine vs any query
        else:
            vec = [float((vid + 1) * (i + 1) % 7) + 0.5 for i in range(DIM)]
        rows.append((vid, vec))
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").createOrReplaceTempView(
        "__nan_emb"
    )
    con = duckdb.connect()
    con.register(
        "__nan_emb",
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}),
    )
    for k in (3, 5):
        by_rank = lambda t: (t[0], t[2])  # noqa: E731  (q_id, rnk)
        got = sorted(
            (tuple(r) for r in cosine_topk_staged(spark, k=k, n_queries=1, view="__nan_emb").collect()),
            key=by_rank,
        )
        want = sorted(con.execute(cosine_topk_sql(k, 1, view="__nan_emb")).fetchall(), key=by_rank)
        assert got == want
        if k == 3:
            assert 4 not in [n for _q, n, _r, _c in got]
        else:
            assert got[-1] == (0, 4, 5, None)


def test_range_search_drops_zero_norm_like_oracle(spark):
    """A zero-norm embedding yields a NaN cosine in the range-search
    kernel; ``NaN >= tau`` is False, so the row is dropped — exactly
    what the DuckDB oracle does (0/0 -> NULL there, which fails the
    floor). The kernel's rows equal range_search_sql's, bit for bit."""
    import duckdb
    import pandas as pd

    from etl_service_spark.operators.similarity import DIM, range_search_sql, range_search_staged

    rows = []
    for vid in range(6):
        if vid == 4:
            vec = [0.0] * DIM  # zero norm -> NaN cosine vs any query
        else:
            vec = [float((vid + 1) * (i + 1) % 7) + 0.5 for i in range(DIM)]
        rows.append((vid, vec))
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").createOrReplaceTempView(
        "__nan_emb"
    )
    got = sorted(
        tuple(r) for r in range_search_staged(spark, tau=0.4, n_queries=1, view="__nan_emb").collect()
    )

    con = duckdb.connect()
    con.register(
        "__nan_emb",
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}),
    )
    want = sorted(con.execute(range_search_sql(0.4, 1, view="__nan_emb")).fetchall())

    assert got == want
    assert [n for _q, n, _c in got] == [1, 2, 3, 5]  # zero-norm 4 dropped


def test_unpivot_stats_drops_all_null_measure_group(spark):
    """ANSI UNPIVOT eliminates NULL values implicitly, so a measure
    column that is entirely NULL contributes zero long-form rows — its
    metric group must vanish, not appear as (0, NULL, NULL, NULL)."""
    import duckdb

    from etl_service_spark.plans.queries import unpivot_stats

    df = spark.createDataFrame(
        [(1.0, None), (2.5, None), (None, None)],
        "a double, b double",
    )
    got = unpivot_stats(df, ("a", "b")).collect()
    assert [r["metric"] for r in got] == ["a"]
    assert (got[0]["n_rows"], got[0]["min_val"], got[0]["max_val"], got[0]["sum_val"]) == (
        2, 1.0, 2.5, 3.5,
    )

    oracle = duckdb.sql(
        """
        SELECT metric, count(*) AS n_rows, min(val) AS min_val, max(val) AS max_val,
               CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        FROM (SELECT * FROM (VALUES (1.0, NULL), (2.5, NULL), (NULL, NULL)) t(a, b))
             UNPIVOT (val FOR metric IN (a, b))
        GROUP BY metric ORDER BY metric
        """
    ).fetchall()
    assert [tuple(r.asDict().values()) for r in got] == [tuple(r) for r in oracle]


def _write_minimal_xlsx(path, header, rows):
    """Build a REAL .xlsx (zip of OOXML parts) with stdlib only: shared
    strings for text cells, inline numerics, sparse cells omitted."""
    import zipfile

    shared: list[str] = []

    def sref(s):
        if s not in shared:
            shared.append(s)
        return shared.index(s)

    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, str):
            return f'<c r="{ref}" t="s"><v>{sref(v)}</v></c>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    def col_letter(i):
        out = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            out = chr(ord("A") + r) + out
        return out

    all_rows = [header] + rows
    sheet_rows = []
    for rn, vals in enumerate(all_rows, start=1):
        cells = "".join(cell(f"{col_letter(ci)}{rn}", v) for ci, v in enumerate(vals))
        sheet_rows.append(f'<row r="{rn}">{cells}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_rns = "http://schemas.openxmlformats.org/package/2006/relationships"
    sheet_xml = f'<worksheet xmlns="{ns}"><sheetData>{"".join(sheet_rows)}</sheetData></worksheet>'
    from xml.sax.saxutils import escape

    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        zf.writestr(
            "_rels/.rels",
            f'<Relationships xmlns="{pkg_rns}"><Relationship Id="rId1" '
            f'Type="{rns}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
            f'<sheet name="Tabelle1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<Relationships xmlns="{pkg_rns}"><Relationship Id="rId1" '
            f'Type="{rns}/worksheet" Target="worksheets/sheet1.xml"/></Relationships>',
        )
        zf.writestr("xl/sharedStrings.xml", f'<sst xmlns="{ns}">{sst}</sst>')
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)


def test_vendored_xlsx_reader_values(tmp_path):
    from etl_service_spark.sources.xlsx import read_xlsx_rows

    p = str(tmp_path / "t.xlsx")
    _write_minimal_xlsx(
        p,
        ["Name", "Menge", "Aktiv"],
        [["A&B Werk", 3, True], ["Süd", 2.5, False], [None, 7, None]],
    )
    rows = read_xlsx_rows(p)
    assert rows[0] == ["Name", "Menge", "Aktiv"]
    assert rows[1] == ["A&B Werk", 3, True]
    assert rows[2] == ["Süd", 2.5, False]
    assert rows[3] == [None, 7, None]


def test_ingest_real_xlsx_end_to_end(spark, tmp_path):
    """D6 over a REAL workbook: stage -> decode (vendored zip+XML path
    when openpyxl is absent) -> mapping.csv renames -> audit columns ->
    Dateiname-partitioned append; values checked against the sheet."""
    d = tmp_path / "exchange"
    (d / "Insert").mkdir(parents=True)
    _write_minimal_xlsx(
        str(d / "Insert" / "parts_2026.xlsx"),
        ["OrderKey", "Amount"],
        [[1, 10.5], [2, 20.25], [3, 30]],
    )
    mapping = {"OrderKey": "o_key", "Amount": "amount"}
    ctx = IngestContext(1, "sheet-import", "spark", "2026-01-01 00:00:00", "2026-01-01")
    target = str(tmp_path / "target")
    total, failed = ingest_directory(spark, str(d), target, mapping, ctx)
    assert (total, failed) == (3, [])
    out = spark.read.parquet(target)
    got = {(r["o_key"], float(r["amount"])) for r in out.collect()}
    assert got == {(1, 10.5), (2, 20.25), (3, 30.0)}
    row = out.filter("o_key = 2").collect()[0]
    assert row["Dateiname"] == "parts_2026.xlsx"
    assert row["Datenherkunft"] == "sheet-import"
    assert row["Mandanten_ID"] == 1


def test_excel_ingest_audit_from_real_workbook_matches_oracle(spark, sf_dir, tmp_path):
    """The etl_excel_ingest_audit registry case, sourced from a REAL
    .xlsx instead of the parquet twin: part rows round-trip through the
    workbook (zip+XML decode), then mapping + audit columns — and the
    result still hash-matches the registry's DuckDB oracle."""
    from pyspark.sql import functions as F

    from etl_service_spark.operators.file_ingest import (
        apply_mapping,
        inject_audit_columns,
        read_sheet,
    )
    from etl_service_spark.plans.queries import EXCEL_INGEST_ORACLE, views
    from tests.harness import compare, duck_connect

    v = views(spark, sf_dir)
    src = [
        (r["p_partkey"], r["p_name"], r["p_brand"], float(r["p_retailprice"]))
        for r in v["part"]
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .collect()
    ]
    wb = str(tmp_path / "parts_2026.xlsx")
    _write_minimal_xlsx(wb, ["p_partkey", "p_name", "p_brand", "p_retailprice"], [list(t) for t in src])

    mapping = {"p_name": "Produktname", "p_brand": "Marke", "p_retailprice": "Preis"}
    ctx = IngestContext(
        mandant_id=1,
        datenherkunft="sheet-import",
        producer="spark_engine",
        query_time="2026-01-01 00:00:00",
        export_date="2026-01-01",
    )
    df = read_sheet(spark, wb)
    df = apply_mapping(df, mapping)
    df = inject_audit_columns(df, "parts_2026.xlsx", ctx, pk_col="p_partkey")
    df = df.withColumn("Exportdatum", F.date_format("Exportdatum", "yyyy-MM-dd")).withColumn(
        "LoeschDatum", F.col("LoeschDatum").cast("string")
    )
    # the sheet yields double for Preis; the oracle's DECIMAL(12,2)
    # also lands as float64 via .df(), so both sides canonicalize alike
    oracle = duck_connect(sf_dir).execute(EXCEL_INGEST_ORACLE).df()
    assert compare(df.toPandas(), oracle) == []


def test_cluster_conf_profile_sanity():
    from etl_service_spark.session import cluster_conf

    conf = cluster_conf(total_cores=4000)
    assert conf["spark.sql.shuffle.partitions"] == "10000"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 256 * 1024 * 1024
    # every value must be a plain string (SparkConf contract)
    assert all(isinstance(v, str) for v in conf.values())


def test_incremental_neardup_across_batches(spark, tmp_path):
    """MinHash-LSH near-dup gate with persisted band-key state: exact
    re-deliveries AND near-duplicates of earlier batches are
    suppressed; genuinely new text survives; replay is idempotent."""
    from pyspark.sql import functions as F

    from etl_service_spark.operators.dedup import incremental_neardup

    state = str(tmp_path / "bands")
    base = "the quick brown fox jumps over the lazy dog near the river bank today"

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        )

    b1 = docs([(1, base), (2, "completely different text about spark shuffle partitions and joins here")])
    s1 = incremental_neardup(spark, b1, state)
    assert {r["doc_id"] for r in s1.collect()} == {1, 2}

    b2 = docs(
        [
            (10, base),  # exact re-delivery -> all bands collide
            (11, base.replace("today", "tonight")),  # near-dup of doc 1
            (12, "an entirely unrelated document discussing parquet row group statistics"),
            (13, "an entirely unrelated document discussing parquet row group statistics"),  # in-batch dup of 12
        ]
    )
    s2 = incremental_neardup(spark, b2, state)
    got = {r["doc_id"] for r in s2.collect()}
    assert 10 not in got and 11 not in got  # history suppression (exact + near)
    assert 12 in got and 13 not in got  # in-batch collapse to min id

    # replay of batch 2: everything already in state -> nothing survives
    s2r = incremental_neardup(spark, b2, state, append_state=False)
    assert s2r.count() == 0


def test_expire_partitions_drops_only_expired(spark, sf_dir, tmp_path):
    """TTL expiry: partitions outside the keep-set are deleted wholesale,
    kept ones are untouched byte-for-byte, and a non-partitioned layout
    is refused."""
    import pytest

    from etl_service_spark.operators.copy import expire_partitions

    out = str(tmp_path / "sliced")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "yr", F.year("o_orderdate")
    )
    orders.write.partitionBy("yr").parquet(out)
    years = sorted(r["yr"] for r in orders.select("yr").distinct().collect())
    keep = [str(y) for y in years[-2:]]

    expect_kept = orders.filter(F.col("yr").isin([int(y) for y in keep])).count()
    stats = expire_partitions(spark, out, "yr", keep)
    assert sorted(stats["kept"]) == keep
    assert sorted(stats["dropped"]) == [str(y) for y in years[:-2]]
    left = spark.read.parquet(out)
    assert left.count() == expect_kept
    assert {r["yr"] for r in left.select("yr").distinct().collect()} == {
        int(y) for y in keep
    }

    # layout mismatch -> refuse
    flat = str(tmp_path / "flat")
    orders.drop("yr").limit(10).write.parquet(flat)
    with pytest.raises(ValueError, match="refusing"):
        expire_partitions(spark, flat, "yr", keep)


def test_compact_state_log_for_fingerprints_and_bands(spark, tmp_path):
    """The incremental gates' state tables compact without changing
    gate behavior: fingerprints/band keys dedup to distinct rows, and a
    batch replayed AFTER compaction is still fully suppressed."""
    from etl_service_spark.operators.copy import compact_state_log
    from etl_service_spark.operators.dedup import incremental_dedup, incremental_neardup

    docs = spark.createDataFrame(
        [(i, f"text number {i} with several words inside it", "en", "s", 40) for i in range(20)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    fps, bands = str(tmp_path / "fps"), str(tmp_path / "bands")
    # two appends of overlapping batches -> duplicate state rows
    incremental_dedup(spark, docs.filter("doc_id < 15"), fps)
    incremental_neardup(spark, docs.filter("doc_id < 15"), bands)
    incremental_dedup(spark, docs, fps)
    incremental_neardup(spark, docs, bands)

    s1 = compact_state_log(spark, fps, lambda df: df.dropDuplicates(["text_hash"]))
    s2 = compact_state_log(spark, bands, lambda df: df.dropDuplicates(["band_key", "doc_id"]))
    assert s1["files_after"] <= s1["files_before"]
    assert s2["files_after"] <= s2["files_before"]

    # full replay after compaction: everything still suppressed
    assert incremental_dedup(spark, docs, fps, append_fingerprints=False).count() == 0
    assert incremental_neardup(spark, docs, bands, append_state=False).count() == 0


def test_neardup_kernel_drops_zero_norm_like_oracle(spark):
    """Degenerate zero-norm embeddings: the numpy kernels produce NaN
    cosine and drop the pair — exactly what the DuckDB oracle does
    (0/0 -> NULL there, which fails the >= tau predicate). This pins
    the kernel/oracle agreement; the Spark-SQL twin is NOT part of the
    contract for degenerate inputs (ANSI mode raises DIVIDE_BY_ZERO)."""
    import duckdb
    import pandas as pd

    from etl_service_spark.operators import similarity as sim

    dim = 64
    rows = [
        (0, [0.0] * dim),              # zero norm
        (1, [0.1] * dim),
        (2, [0.1] * dim),              # exact dup of 1 -> cosine 1.0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    df.createOrReplaceTempView("emb_zero_norm_probe")

    got = sim.embedding_neardup_pandas(
        spark, tau=0.4, view="emb_zero_norm_probe", n_blocks=2
    )
    kernel_pairs = {(r.vec_a, r.vec_b) for r in got.collect()}

    con = duckdb.connect()
    con.register(
        "emb_zero_norm_probe",
        pd.DataFrame({"vec_id": [0, 1, 2], "embedding": [r[1] for r in rows]}),
    )
    duck_sql = sim.embedding_neardup_sql(0.4, view="emb_zero_norm_probe")
    duck_pairs = {(a, b) for a, b, _cos in con.execute(duck_sql).fetchall()}

    assert kernel_pairs == duck_pairs
    assert (1, 2) in kernel_pairs
    assert not any(0 in p for p in kernel_pairs)  # zero-norm pairs dropped

    # semantic dedup's kernel follows the same rule: cluster assignment
    # still succeeds (distances are integer), zero-norm pairs never
    # survive the cosine gate
    sd = sim.semantic_dedup_staged(spark, k=2, view="emb_zero_norm_probe", n_blocks=2)
    assert not any(r.vec_id == 0 or r.kept_id == 0 for r in sd.collect())


def test_semantic_dedup_kernel_declares_its_eval_type(spark):
    """The grouped-map kernel behind dedup_semantic annotates both of
    its arguments, so ``applyInPandas`` infers the grouped-map eval type
    from the hints instead of warning ``Cannot infer the eval type``
    (TYPE_HINT_SHOULD_BE_SPECIFIED) and falling back."""
    import warnings

    from etl_service_spark.operators import similarity as sim

    rows = [
        (i, [float((i + 1) * (d + 2) % 7) + 0.5 for d in range(sim.DIM)])
        for i in range(8)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).createOrReplaceTempView("emb_type_hint_probe")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        sim.semantic_dedup_staged(
            spark, k=2, view="emb_type_hint_probe", n_blocks=2
        ).collect()
    assert not [
        str(w.message) for w in caught if "Cannot infer the eval type" in str(w.message)
    ]


def test_compact_state_log_converges_after_crash_windows(spark, tmp_path):
    """The compaction swap never deletes the live log in place; every
    crash window converges on re-run with the complete state. Simulates
    the two windows the rename-aside protocol introduces."""
    import os
    import shutil

    from etl_service_spark.operators.copy import compact_state_log

    d = str(tmp_path / "log")
    spark.range(100).selectExpr("id % 10 AS k", "id AS v").write.parquet(d)

    def merge(df):
        return df.dropDuplicates(["k"])

    tmp, old = d + "__compacting", d + "__replaced"
    # window A: crashed between rename-aside and rename-into-place —
    # live dir is GONE, merged state complete in the temp sibling
    spark.read.parquet(d).dropDuplicates(["k"]).write.parquet(tmp)
    os.rename(d, old)
    compact_state_log(spark, d, merge)
    assert spark.read.parquet(d).select("k").distinct().count() == 10
    assert not os.path.exists(old) and not os.path.exists(tmp)

    # window B: crashed after the swap, set-aside copy left behind —
    # live dir is already the merged state
    shutil.copytree(d, old)
    compact_state_log(spark, d, merge)
    assert spark.read.parquet(d).select("k").distinct().count() == 10
    assert not os.path.exists(old) and not os.path.exists(tmp)


def test_expire_partitions_decodes_escaped_values(spark, tmp_path):
    """Partition values with escapable characters: Spark writes
    percent-encoded directory names ('2024/01' -> '2024%2F01'); the
    retention policy speaks raw values, and a kept partition must
    never be deleted because of the encoding mismatch."""
    from etl_service_spark.operators.copy import expire_partitions

    d = str(tmp_path / "t")
    df = spark.createDataFrame([("2024/01", 1), ("2024/02", 2)], "sl string, v int")
    df.write.partitionBy("sl").parquet(d)

    stats = expire_partitions(spark, d, "sl", keep={"2024/01"})
    assert stats["kept"] == ["2024/01"]
    assert stats["dropped"] == ["2024/02"]
    kept = spark.read.option("basePath", d).parquet(d)
    assert [r.sl for r in kept.select("sl").collect()] == ["2024/01"]


def test_twophase_cc_matches_propagation_on_chain(spark):
    """Star contraction must equal label propagation on every shape,
    including the long chain where propagation's O(diameter) rounds is
    the scale wall the two-phase variant exists to remove."""
    import random

    from etl_service_spark.operators.graph import (
        connected_components,
        connected_components_twophase,
    )

    random.seed(11)
    edges = [(random.randrange(200), random.randrange(200)) for _ in range(120)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(150)]  # chain: diameter 150
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_a bigint, doc_b bigint"
    )
    prop = {(r.doc_id, r.cluster_id) for r in connected_components(df, max_rounds=200).collect()}
    star = {(r.doc_id, r.cluster_id) for r in connected_components_twophase(df).collect()}
    assert prop == star
    assert {c for d, c in star if d >= 1000} == {1000}  # chain is ONE cluster

    # a node whose ONLY edge is a self-loop must survive as its own
    # singleton cluster in both paths
    loop = spark.createDataFrame([(7, 7), (8, 9)], "doc_a bigint, doc_b bigint")
    p2 = {(r.doc_id, r.cluster_id) for r in connected_components(loop).collect()}
    s2 = {(r.doc_id, r.cluster_id) for r in connected_components_twophase(loop).collect()}
    assert p2 == s2 == {(7, 7), (8, 8), (9, 8)}


def test_twophase_cc_fails_closed_on_round_budget(spark):
    """Star contraction, like label propagation, must raise when its
    round budget ends before the fixpoint: unconverged labels split one
    component into several cluster_ids (a 65-node chain after one round
    reads as 63). With the default budget it still equals propagation."""
    from etl_service_spark.operators.graph import (
        connected_components,
        connected_components_twophase,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="1 rounds"):
        connected_components_twophase(df, max_rounds=1).collect()
    star = {(r.doc_id, r.cluster_id) for r in connected_components_twophase(df).collect()}
    prop = {(r.doc_id, r.cluster_id) for r in connected_components(df, max_rounds=100).collect()}
    assert star == prop == {(i, 0) for i in range(65)}


def test_scale_twin_generator_scales_every_table(tmp_path):
    """gen_sf1's twin must hold copies x the sf0.1 rows in EVERY scaled
    table — including documents/embeddings. Round 8 re-based the
    scale_bench generators to (base, mult) parameters without updating
    gen_sf1's calls, and the default mult=1 silently shrank the twin's
    documents/embeddings back to sf0.1 size: rounds 8-10 recorded
    BENCH_SF1 '10x' ratios for the text/dedup/ANN families on UNSCALED
    data. build_twin now self-checks row counts; this pins that check
    (and the generator plumbing) at copies=2 so the next re-base can't
    land silently."""
    import pyarrow.parquet as pq

    from tools.gen_sf1 import KEYED, SF01, build_twin

    out = build_twin(str(tmp_path / "twin"), copies=2)
    for t in list(KEYED) + ["documents", "embeddings"]:
        n_src = pq.ParquetFile(os.path.join(SF01, f"{t}.parquet")).metadata.num_rows
        n_out = pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
        assert n_out == 2 * n_src, t
    # the copies are key-disjoint: join cardinality stays linear
    orders = pq.read_table(os.path.join(out, "orders.parquet"), columns=["o_orderkey"])
    keys = orders.column("o_orderkey").to_pylist()
    assert len(keys) == len(set(keys))


def test_stage_name_is_content_addressed():
    """Same staging inputs -> same name (cross-process path sharing);
    different inputs -> different name (no counter collisions)."""
    from etl_service_spark.functions.portable import stage_name

    a = stage_name("tokens_documents", ("x", ("f1", "f2"), ""))
    assert a == stage_name("tokens_documents", ("x", ("f1", "f2"), ""))
    assert a != stage_name("tokens_documents", ("x", ("f1", "f3"), ""))
    assert a != stage_name("bigrams_documents", ("x", ("f1", "f2"), ""))
    assert a.startswith("__tokens_documents_") and len(a) <= 64


def test_containment_catches_quote_expansion(spark):
    """A short doc embedded verbatim in a much longer one: containment
    = 1000 permille even though Jaccard is far below tau (the union is
    dominated by the container) — the asymmetric case the Jaccard path
    misses by design. Direction matters: only (contained -> container)
    is emitted."""
    from etl_service_spark.operators import dedup

    short = "alpha bravo charlie delta echo foxtrot"
    longer = short + " " + " ".join(f"tok{i}" for i in range(40))
    rows = [(1, short), (2, longer), (3, "one two three four five six")]
    spark.createDataFrame(rows, "doc_id bigint, text string").createOrReplaceTempView(
        "containment_probe_docs"
    )
    got = sorted(
        (r.contained_id, r.container_id, r.containment_permille)
        for r in dedup.containment_staged(
            spark, view="containment_probe_docs"
        ).collect()
    )
    assert got == [(1, 2, 1000)]


def test_zscore_zero_variance_group_no_crash_no_outliers(spark):
    """Regression: an all-equal group's double variance numerator can
    round to ~-1e-19 — DuckDB's SQRT crashed (out of range) and Spark
    NaN'd. Clamped at 0 + std>0 filter: both engines return zero rows
    for the degenerate group and agree on the healthy group."""
    import duckdb
    import pandas as pd

    from etl_service_spark.operators.sketch import zscore_outliers_sql

    rows = [(i, "flat", 0.05) for i in range(1, 5)] + [
        (10, "var", 0.0), (11, "var", 0.0), (12, "var", 100.0)
    ]
    # dedicated view name — clobbering the shared 'events' view would
    # break later tests in the session-scoped SparkSession
    spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double"
    ).createOrReplaceTempView("zv_events")
    sp = spark.sql(zscore_outliers_sql(view="zv_events")[0]).toPandas()
    con = duckdb.connect()
    con.register(
        "zv_events",
        pd.DataFrame(rows, columns=["event_id", "event_type", "value"]),
    )
    du = con.execute(zscore_outliers_sql(view="zv_events")[1]).df()
    assert set(sp.event_type) <= {"var"} and set(du.event_type) <= {"var"}
    assert sorted(sp.event_id) == sorted(du.event_id)
    spark.catalog.dropTempView("zv_events")


def test_ngram_jaccard_lower_tau_keeps_sub08_pairs(spark, sf_dir):
    """Regression: the PPJoin prefix/length filters were hardwired to
    4/5, so tau < 0.8 silently dropped pairs with 0.7 <= J < 0.8. The
    filters now derive a lossless lower-bound fraction from tau: every
    pair the tau=0.7 run reports must satisfy J >= 0.7, the tau=0.8
    pairs must be a subset, and both engines must agree at tau=0.7."""
    import duckdb

    from etl_service_spark.operators import dedup
    from etl_service_spark.plans.queries import views

    from .harness import compare, duck_connect

    views(spark, sf_dir)
    lo = dedup.ngram_jaccard_staged(spark, tau=0.7).toPandas()
    hi = dedup.ngram_jaccard_staged(spark, tau=0.8).toPandas()
    assert (lo.jaccard >= 0.7).all()
    lo_pairs = set(zip(lo.doc_a, lo.doc_b))
    hi_pairs = set(zip(hi.doc_a, hi.doc_b))
    assert hi_pairs <= lo_pairs
    con = duck_connect(sf_dir)
    du = con.execute(dedup.ngram_jaccard_sql(tau=0.7)).fetchdf()
    con.close()
    assert not compare(lo, du), "tau=0.7 engines disagree"


def test_kmeans_bigint_gate_is_provably_safe_and_applied(spark, sf_dir):
    """Round-4 self-review widened the k-means distance summand to
    DECIMAL(38,0) (BIGINT overflows near ~3e4 cluster members); round 5
    gates the wide type on the table's row count so small/medium tables
    keep codegen long arithmetic. Checks: (a) the gate's bound math —
    256*V^2*n^2 stays under 2^63 at the threshold; (b) the builder
    picks BIGINT below / DECIMAL above; (c) the BIGINT plan's result
    equals the HUGEINT oracle exactly (same rows, same values)."""
    from etl_service_spark.operators import similarity
    from etl_service_spark.plans.queries import views

    from .harness import compare, duck_connect

    # (a) worst-case sum of 64 squared summands at the threshold
    V = 13_000
    n = similarity.KM_BIGINT_SAFE_ROWS
    assert 256 * V * V * n * n < 2**63
    # (b) the gate
    lo = similarity.kmeans_spark_sql(n - 1)
    hi = similarity.kmeans_spark_sql(n)
    assert "DECIMAL(38,0)" not in lo and "AS BIGINT) * " not in lo.split("WITH")[0]
    assert "DECIMAL(38,0)" in hi
    # (c) value parity of the fast path vs the HUGEINT oracle
    views(spark, sf_dir)
    sp = spark.sql(lo).toPandas()
    con = duck_connect(sf_dir)
    du = con.execute(similarity.kmeans_sql()).fetchdf()
    con.close()
    assert not compare(sp, du), "BIGINT fast path diverges from HUGEINT oracle"


def test_dsir_weights_rank_target_language_highest(spark, sf_dir):
    """The DSIR importance score must (a) rank the target language's
    median above every other language's (that's the selection property
    the operator exists for), (b) score token-less docs exactly neutral
    (1e6), and (c) keep every score strictly positive (the smoothed
    ratio can never hit zero)."""
    from etl_service_spark.operators.corpus import dsir_weights_staged
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    rows = dsir_weights_staged(spark).collect()
    assert all(r.dsir_score_ppm > 0 for r in rows)
    assert all(r.dsir_score_ppm == 1_000_000 for r in rows if r.n_tok == 0)
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.dsir_score_ppm)
    med = {
        lang: sorted(v)[len(v) // 2] for lang, v in by_lang.items() if len(v) >= 5
    }
    assert "en" in med
    assert all(med["en"] > m for lang, m in med.items() if lang != "en"), med


def test_dsir_quota_conserves_budget_and_tilts_toward_target(spark, sf_dir):
    """Quotas are an integer split of the budget (sum within one
    floor-division ulp per source), and a source's quota share must
    track its importance-weighted mass, not its raw token share: the
    weighted_tokens column equals w_mass/1e6 by construction, so
    sum(weighted) <= sum(raw tokens) iff the corpus is target-tilted
    downward — verify internal consistency rather than a data-specific
    direction."""
    from etl_service_spark.operators.corpus import dsir_quota_staged
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    budget = 500_000
    rows = dsir_quota_staged(spark, budget=budget).collect()
    total_quota = sum(r.token_quota for r in rows)
    assert budget - len(rows) <= total_quota <= budget
    for r in rows:
        assert 0 <= r.token_quota <= budget
        assert r.weighted_tokens >= 0


def test_mail_recipient_resolution_paths():
    """C10 pure semantics (Workflow.cs:1296-1317 vs :1561-1581): the
    SUCCESS mail skips Nur_Fehler subscribers and a CC-only resolution
    sends nothing; the FAILURE mail includes everyone active."""
    from etl_service_spark.plans.report import DistributionEntry, resolve_recipients

    dist = [
        DistributionEntry(7, "a@x"),
        DistributionEntry(7, "b@x", cc=True),
        DistributionEntry(7, "err@x", nur_fehler=True),
        DistributionEntry(7, "errcc@x", cc=True, nur_fehler=True),
        DistributionEntry(7, "off@x", ist_aktiv=False),
        DistributionEntry(8, "other@x"),
    ]
    to, cc = resolve_recipients(dist, 7, success=True)
    assert to == ["a@x"] and cc == ["b@x"]
    to, cc = resolve_recipients(dist, 7, success=False)
    assert to == ["a@x", "err@x"] and cc == ["b@x", "errcc@x"]
    # CC-only active set on success: _emailReceiver.Count == 0 -> no mail
    cc_only = [DistributionEntry(7, "only@x", cc=True)]
    to, cc = resolve_recipients(cc_only, 7, success=True)
    assert to == [] and cc == ["only@x"]


def test_resize_nearest_quarantines_malformed(spark):
    """resize_nearest drops payloads whose byte count contradicts the
    declared dims (like the sniffers) and resizes the rest with the
    pinned floor mapping."""
    import numpy as np

    from etl_service_spark.operators.multimodal import RAW_IMAGE_SCHEMA, resize_nearest

    good = ((np.arange(8 * 4 * 3) % 256).astype(np.uint8)).tobytes()
    rows = [(1, 8, 4, good), (2, 8, 4, good[:-5])]  # row 2: truncated
    media = spark.createDataFrame(rows, RAW_IMAGE_SCHEMA)
    out = resize_nearest(media, out_w=4, out_h=2).collect()
    assert [r["media_id"] for r in out] == [1]
    arr = np.frombuffer(out[0]["payload"], dtype=np.uint8).reshape(2, 4, 3)
    src = np.frombuffer(good, dtype=np.uint8).reshape(4, 8, 3)
    # floor mapping: sy = y*4//2? no: y*H//out_h = y*4//2, sx = x*8//4
    expect = src[(np.arange(2) * 4) // 2][:, (np.arange(4) * 8) // 4]
    assert (arr == expect).all()


def test_exact_substr_spans_island_merge(spark):
    """Hand-computed fixture for the TRUE ExactSubstr span finder
    (k=3): doc 1 and doc 2 share the 5-token run "a b c d e" (3
    consecutive duplicated 3-gram positions MUST merge into ONE
    maximal span of 5 tokens), doc 3 repeats its own opening 3-gram
    later in the same doc (within-doc duplication counts), and doc 4
    shares nothing (absent from the report)."""
    from etl_service_spark.operators.dedup import exact_substr_spans_staged

    rows = [
        (1, "a b c d e x y z"),
        (2, "q q a b c d e"),
        (3, "m n o t u v m n o"),
        (4, "p r s w j k l"),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .createOrReplaceTempView("ess_docs")
    out = {
        (r.doc_id, r.span_start): r
        for r in exact_substr_spans_staged(spark, 3, "ess_docs").collect()
    }
    assert set(out) == {(1, 1), (2, 3), (3, 1), (3, 7)}
    # doc 1: positions 1..3 duplicated -> one span, tokens 1..5
    s = out[(1, 1)]
    assert (s.span_end, s.span_tokens, s.n_dup_grams) == (5, 5, 3)
    # doc 2: same run starts at token 3
    s = out[(2, 3)]
    assert (s.span_end, s.span_tokens, s.n_dup_grams) == (7, 5, 3)
    # doc 3: "m n o" duplicated within the doc at positions 1 and 7
    assert out[(3, 1)].span_tokens == 3
    assert out[(3, 7)].span_tokens == 3


def test_exact_substr_removal_merges_token_overlap(spark):
    """Position-run spans that OVERLAP in token space must be
    interval-merged before summing (k=3: dup positions {1,2,3} and {5}
    cover tokens 1..5 and 5..7 — 7 duplicated tokens, not 8). Doc A's
    gram 4 ("d e f") is shared by nobody, so its dup positions are
    exactly {1,2,3,5}."""
    from etl_service_spark.operators.dedup import exact_substr_removal_staged

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e q e f g"),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .createOrReplaceTempView("ess_ov_docs")
    out = {r.doc_id: r for r in
           exact_substr_removal_staged(spark, 3, "ess_ov_docs").collect()}
    a = out[1]
    assert (a.n_tokens, a.dup_tokens, a.kept_tokens, a.n_spans) == (8, 7, 1, 1)
    b = out[2]  # runs {1,2,3} -> tokens 1..5 and {7} -> tokens 7..9: disjoint
    assert (b.n_tokens, b.dup_tokens, b.kept_tokens, b.n_spans) == (9, 8, 1, 2)


def test_hamming_banded_recall_pigeonhole_invariant(spark):
    """The banded-recall report's within_radius3 row must be 100%
    recall whenever it exists (a dist<=3 neighbor shares one of the
    four 16-bit signature words by pigeonhole, and the candidate
    subset preserves the (dist, dst) order). Planted pairs: vec 1 is
    vec 0 with two sign flips (Hamming 2), vec 3 is vec 2 with one
    (Hamming 1); vecs 4..9 alternate signs per-index pattern far from
    everything."""
    from etl_service_spark.operators.similarity import (
        hamming_banded_recall_staged,
    )

    def vec(signs):
        return [1.0 if s else -1.0 for s in signs]

    base0 = [True] * 64
    flip0 = list(base0); flip0[3] = False; flip0[40] = False
    base2 = [i % 2 == 0 for i in range(64)]
    flip2 = list(base2); flip2[17] = not flip2[17]
    rows = [(0, vec(base0)), (1, vec(flip0)), (2, vec(base2)), (3, vec(flip2))]
    rows += [
        (i, vec([(i * 7 + j * 3) % 5 < 2 for j in range(64)]))
        for i in range(4, 10)
    ]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>") \
        .createOrReplaceTempView("hamrec_vecs")
    out = {r.band: r for r in hamming_banded_recall_staged(
        spark, 3, 4, "hamrec_vecs").collect()}
    assert "within_radius3" in out
    w = out["within_radius3"]
    # queries 0,1,2,3 each have their planted partner at dist <= 3
    assert w.exact_rows >= 4
    assert w.recall_ppm == 1000000, w


def test_extract_features_decoder_matrix(spark):
    """Codec feature-detect: 'stub' is the pinned deterministic default
    (the oracle registry depends on its exact values); 'auto' resolves
    to the stub when no codec library ships; 'pil' raises the DECLARED
    codec-gap error in a PIL-less container instead of failing inside
    a task."""
    import pytest

    from etl_service_spark.operators import multimodal as mm

    media = mm.documents_as_media(
        spark.createDataFrame(
            [(1, "abc", "s")], "doc_id LONG, text STRING, source STRING"
        )
    )
    row = mm.extract_features(media).collect()[0]
    assert row["feat_dim"] == 2
    assert abs(row["feat_mean"] - (sum(b"abc") / 3 / 255.0)) < 1e-12

    with pytest.raises(ValueError, match="unknown decoder"):
        mm.extract_features(media, decoder="librosa")

    if mm.pil_available():  # pragma: no cover - container has no PIL
        got = mm.extract_features(media, decoder="pil")
        assert got.schema == mm.extract_features(media).schema
    else:
        with pytest.raises(NotImplementedError, match="codec gap"):
            mm.extract_features(media, decoder="pil")
        # auto == stub, bit-identical, when no codec is available
        auto = mm.extract_features(media, decoder="auto").collect()[0]
        assert auto == row


@pytest.mark.skipif(
    not __import__("importlib").util.find_spec("PIL"),
    reason="PIL not shipped in this container (declared codec gap)",
)
def test_extract_features_pil_decodes_real_png(spark):
    """Runs only if PIL ever lands in the image: a real 2x2 PNG decodes
    to mean pixel intensity over DECODED pixels, not raw bytes."""
    import io

    import numpy as np
    from PIL import Image

    from etl_service_spark.operators import multimodal as mm

    buf = io.BytesIO()
    Image.fromarray(
        np.array([[0, 255], [255, 0]], dtype=np.uint8), mode="L"
    ).save(buf, format="PNG")
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "image/png", bytearray(payload), len(payload), "t")],
        "media_id LONG, media_type STRING, payload BINARY, n_bytes LONG, source STRING",
    )
    row = mm.extract_features(media, decoder="pil").collect()[0]
    # _decode_pil returns a 2-vector [mean_intensity, pixel_count]:
    # feat_dim is the vector LENGTH (2); the pixel count (4) is the
    # second feature, reachable only through the kernel — assert the
    # decode really saw 4 pixels via the exact mean instead.
    assert row["feat_dim"] == 2
    assert abs(row["feat_mean"] - 0.5) < 1e-9


def test_knn_hot_cell_guard_planted_skew(spark):
    """Planted pathological skew: one label holds 50% of all vectors —
    the cell the label-blocked exact graph is quadratic in. The
    hot-cell guard must SPLIT that cell (bounding per-task pair mass),
    surface the split in the gauge report, and stay edge-for-edge
    IDENTICAL to the exact graph on every cold label."""
    from etl_service_spark.operators import similarity as sim

    rows = []
    vid = 0
    # hot label 0: 60 vectors; cold labels 1..6: 10 each (120 total)
    for label, count in [(0, 60)] + [(lbl, 10) for lbl in range(1, 7)]:
        for _ in range(count):
            vec = [
                float(((vid + 1) * (d + 3) + d * d) % 11 - 5) + 0.25
                for d in range(sim.DIM)
            ]
            rows.append((vid, vec, label))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).createOrReplaceTempView("__skew_emb")

    exact = sim.hamming_knn_graph_staged(spark, k=3, view="__skew_emb").toPandas()
    guarded = sim.hamming_knn_guarded_staged(
        spark, k=3, cell_cap=16, view="__skew_emb"
    ).toPandas()
    report = {
        r["label"]: r.asDict()
        for r in sim.knn_cell_guard_report_staged(
            spark, k=3, cell_cap=16, view="__skew_emb", src_modulus=1
        ).collect()
    }

    hot = report[0]
    # ceil(60/16) = 4 seeds; a seed that wins no vectors leaves an
    # empty (uncounted) sub-cell, so 2..4 NONEMPTY cells prove a split
    assert 2 <= hot["n_sub_cells"] <= 4
    assert hot["max_cell_n"] < hot["n_vectors"]  # no task sees the 60^2 space
    assert hot["guarded_pair_mass"] < hot["exact_pair_mass"]
    assert (
        hot["exact_pair_mass"] - hot["guarded_pair_mass"]
        == hot["pair_mass_split_off"]
    )
    # per-cell mass bound: sum c_i*(c_i-1) <= n * (max_cell - 1)
    assert hot["guarded_pair_mass"] <= hot["n_vectors"] * (hot["max_cell_n"] - 1)
    for lbl in range(1, 7):
        cold = report[lbl]
        assert cold["n_sub_cells"] == 1
        assert cold["pair_mass_split_off"] == 0
        assert cold["recall_ppm"] == 1000000  # in-band identity proof
    # cold labels: the guard is the identity, edge for edge
    ge = guarded[guarded.label > 0].sort_values(["src", "rk"]).reset_index(drop=True)
    ee = exact[exact.label > 0].sort_values(["src", "rk"]).reset_index(drop=True)
    assert ge.equals(ee)


def test_band_tuning_sampled_truth_matches_full_restriction(spark, sf_dir):
    """The sampled-exact protocol on the band-tuning truth side
    (src_modulus=m) must be a RESTRICTION, not an approximation:
    (a) the sampled PPJoin pair set == the full pair set filtered to
    doc_a % m == 0 (the pushed-down candidate filter loses nothing,
    because the prefix/length filters are per-pair); (b) in the tuning
    report, the cost axes (cand_mass, dropped_postings) are untouched
    by sampling — only the truth-driven columns shrink; (c) n_true in
    the sampled report equals the restricted full truth count; and
    (d) the Spark report still value-matches the DuckDB oracle at the
    same modulus."""
    from etl_service_spark.operators import dedup
    from etl_service_spark.plans.queries import views

    from .harness import compare, duck_connect

    views(spark, sf_dir)
    m = 4
    full = dedup.ngram_jaccard_staged(spark, tau=0.8).toPandas()
    sampled = dedup.ngram_jaccard_staged(spark, tau=0.8, src_modulus=m).toPandas()
    want = set(
        zip(full[full.doc_a % m == 0].doc_a, full[full.doc_a % m == 0].doc_b)
    )
    got = set(zip(sampled.doc_a, sampled.doc_b))
    assert got == want and len(sampled) == len(want)

    rep_full = (
        dedup.lsh_band_tuning_staged(spark)
        .toPandas().set_index("bands").sort_index()
    )
    rep_smp = (
        dedup.lsh_band_tuning_staged(spark, src_modulus=m)
        .toPandas().set_index("bands").sort_index()
    )
    assert (rep_full.cand_mass == rep_smp.cand_mass).all()
    assert (rep_full.dropped_postings == rep_smp.dropped_postings).all()
    assert (rep_smp.n_true == len(want)).all()
    assert (rep_smp.n_true <= rep_full.n_true).all()

    con = duck_connect(sf_dir)
    du = con.execute(
        dedup.lsh_band_tuning_sql(src_modulus=m)
    ).fetchdf()
    con.close()
    assert not compare(rep_smp.reset_index(), du), "sampled report vs oracle"


def test_ohlc_packed_key_total_order(spark):
    """The OHLC open/close picks ride min_by/max_by over a zero-padded
    packed (ts_us, event_id) string key (DETERMINISM.md #32). Planted
    ties prove the composite order: two events share the SAME
    timestamp — the key must fall back to event_id, and lexicographic
    compare on the padded string must equal numeric order even when
    ts_us magnitudes differ by many digits."""
    rows = [
        # (ts_us, event_id, cents) — one hour bucket, planted ts tie
        (1_700_000_000_000_000, 7, 500),   # tie on ts: higher event_id
        (1_700_000_000_000_000, 3, 900),   # tie on ts: LOWER event_id -> open
        (1_700_000_001_000_000, 1, 100),   # latest ts -> close
        (5, 2, 777),                       # tiny ts_us: padding must rank it first
    ]
    df = spark.createDataFrame(rows, "ts_us long, event_id long, cents long")
    got = (
        df.selectExpr(
            "cents",
            "concat(lpad(CAST(ts_us AS STRING), 20, '0'),"
            " lpad(CAST(event_id AS STRING), 12, '0')) AS ord_key",
        )
        .groupBy()
        .agg(
            F.expr("min_by(cents, ord_key)").alias("open_cents"),
            F.expr("max_by(cents, ord_key)").alias("close_cents"),
        )
        .collect()[0]
    )
    assert got.open_cents == 777   # ts_us=5 sorts first despite 1 digit
    assert got.close_cents == 100  # strictly latest ts
    # drop the tiny-ts row: the tie pair now leads — event_id breaks it
    got2 = (
        df.filter("ts_us > 1000")
        .selectExpr(
            "cents",
            "concat(lpad(CAST(ts_us AS STRING), 20, '0'),"
            " lpad(CAST(event_id AS STRING), 12, '0')) AS ord_key",
        )
        .groupBy()
        .agg(F.expr("min_by(cents, ord_key)").alias("open_cents"))
        .collect()[0]
    )
    assert got2.open_cents == 900  # event_id 3 < 7 at the tied ts


def test_incremental_dedup_single_batch_equals_oneshot(spark, tmp_path):
    """Fold degeneracy: with ONE batch the incremental gate must equal
    one-shot exact dedup (min doc_id per lowercased-text hash wins),
    and a full redelivery of the same batch must be suppressed
    entirely by the fingerprint state."""
    from etl_service_spark.operators import dedup

    rows = [(1, "a b c"), (2, "a b c"), (3, "unique text"), (4, "A B C")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fp = str(tmp_path / "fp")
    fresh = dedup.incremental_dedup(spark, docs, fp)
    assert sorted(r.doc_id for r in fresh.collect()) == [1, 3]
    assert dedup.incremental_dedup(spark, docs, fp).count() == 0


def test_incremental_neardup_fold_order_beats_doc_id(spark, tmp_path):
    """The fold-order property the registry oracles rank by: a doc in
    an EARLIER batch wins its near-dup group even against a smaller
    doc_id arriving later — the outcome a one-shot dedup (global min
    id) would never produce."""
    from etl_service_spark.operators import dedup

    text = "the quick brown fox jumps over the lazy dog again and again"
    state = str(tmp_path / "state")
    first = spark.createDataFrame([(5, text)], "doc_id bigint, text string")
    assert [r.doc_id for r in dedup.incremental_neardup(spark, first, state).collect()] == [5]
    later = spark.createDataFrame([(2, text)], "doc_id bigint, text string")
    assert dedup.incremental_neardup(spark, later, state).count() == 0


def test_scd2_audit_detects_gaps_and_inversions(spark):
    """The registry control twin fires multi-open/overlap; the GAP and
    INVERTED-window counters need their own probe so every invariant
    class has a proven-firing detector."""
    from etl_service_spark.operators import scd

    rows = [
        (1, 100, "2025-01-01", "2025-02-01"),
        (1, 200, "2025-03-01", None),          # gap: 02-01 .. 03-01
        (2, 100, "2025-05-01", "2025-04-01"),  # inverted window
        (2, 150, "2025-05-01", None),          # follows an 04-01 close -> gap
    ]
    spark.createDataFrame(
        rows, "custkey bigint, acctbal_cents bigint, valid_from string, valid_to string"
    ).createOrReplaceTempView("__scd2_probe")
    got = spark.sql(
        scd.SCD2_AUDIT_BODY.format(rel="__scd2_probe", label="probe")
    ).collect()[0]
    assert got.n_gap_pairs == 2
    assert got.n_inverted_rows == 1
    assert got.n_overlap_pairs == 0
    assert got.n_multi_open_keys == 0


def test_graph_stage_caches_evict_stale_lineage(spark):
    """Round-10 ADVICE: a session that re-points its views at new data
    must not keep the OLD lineage's persisted edge relation pinned —
    the memo evicts (and unpersists) same-session entries whose
    lineage key differs, while a same-lineage re-call still hits."""
    from etl_service_spark.functions import portable as P
    from etl_service_spark.operators import graph
    from etl_service_spark.plans.queries import views

    views(spark, "/root/testdata/sf0.001")
    sym1 = graph._bfs_stage(spark)[0]
    assert graph._bfs_stage(spark)[0] is sym1  # same lineage: cache hit
    views(spark, "/root/testdata/sf0.01")
    sym2 = graph._bfs_stage(spark)[0]
    assert sym2 is not sym1
    keys = [k for k in P.memo_table(spark) if k[0] == "bfs_edges"]
    assert len(keys) == 1  # stale entry gone
    assert not sym1.storageLevel.useMemory  # and unpersisted
    assert sym2.storageLevel.useMemory or sym2.storageLevel.useDisk
    # restore the suite's standard views for later tests
    from .conftest import SF_DIR

    views(spark, SF_DIR)


def test_runlog_reads_use_declared_schemas(spark, tmp_path):
    """The five log files are read back with the schemas they were
    written with — which must be exactly what inference would give."""
    from etl_service_spark.plans.runlog import LEVELS, RunLog, register_runlog_views

    log = RunLog(str(tmp_path))
    parent = None
    for lv in LEVELS:
        parent = log.open(lv, f"{lv}_1", parent, datetime(2026, 1, 1, 2, 0))
        log.close(lv, parent, success=lv != "step", expected_rows=1)
    log.error("step", parent, "boom", "SELECT 1")
    log.log_query(parent, "SELECT 1")
    flushed = log.flush(spark)
    register_runlog_views(spark, str(tmp_path))
    for name in LEVELS + ("errors", "queries"):
        inferred = spark.read.parquet(str(tmp_path / f"runlog_{name}.parquet")).schema
        assert spark.table(f"runlog_{name}").schema == inferred, name
        if name in flushed:
            assert flushed[name].schema == inferred, name


def test_ivf_index_assign_leaves_no_temp_views(spark, tmp_path, sf_dir):
    from etl_service_spark.operators.similarity import ivf_index_assign, ivf_index_build
    from etl_service_spark.plans.queries import views

    views(spark, sf_dir)
    index_dir = str(tmp_path / "idx")
    ivf_index_build(spark, index_dir, k=4)

    def temp_views():
        return sum(t.isTemporary for t in spark.catalog.listTables())

    before = temp_views()
    batch = spark.table("embeddings").filter("vec_id % 8 = 7")
    counts = [ivf_index_assign(spark, index_dir, batch).count() for _ in range(3)]
    assert temp_views() == before
    assert counts == [batch.count()] * 3


@pytest.mark.parametrize("site", ["simhash_pairs", "cosine_topk", "int8_topk", "cms_grid"])
def test_staged_sql_leaves_no_temp_views(spark, sf_dir, site):
    """Each of these Spark paths hands a DataFrame to one SQL
    statement. It goes in as a ``spark.sql`` formatter argument, which
    drops its generated view after analysis; three calls leave no
    temp view behind besides the staging memo's own."""
    from etl_service_spark.functions import portable as P
    from etl_service_spark.operators import dedup, similarity
    from etl_service_spark.plans.queries import views
    from etl_service_spark.streaming.sketch_stream import cms_grid

    views(spark, sf_dir)
    run = {
        "simhash_pairs": lambda: dedup.simhash_pairs_staged(spark),
        "cosine_topk": lambda: similarity.cosine_topk_staged(spark),
        "int8_topk": lambda: similarity.int8_topk_staged(spark),
        "cms_grid": lambda: cms_grid(spark.table("events")),
    }[site]

    def unowned_views():
        owned = {e[1] for e in P.memo_table(spark).values() if isinstance(e[1], str)}
        return {t.name for t in spark.catalog.listTables() if t.isTemporary} - owned

    before = unowned_views()
    counts = [run().count() for _ in range(3)]
    assert unowned_views() == before
    assert counts[0] > 0 and len(set(counts)) == 1
