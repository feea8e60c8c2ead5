"""Structured Streaming: file-source micro-batches, watermarked window
agg, append-mode memory sink; batch/stream parity check."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


from etl_service_spark.streaming.events_stream import (
    read_event_stream,
    run_available_now,
    windowed_event_counts,
    with_event_time,
)


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    # raw events-table layout (ts = epoch nanos bigint) — what actually lands
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # two "drops" arriving in the landing dir = two poll ticks
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)

    stream = read_event_stream(spark, landing)
    result = windowed_event_counts(stream)
    run_available_now(result, str(tmp_path / "ckpt"), "stream_out")

    got = spark.table("stream_out")
    expect = windowed_event_counts(with_event_time(events))  # same plan over the batch relation
    g = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in expect.collect()}
    # watermark may hold back the tail window in append mode; everything
    # emitted must match the batch answer exactly
    assert g, "stream produced no output"
    for k, v in g.items():
        assert e[k] == v
    assert len(g) >= len(e) - 4

def test_streaming_ohlc_matches_batch(spark, sf_dir, tmp_path):
    """The OHLC rollup's streaming twin: open/close via min_by/max_by
    on the packed (micros, event_id) key must be identical whether the
    events arrive as one batch relation or as two out-of-order file
    drops merged across micro-batches — the mergeable-aggregate
    property the batch query's design bought. Drop 2 carries the even
    ids, drop 1 the odd, so almost every window's open/close partials
    must merge across batches to land on the right rows."""
    from etl_service_spark.streaming.events_stream import windowed_ohlc

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)

    stream = read_event_stream(spark, landing)
    result = windowed_ohlc(stream)
    run_available_now(result, str(tmp_path / "ckpt"), "ohlc_stream_out")

    got = {
        r["hour_start"]: (
            r["n_events"], r["open_cents"], r["high_cents"],
            r["low_cents"], r["close_cents"],
        )
        for r in spark.table("ohlc_stream_out").collect()
    }
    expect = {
        r["hour_start"]: (
            r["n_events"], r["open_cents"], r["high_cents"],
            r["low_cents"], r["close_cents"],
        )
        for r in windowed_ohlc(with_event_time(events)).collect()
    }
    assert got, "stream produced no output"
    for k, v in got.items():
        assert expect[k] == v
    # append mode may hold back windows newer than the watermark
    assert len(got) >= len(expect) - 4


def test_hopping_stream_matches_batch(spark, sf_dir, tmp_path):
    """Sliding (hopping) windows through the SAME plan batch and
    stream: every emitted (window, type) group must equal the batch
    answer; append mode may hold back windows still inside the
    watermark."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)

    stream = read_event_stream(spark, landing)
    result = windowed_event_counts(stream, slide="30 minutes")
    run_available_now(result, str(tmp_path / "ckpt"), "hop_out")

    got = spark.table("hop_out")
    expect = windowed_event_counts(with_event_time(events), slide="30 minutes")
    g = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"]) for r in expect.collect()}
    assert g, "stream produced no output"
    for k, v in g.items():
        assert e[k] == v
    # with a 30-min slide the watermark can hold back at most the last
    # few overlapping windows per type
    assert len(g) >= len(e) - 8


def test_stream_restart_incremental_parquet_sink(spark, sf_dir, tmp_path):
    """Re-running availableNow with the same checkpoint = one poll tick:
    only newly-arrived files are read; already-emitted windows stay put."""
    import shutil

    from etl_service_spark.streaming.events_stream import run_available_now_to_parquet

    landing, ckpt, out = [str(tmp_path / d) for d in ("landing", "ckpt", "out")]
    os.makedirs(landing)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(landing, "drop1.parquet"))
    run_available_now_to_parquet(
        windowed_event_counts(read_event_stream(spark, landing)), ckpt, out
    )
    first = spark.read.parquet(out).count()
    assert first > 0
    # identical file again: all events are behind the watermark -> dropped
    shutil.copy(src, os.path.join(landing, "drop2.parquet"))
    run_available_now_to_parquet(
        windowed_event_counts(read_event_stream(spark, landing)), ckpt, out
    )
    assert spark.read.parquet(out).count() == first

def _drop_sentinel_event(landing: str, template_file: str, name: str) -> None:
    """Land a single far-future event (user_id -1) matching the landing
    schema exactly — advances the watermark past every real gap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sch = pq.read_schema(template_file)
    tbl = pq.read_table(template_file).slice(0, 1)
    pdf = tbl.to_pandas()
    pdf["event_id"] = 10**9
    pdf["user_id"] = -1
    pdf["event_type"] = "flush"
    pdf["ts"] = pdf["ts"] + __import__("pandas").Timedelta(days=365)
    pq.write_table(pa.Table.from_pandas(pdf, schema=sch), os.path.join(landing, name))


def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState gap-sessionization: after a far-future
    sentinel advances the watermark (closing every real session), the
    streamed session set must equal the batch window-function twin
    (plans/queries.EVENTS_SESSIONIZE) EXACTLY — full-frame equality,
    not just a subset check."""
    import shutil

    from etl_service_spark.plans.queries import registry
    from etl_service_spark.streaming.sessionize import sessionize_stream

    landing, ckpt, out = [str(tmp_path / d) for d in ("landing", "ckpt", "out")]
    os.makedirs(landing)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(landing, "d1.parquet"))

    def run():
        q = (
            sessionize_stream(read_event_stream(spark, landing))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    partial = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert partial, "no sessions closed by event-time timeout"

    # flush: sentinel a year ahead -> watermark passes every gap ->
    # every real open session times out and closes on the next run
    _drop_sentinel_event(landing, os.path.join(sf_dir, "events.parquet"), "d2.parquet")
    run()
    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.read.parquet(out).filter("user_id >= 0").collect()
    }
    batch = registry()["events_sessionize"].spark(spark, sf_dir).collect()
    expect = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in batch
    }
    assert partial <= got
    assert got == expect  # full-frame equality with the batch twin


def test_stream_dedup_suppresses_redelivery(spark, sf_dir, tmp_path):
    """The same file dropped twice (at-least-once upstream): every
    event_id must come out exactly once, with state bounded by the
    watermark rather than all history."""
    import shutil

    from etl_service_spark.streaming.events_stream import (
        dedup_event_stream,
        read_event_stream,
        run_available_now_to_parquet,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, landing / "drop1.parquet")
    shutil.copy(src, landing / "drop2.parquet")  # exact redelivery

    stream = dedup_event_stream(read_event_stream(spark, str(landing)))
    out = tmp_path / "out"
    run_available_now_to_parquet(stream, str(tmp_path / "ckpt"), str(out))

    got = spark.read.parquet(str(out))
    n_distinct = spark.read.parquet(src).select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_stream_static_enrich_is_broadcast(spark, sf_dir, tmp_path):
    """Stream-static join: values enriched from the static dim, and the
    batch-equivalent plan broadcasts the dimension (no stream shuffle)."""
    import shutil

    from etl_service_spark.streaming.events_stream import (
        enrich_stream_static,
        read_event_stream,
        run_available_now_to_parquet,
        with_event_time,
    )
    from pyspark.sql import functions as F

    landing = tmp_path / "landing"
    landing.mkdir()
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, landing / "drop1.parquet")

    batch = with_event_time(spark.read.parquet(src))
    dim = (
        batch.select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("string"))
    )
    stream = enrich_stream_static(read_event_stream(spark, str(landing)), dim)
    out = tmp_path / "out"
    run_available_now_to_parquet(stream, str(tmp_path / "ckpt"), str(out))

    got = spark.read.parquet(str(out))
    assert got.count() == batch.count()
    assert got.filter(F.col("segment").isNull()).count() == 0
    # plan check on the batch equivalent of the same join
    plan = enrich_stream_static(batch, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

def test_stream_stream_attribution_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (click -> purchase within 1h per
    user): the inner join emits every match as soon as both sides
    arrive, so draining the backlog must reproduce the batch join
    exactly — same rows, same count."""
    import shutil

    from etl_service_spark.streaming.events_stream import attribute_conversions

    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    os.makedirs(landing)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(landing, "d1.parquet"))

    stream = attribute_conversions(read_event_stream(spark, landing))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from tests.harness import canonicalize

    got_pdf = spark.table("attrib_out").toPandas()
    batch = with_event_time(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    expect_pdf = attribute_conversions(batch).toPandas()
    # multiset full-frame equality (sets would mask duplicate-row
    # multiplicity differences between the stream and the batch join)
    assert len(got_pdf) > 0
    assert canonicalize(got_pdf) == canonicalize(expect_pdf)

def test_foreachbatch_upsert_keeps_aggregate_table_fresh(spark, sf_dir, tmp_path):
    """Streaming upsert into a plain-parquet aggregate table: after a
    second drop arrives, re-draining updates the touched window
    partitions in place and the table equals the batch recomputation
    over ALL data — no duplicate windows, no stale counts."""
    import shutil

    from etl_service_spark.streaming.events_stream import run_upsert_aggregate

    landing, ckpt, out = [str(tmp_path / d) for d in ("landing", "ckpt", "out")]
    os.makedirs(landing)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)

    stream = read_event_stream(spark, landing)
    run_upsert_aggregate(stream, ckpt, out)
    first = spark.read.parquet(out)
    assert first.count() > 0

    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)
    run_upsert_aggregate(read_event_stream(spark, landing), ckpt, out)

    # partition columns are type-inferred on read (string -> int); compare as str
    got = {
        (str(r["win_part"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        (r["win_part"], r["event_type"]): r["n_events"]
        for r in (
            with_event_time(events)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .selectExpr(
                "date_format(w.start, 'yyyyMMddHH') AS win_part",
                "event_type",
                "n_events",
            )
            .collect()
        )
    }
    assert got == expect


def test_dynamic_overwrites_leave_session_conf_alone(spark, sf_dir, tmp_path, monkeypatch):
    """The two dynamic partition overwrites (write_copy_idempotent and
    run_upsert_aggregate's foreachBatch) ask for dynamic mode on their
    own write, never through the shared session's
    spark.sql.sources.partitionOverwriteMode — a concurrent step's
    static overwrite in that window would otherwise turn dynamic. The
    per-write option still replaces only the written partition."""
    from pyspark.sql.conf import RuntimeConfig

    from etl_service_spark.operators.copy import SLICE_COL, write_copy_idempotent
    from etl_service_spark.streaming.events_stream import run_upsert_aggregate

    key = "spark.sql.sources.partitionOverwriteMode"
    set_keys = []
    real_set = RuntimeConfig.set

    def recording_set(self, k, v):
        set_keys.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    before = spark.conf.get(key)

    target = str(tmp_path / "copy")
    rows = lambda month, ids: spark.createDataFrame(  # noqa: E731
        [(i, month) for i in ids], f"id bigint, {SLICE_COL} string"
    )
    write_copy_idempotent(rows("202401", [1, 2]), target)
    write_copy_idempotent(rows("202402", [3]), target)
    assert write_copy_idempotent(rows("202402", [4, 5]), target) == 4  # 202401 kept

    landing = str(tmp_path / "landing")
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).write.parquet(landing)
    run_upsert_aggregate(
        read_event_stream(spark, landing), str(tmp_path / "ckpt"), str(tmp_path / "agg")
    )
    assert spark.read.parquet(str(tmp_path / "agg")).count() > 0

    assert key not in set_keys
    assert spark.conf.get(key) == before

def test_streaming_hll_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The maintained register table must equal the batch recompute over
    everything seen, however the stream was chopped — union+MAX is the
    sketch's merge operator, so two drops (with overlap = a replayed
    file) converge to the same registers and the same estimate."""
    import os
    import shutil

    from etl_service_spark.streaming.events_stream import read_event_stream
    from etl_service_spark.streaming.sketch_stream import (
        hll_estimates,
        hll_registers,
        read_hll_registers,
        run_hll_register_rollup,
    )

    landing, ckpt, table = [str(tmp_path / d) for d in ("landing", "ckpt", "regs")]
    os.makedirs(landing)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(landing, "d1.parquet"))
    run_hll_register_rollup(read_event_stream(spark, landing), ckpt, table)
    # second drop REPLAYS the same events (at-least-once upstream)
    shutil.copy(src, os.path.join(landing, "d2.parquet"))
    run_hll_register_rollup(read_event_stream(spark, landing), ckpt, table)

    maintained = {
        (r["event_type"], r["reg"]): r["mx"]
        for r in read_hll_registers(spark, table).collect()
    }
    batch = spark.read.parquet(src)
    from etl_service_spark.streaming.events_stream import with_event_time

    expected = {
        (r["event_type"], r["reg"]): r["mx"]
        for r in hll_registers(with_event_time(batch)).collect()
    }
    assert maintained == expected  # replay absorbed, merge exact

    est = {r["event_type"]: r["n_distinct_hll"] for r in hll_estimates(read_hll_registers(spark, table)).collect()}
    exact = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(
            __import__("pyspark.sql.functions", fromlist=["countDistinct"]).countDistinct("user_id").alias("n")
        ).collect()
    }
    for et, n in exact.items():
        assert abs(est[et] - n) / max(n, 1) < 0.35  # m=64 -> ~13% stderr


def test_streaming_corpus_curation(spark, tmp_path):
    """End-to-end curation stream: dedup vs persisted fingerprints →
    quality gate → deterministic split → curated store. Two drops with
    overlap (re-delivered rows AND new docs) converge to one row per
    distinct text hash; splits are the pure doc_id function; replayed
    texts never duplicate."""
    import os
    import shutil

    from etl_service_spark.functions import portable as P
    from etl_service_spark.streaming.corpus_stream import (
        SPLIT_EXPR,
        read_document_stream,
        run_corpus_curation,
    )

    P.warm_udfs(spark)
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    landing, ckpt, fps, out = [
        str(tmp_path / d) for d in ("landing", "ckpt", "fps", "curated")
    ]
    os.makedirs(landing)

    def drop(df, name):
        # the file stream doesn't recurse: land a single parquet FILE
        tmp = str(tmp_path / f"_tmp_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(landing, name))

    # drop 1: a third of the corpus
    drop(src.filter("doc_id % 3 = 0"), "d1.parquet")
    run_corpus_curation(read_document_stream(spark, landing), ckpt, fps, out)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # drop 2: the FULL corpus (re-delivers drop 1's rows + new docs)
    drop(src, "d2.parquet")
    run_corpus_curation(read_document_stream(spark, landing), ckpt, fps, out)

    curated = spark.read.parquet(out)
    # one row per text hash, ever — replays and cross-drop dups absorbed
    assert curated.groupBy("text_hash").count().filter("count > 1").count() == 0

    # FULL-FRAME equality with the batch twin of the same delivery
    # order: keeper per hash = first-delivered min doc_id (drop 1's
    # subset wins over drop 2 re-deliveries), then quality gate + the
    # deterministic split — every column, every row, hash-compared.
    from etl_service_spark.operators.textops import quality_scores_df
    from tests.harness import canonicalize

    scored = quality_scores_df(src).select("doc_id", "quality")
    hashed = (
        P.fan_out(src)
        .selectExpr("doc_id", "lower(text) AS lt")
        .select("doc_id", P.pd_poly_hash_udf()("lt").alias("text_hash"))
    )
    k1 = (
        hashed.filter("doc_id % 3 = 0")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    k2 = (
        hashed.join(k1.select("text_hash"), "text_hash", "left_anti")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    expected = (
        k1.union(k2)
        .join(src, "doc_id")
        .join(scored, "doc_id")
        .filter("quality >= 0.45")
        .withColumn("split", F.expr(SPLIT_EXPR))
    )
    cols = sorted(curated.columns)
    assert sorted(expected.columns) == cols
    assert canonicalize(curated.select(cols).toPandas()) == canonicalize(
        expected.select(cols).toPandas()
    )
    # physical layout: one directory per split
    assert any(d.startswith("split=") for d in os.listdir(out))


def test_read_curated_absorbs_crash_replay_duplicates(spark, tmp_path):
    """Simulate the documented crash window: curated rows written, then
    the batch replayed (fingerprints never landed) — the raw store has
    duplicates, read_curated returns exact-once rows."""
    import os
    import shutil

    from etl_service_spark.functions import portable as P
    from etl_service_spark.streaming.corpus_stream import (
        read_curated,
        read_document_stream,
        run_corpus_curation,
    )

    P.warm_udfs(spark)
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        "doc_id % 5 = 0"
    )
    landing, ckpt, fps, out = [
        str(tmp_path / d) for d in ("landing", "ckpt", "fps", "curated")
    ]
    os.makedirs(landing)
    tmp = str(tmp_path / "_one")
    src.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.move(os.path.join(tmp, part), os.path.join(landing, "d1.parquet"))

    run_corpus_curation(read_document_stream(spark, landing), ckpt, fps, out)
    # crash simulation: wipe the fingerprint state and replay the SAME
    # drop under a FRESH checkpoint — the anti-join can't suppress it,
    # so the curated store gains one duplicate batch
    shutil.rmtree(fps)
    run_corpus_curation(
        read_document_stream(spark, landing), str(tmp_path / "ckpt2"), fps, out
    )

    raw = spark.read.parquet(out)
    exact = read_curated(spark, out)
    assert raw.count() == 2 * exact.count()  # every row exactly doubled
    assert exact.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_streaming_quality_rollup_matches_batch(spark, tmp_path):
    """Per-(source, lang) quality monitoring: partial rows appended per
    micro-batch, merged on read — across two drops the maintained
    stats must equal the one-shot batch recomputation EXACTLY (integer
    micro-unit sums are associative; a float sum would drift with
    batching)."""
    import os
    import shutil

    from etl_service_spark.functions import portable as P
    from etl_service_spark.streaming.quality_stream import (
        quality_partials,
        read_document_stream,
        read_quality_stats,
        run_quality_rollup,
    )
    from tests.harness import canonicalize

    P.warm_udfs(spark)
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    landing, ckpt, table = [str(tmp_path / d) for d in ("landing", "ckpt", "stats")]
    os.makedirs(landing)

    def drop(df, name):
        tmp = str(tmp_path / f"_tmp_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(landing, name))

    drop(src.filter("doc_id % 2 = 0"), "d1.parquet")
    run_quality_rollup(read_document_stream(spark, landing), ckpt, table)
    drop(src.filter("doc_id % 2 = 1"), "d2.parquet")
    run_quality_rollup(read_document_stream(spark, landing), ckpt, table)

    maintained = read_quality_stats(spark, table)
    expect = quality_partials(src).withColumn(
        "mean_quality",
        F.col("sum_quality_ppm") / F.col("n_docs") / F.lit(1e6),
    )
    cols = sorted(maintained.columns)
    assert sorted(expect.columns) == cols
    assert canonicalize(maintained.select(cols).toPandas()) == canonicalize(
        expect.select(cols).toPandas()
    )


def test_curation_contamination_gate_excludes_benchmark_texts(spark, tmp_path):
    """Eval-set decontamination at ingest: docs whose text hash appears
    in the benchmark fingerprint table never reach the curated store —
    but their fingerprints ARE recorded, so a re-delivery doesn't
    reprocess them either."""
    import os
    import shutil

    from etl_service_spark.functions import portable as P
    from etl_service_spark.streaming.corpus_stream import (
        read_document_stream,
        run_corpus_curation,
    )

    P.warm_udfs(spark)
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    landing, ckpt, fps, out, bench = [
        str(tmp_path / d) for d in ("landing", "ckpt", "fps", "curated", "bench")
    ]
    os.makedirs(landing)

    # benchmark = the texts of docs 0..19 (by hash)
    bench_hashes = (
        P.fan_out(src.filter("doc_id < 20"))
        .selectExpr("lower(text) AS lt")
        .select(P.pd_poly_hash_udf()("lt").alias("text_hash"))
        .distinct()
    )
    bench_hashes.write.parquet(bench)
    n_bench = bench_hashes.count()
    assert n_bench > 0

    tmp = str(tmp_path / "_one")
    src.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.move(os.path.join(tmp, part), os.path.join(landing, "d1.parquet"))

    run_corpus_curation(
        read_document_stream(spark, landing), ckpt, fps, out, benchmark_fps_dir=bench
    )

    curated = spark.read.parquet(out)
    contaminated = curated.join(
        spark.read.parquet(bench), "text_hash", "left_semi"
    ).count()
    assert contaminated == 0  # no benchmark text in the curated store
    assert curated.count() > 0  # the rest flowed through
    # the contaminated docs were still fingerprinted as seen
    fp = spark.read.parquet(fps)
    assert fp.join(spark.read.parquet(bench), "text_hash", "left_semi").count() == n_bench


def test_forget_docs_and_purge_rewrite_only_affected_files(spark, tmp_path):
    """Right-to-be-forgotten: tombstones take effect at READ time
    immediately; the physical purge rewrites ONLY files containing
    tombstoned rows, survivors are intact, and re-running the purge is
    a no-op."""
    import os

    from etl_service_spark.streaming.corpus_stream import (
        SPLIT_EXPR,
        forget_docs,
        purge_forgotten,
        read_curated,
    )

    out, tombs = str(tmp_path / "curated"), str(tmp_path / "tombs")
    src = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("split", F.expr(SPLIT_EXPR))
    )
    # several files per split so the purge has unaffected files to skip
    src.repartition(4).write.partitionBy("split").parquet(out)
    n_files_before = sum(
        1 for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    )

    victims = [r["doc_id"] for r in src.limit(3).collect()]
    forget_docs(spark, tombs, victims)

    # logical delete is immediate
    cur = read_curated(spark, out, tombstone_dir=tombs)
    assert cur.filter(F.col("doc_id").isin(victims)).count() == 0
    n_expected = src.count() - len(victims)
    assert cur.count() == n_expected

    stats = purge_forgotten(spark, out, tombs)
    assert stats["rows_dropped"] == len(victims)
    assert 0 < stats["files_rewritten"] < n_files_before

    # physically gone even WITHOUT the tombstone filter
    raw = spark.read.parquet(out)
    assert raw.filter(F.col("doc_id").isin(victims)).count() == 0
    assert raw.count() == n_expected
    # survivors untouched: full-frame check against the source
    assert raw.select("doc_id").subtract(src.select("doc_id")).count() == 0

    # idempotent: second purge touches nothing
    assert purge_forgotten(spark, out, tombs) == {
        "files_rewritten": 0,
        "rows_dropped": 0,
    }


def test_python_stream_datasource_incremental_exactly_once(spark, tmp_path):
    """Custom Spark 4 streaming DataSource (etl_jsonl_stream): a
    checkpointed drain reads only files beyond the committed cursor;
    re-dropping nothing yields nothing; a new file yields exactly its
    rows."""
    import json as _json

    from etl_service_spark.sources.pydatasource import JsonLinesStreamDataSource

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drop(name, lo, hi):
        with open(landing / name, "w") as fh:
            for k in range(lo, hi):
                fh.write(_json.dumps({"k": k, "s": f"v{k}"}) + "\n")

    drop("0001.jsonl", 0, 20)
    drop("0002.jsonl", 20, 30)

    if not getattr(spark, "_etl_jsonl_stream_registered", False):
        spark.dataSource.register(JsonLinesStreamDataSource)
        spark._etl_jsonl_stream_registered = True

    def drain():
        q = (
            spark.readStream.format("etl_jsonl_stream")
            .option("schema", "k bigint, s string")
            .load(str(landing))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 30

    drain()  # nothing new behind the cursor
    assert spark.read.parquet(out).count() == 30

    drop("0003.jsonl", 30, 45)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 45
    assert {r["k"] for r in got.collect()} == set(range(45))


def test_purge_crash_window_converges(spark, tmp_path):
    """Simulate the purge's documented crash point: survivors appended
    but originals NOT yet removed. The read view stays exact (dedup +
    tombstone anti-join absorb both artifacts) and re-running the purge
    converges to the clean physical state."""
    import os

    from etl_service_spark.streaming.corpus_stream import (
        SPLIT_EXPR,
        forget_docs,
        purge_forgotten,
        read_curated,
    )

    out, tombs = str(tmp_path / "curated"), str(tmp_path / "tombs")
    src = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("split", F.expr(SPLIT_EXPR))
    )
    src.repartition(4).write.partitionBy("split").parquet(out)
    victims = [r["doc_id"] for r in src.limit(3).collect()]
    forget_docs(spark, tombs, victims)

    # crash simulation: replay the purge's append step WITHOUT removal —
    # survivors from one affected file now exist twice
    tomb_df = spark.read.parquet(tombs).select("doc_id")
    cur = spark.read.parquet(out)
    f = (
        cur.withColumn("f", F.input_file_name())
        .join(F.broadcast(tomb_df), "doc_id")
        .select("f")
        .first()["f"]
    )
    one = spark.read.option("basePath", out).parquet(f)
    surv = one.join(F.broadcast(tomb_df), "doc_id", "left_anti")
    for split in [r["split"] for r in surv.select("split").distinct().collect()]:
        surv.filter(F.col("split") == split).drop("split").write.mode("append").parquet(
            os.path.join(out, f"split={split}")
        )

    n_expected = src.count() - len(victims)
    cur_view = read_curated(spark, out, tombstone_dir=tombs)
    assert cur_view.count() == n_expected  # duplicates + victims absorbed
    assert cur_view.filter(F.col("doc_id").isin(victims)).count() == 0

    # re-run converges: victims physically gone, duplicates remain only
    # in raw files (the read view dedups), view still exact
    purge_forgotten(spark, out, tombs)
    raw = spark.read.parquet(out)
    assert raw.filter(F.col("doc_id").isin(victims)).count() == 0
    assert read_curated(spark, out, tombstone_dir=tombs).count() == n_expected


def test_streaming_cms_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The maintained CMS grid equals the batch grid over all events
    ever seen (cell-wise SUM merge is exact on integer counts), and a
    crash-replayed batch append is absorbed by the batch_id dedup."""
    import shutil

    from etl_service_spark.streaming.sketch_stream import (
        cms_grid,
        read_cms_grid,
        run_cms_rollup,
    )

    landing, ckpt, table = [str(tmp_path / d) for d in ("landing", "ckpt", "cms")]
    os.makedirs(landing)
    src = os.path.join(sf_dir, "events.parquet")
    events = spark.read.parquet(src)

    shutil.copy(src, os.path.join(landing, "d1.parquet"))
    stream = spark.readStream.schema(events.schema).parquet(landing)
    run_cms_rollup(stream, ckpt, table)

    maintained = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_cms_grid(spark, table).collect()
    }
    batch = {(r["d"], r["bucket"]): r["cnt"] for r in cms_grid(events).collect()}
    assert maintained == batch

    # crash replay: the same batch's grid appended AGAIN under its
    # batch_id — the reader's dedup keeps the grid unchanged
    grid0 = spark.read.parquet(table)
    grid0.write.mode("append").parquet(table)
    replayed = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_cms_grid(spark, table).collect()
    }
    assert replayed == batch


def test_curation_neardup_gate_suppresses_paraphrases(spark, tmp_path):
    """With neardup_state_dir set, a second drop whose docs are light
    edits of the first drop's docs never reaches the curated store;
    genuinely new text still lands."""
    import os as _os

    from etl_service_spark.streaming.corpus_stream import (
        read_curated,
        read_document_stream,
        run_corpus_curation,
    )

    landing, ckpt, fps, bands, out = [
        str(tmp_path / d) for d in ("landing", "ckpt", "fps", "bands", "curated")
    ]
    _os.makedirs(landing)

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the miller watches the slow water turn the old wheel today"
    )
    other = (
        "completely unrelated prose describing parquet row group statistics "
        "and shuffle partition sizing for adaptive query execution in spark"
    )

    def docs(rows):
        return spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        )

    def drop(df, name):
        import shutil

        tmp = str(tmp_path / f"_tmp_{name}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in _os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(_os.path.join(tmp, part), _os.path.join(landing, name))

    drop(docs([(1, base), (2, other)]), "d1.parquet")
    run_corpus_curation(
        read_document_stream(spark, landing), ckpt, fps, out,
        q_min=0.0, neardup_state_dir=bands,
    )
    ids1 = {r["doc_id"] for r in read_curated(spark, out).collect()}
    assert ids1 == {1, 2}

    fresh_text = (
        "a genuinely new document about calendar spine gapfill resampling "
        "with hourly aggregation and carry forward staleness markers here"
    )
    drop(
        docs([(10, base.replace("today", "tonight")), (11, fresh_text)]),
        "d2.parquet",
    )
    run_corpus_curation(
        read_document_stream(spark, landing), ckpt, fps, out,
        q_min=0.0, neardup_state_dir=bands,
    )
    ids2 = {r["doc_id"] for r in read_curated(spark, out).collect()}
    assert 10 not in ids2  # paraphrase of doc 1 suppressed by the band state
    assert 11 in ids2 and ids2 >= {1, 2, 11}


def test_jsonl_stream_source_feeds_corpus_curation(spark, tmp_path):
    """The custom etl_jsonl_stream source can drive the real curation
    pipeline: JSON-lines drops -> curate_batch per micro-batch ->
    curated store identical to the parquet-drop twin over the same
    rows."""
    import json as _json

    from etl_service_spark.sources.pydatasource import JsonLinesStreamDataSource
    from etl_service_spark.streaming.corpus_stream import DOC_SCHEMA, curate_batch, read_curated

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt, fps, out = [str(tmp_path / d) for d in ("ckpt", "fps", "curated")]

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    rows = [r.asDict() for r in src.collect()]
    for i, chunk in enumerate([rows[:30], rows[30:]]):
        with open(landing / f"{i:04d}.jsonl", "w") as fh:
            for r in chunk:
                fh.write(_json.dumps(r) + "\n")

    if not getattr(spark, "_etl_jsonl_stream_registered", False):
        spark.dataSource.register(JsonLinesStreamDataSource)
        spark._etl_jsonl_stream_registered = True

    q = (
        spark.readStream.format("etl_jsonl_stream")
        .option("schema", DOC_SCHEMA)
        .load(str(landing))
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: curate_batch(df, fps, out, q_min=0.0))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = read_curated(spark, out)
    # same pipeline over the same rows via the batch path
    fps2, out2 = str(tmp_path / "fps2"), str(tmp_path / "out2")
    curate_batch(src, fps2, out2, q_min=0.0)
    expect = read_curated(spark, out2)
    cols = sorted(got.columns)
    assert sorted(expect.columns) == cols
    a = sorted(tuple(r) for r in got.select(cols).collect())
    b = sorted(tuple(r) for r in expect.select(cols).collect())
    assert a == b and len(a) > 0


def test_cms_log_compaction_preserves_grid(spark, sf_dir, tmp_path):
    """Compacting the CMS append-log to one merged grid leaves
    read_cms_grid's answer bit-identical and shrinks the file count."""
    import shutil

    from etl_service_spark.streaming.sketch_stream import (
        compact_cms_log,
        read_cms_grid,
        run_cms_rollup,
    )

    landing, ckpt, table = [str(tmp_path / d) for d in ("landing", "ckpt", "cms")]
    os.makedirs(landing)
    src = os.path.join(sf_dir, "events.parquet")
    events = spark.read.parquet(src)
    # three separate drains -> three appended batch grids
    for i in range(3):
        shutil.copy(src, os.path.join(landing, f"d{i}.parquet"))
        run_cms_rollup(
            spark.readStream.schema(events.schema).parquet(landing), ckpt, table
        )
    before = {(r["d"], r["bucket"]): r["cnt"] for r in read_cms_grid(spark, table).collect()}
    stats = compact_cms_log(spark, table)
    after = {(r["d"], r["bucket"]): r["cnt"] for r in read_cms_grid(spark, table).collect()}
    assert after == before
    assert stats["files_after"] <= stats["files_before"]
    # idempotent
    compact_cms_log(spark, table)
    assert {(r["d"], r["bucket"]): r["cnt"] for r in read_cms_grid(spark, table).collect()} == before


def test_cms_compaction_recovers_from_crash_between_remove_and_rename(spark, sf_dir, tmp_path):
    """Simulate the one non-atomic window: table dir removed, temp
    sibling not yet renamed — re-running the compaction finishes the
    swap with the grid intact."""
    import shutil

    from etl_service_spark.streaming.sketch_stream import (
        compact_cms_log,
        read_cms_grid,
        run_cms_rollup,
    )

    landing, ckpt, table = [str(tmp_path / d) for d in ("landing", "ckpt", "cms")]
    os.makedirs(landing)
    src = os.path.join(sf_dir, "events.parquet")
    events = spark.read.parquet(src)
    shutil.copy(src, os.path.join(landing, "d0.parquet"))
    run_cms_rollup(spark.readStream.schema(events.schema).parquet(landing), ckpt, table)
    before = {(r["d"], r["bucket"]): r["cnt"] for r in read_cms_grid(spark, table).collect()}

    # crash simulation: merged grid written to the temp sibling, table
    # removed, rename never happened
    tmp_sib = table + "__compacting"
    read_cms_grid(spark, table).withColumn("batch_id", F.lit(-1)).select(
        "batch_id", "d", "bucket", "cnt"
    ).write.parquet(tmp_sib)
    shutil.rmtree(table)

    compact_cms_log(spark, table)  # recovery path
    after = {(r["d"], r["bucket"]): r["cnt"] for r in read_cms_grid(spark, table).collect()}
    assert after == before


def test_scd2_stream_matches_sequential_merges_and_time_travels(spark, tmp_path):
    """Streaming SCD2 maintenance: two update drops folded through
    foreachBatch must equal the sequential batch merges, and the
    snapshot layer must expose the post-batch-1 history as version 1
    (the dimension's own history is time-travelable)."""
    import os

    from etl_service_spark.operators.scd import scd2_merge
    from etl_service_spark.sources import snapshots
    from etl_service_spark.streaming.dim_stream import (
        _empty_history,
        run_scd2_maintenance,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "dim")
    os.makedirs(landing)

    b1 = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    b2 = spark.createDataFrame([(1, 10), (2, 99), (3, 30)], "k bigint, v bigint")
    ts = lambda bid: f"2025-0{bid + 1}-01"  # noqa: E731

    def drain():
        stream = spark.readStream.schema("k bigint, v bigint").parquet(landing)
        run_scd2_maintenance(stream, ckpt, table, "k", ["v"], ts)

    b1.write.mode("append").parquet(landing)
    drain()
    b2.write.mode("append").parquet(landing)
    drain()

    def rows(df):
        return {tuple(r) for r in df.select("k", "v", "valid_from", "valid_to").collect()}

    expect1 = scd2_merge(_empty_history(spark, b1), b1, "k", ["v"], ts(0))
    expect2 = scd2_merge(expect1, b2, "k", ["v"], ts(1))
    assert rows(snapshots.read_snapshot(spark, table)) == rows(expect2)
    assert snapshots.list_versions(table) == [1, 2]
    assert rows(snapshots.read_snapshot(spark, table, version=1)) == rows(expect1)
    # the %-changed key carries a closed + an open version
    final = rows(snapshots.read_snapshot(spark, table))
    assert (2, 20, "2025-01-01", "2025-02-01") in final
    assert (2, 99, "2025-02-01", None) in final


def test_scd2_stream_replay_is_idempotent(spark, tmp_path):
    """Crash/replay contract: re-merging an already-applied batch with
    the SAME batch ts finds no tracked change and publishes an equal
    history — at-least-once processing converges."""
    from etl_service_spark.sources import snapshots
    from etl_service_spark.streaming.dim_stream import merge_batch_into_history

    table = str(tmp_path / "dim")
    b = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    v1 = merge_batch_into_history(b, table, "k", ["v"], "2025-01-01")
    v2 = merge_batch_into_history(b, table, "k", ["v"], "2025-01-01")  # replay
    assert [v1, v2] == [1, 2]

    def rows(v):
        return {
            tuple(r)
            for r in snapshots.read_snapshot(spark, table, version=v).collect()
        }

    assert rows(1) == rows(2)


def test_streaming_burst_monitor_matches_batch(spark, sf_dir, tmp_path):
    """Maintain hourly counts from the stream, gate bursts in batch:
    flagged rows must equal the batch burst query over the same span
    (the streamed rollup is a time-prefix — the watermark may hold the
    tail windows — so both sides are cut at the last streamed hour)."""
    from etl_service_spark.operators.sketch import burst_gate_over_hourly, burst_windows_sql
    from etl_service_spark.plans.queries import views

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(landing)
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)

    run_available_now(
        windowed_event_counts(read_event_stream(spark, landing)),
        str(tmp_path / "ckpt"),
        "burst_hourly",
    )
    streamed = spark.table("burst_hourly")
    # factor 1 (>= trailing mean): sf0.001 hourly counts are too flat
    # for the 2x production default; the gate logic is identical
    got = burst_gate_over_hourly(streamed, factor_num=1)

    views(spark, sf_dir)
    expect = spark.sql(burst_windows_sql(1)[0])

    cutoff = streamed.agg(
        F.expr("MAX(unix_micros(window_start) DIV 3600000000)")
    ).collect()[0][0]
    g = sorted(map(tuple, got.filter(F.col("hour") <= cutoff).collect()))
    e = sorted(map(tuple, expect.filter(F.col("hour") <= cutoff).collect()))
    assert g, "no bursts flagged — gate untested"
    assert g == e


def test_merge_stream_folds_batches_and_prunes_files(spark, tmp_path):
    """Streaming keyed MERGE maintenance (merge_stream): two update
    drops fold into the snapshot table with last-writer-per-key
    semantics, intra-batch duplicate keys are reduced to the newest
    row (merge_upsert's precondition), and untouched data files are
    REUSED across versions (the file-pruned shape)."""
    import os

    from etl_service_spark.sources import snapshots
    from etl_service_spark.streaming.merge_stream import run_merge_maintenance

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "tbl")
    os.makedirs(landing)

    # production shape: the initial load is key-clustered OUTSIDE the
    # stream (4 disjoint key-range files), trickle merges prune
    snapshots.commit_append(
        spark.createDataFrame(
            [(i, i * 10, 0) for i in range(48)], "k bigint, v bigint, seq bigint"
        ).repartitionByRange(4, "k"),
        table,
    )

    def drain():
        stream = spark.readStream.schema("k bigint, v bigint, seq bigint").parquet(landing)
        run_merge_maintenance(stream, ckpt, table, "k", "seq")

    # batch 1: key 7 updated twice inside the batch (latest wins) and
    # key 900 inserted far outside every file's range
    spark.createDataFrame(
        [(7, 70_000, 1), (7, 777, 2), (900, 9000, 1)],
        "k bigint, v bigint, seq bigint",
    ).write.mode("append").parquet(landing)
    v1_files = set(snapshots._read_manifest(table, 1)["files"])
    drain()
    rows = {r.k: r.v for r in snapshots.read_snapshot(spark, table).collect()}
    assert rows[7] == 777 and rows[3] == 30 and rows[900] == 9000
    assert len(rows) == 49
    v2_files = set(snapshots._read_manifest(table, 2)["files"])
    # file pruning: only the one file whose range contains key 7 was
    # rewritten; the other three v1 files carried verbatim
    assert len(v1_files & v2_files) == 3, (v1_files, v2_files)

    # batch 2: plain update in another range
    spark.createDataFrame(
        [(30, 3333, 3)], "k bigint, v bigint, seq bigint"
    ).write.mode("append").parquet(landing)
    drain()
    rows = {r.k: r.v for r in snapshots.read_snapshot(spark, table).collect()}
    assert rows[30] == 3333 and rows[7] == 777 and len(rows) == 49


def test_merge_stream_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (fresh checkpoint over the same landing
    files) merges rows the table already reflects: the merged STATE is
    unchanged."""
    import os

    from etl_service_spark.sources import snapshots
    from etl_service_spark.streaming.merge_stream import run_merge_maintenance

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "tbl")
    os.makedirs(landing)

    spark.createDataFrame(
        [(i, i, 1) for i in range(20)], "k bigint, v bigint, seq bigint"
    ).write.mode("append").parquet(landing)

    def drain(ck):
        stream = spark.readStream.schema("k bigint, v bigint, seq bigint").parquet(landing)
        run_merge_maintenance(stream, str(tmp_path / ck), table, "k", "seq")

    drain("ck1")
    before = {tuple(r) for r in snapshots.read_snapshot(spark, table).collect()}
    drain("ck2")  # replay: fresh checkpoint, same files
    after = {tuple(r) for r in snapshots.read_snapshot(spark, table).collect()}
    assert after == before


class _FakeState:
    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts

    def remove(self):
        self._v = None


def test_sessionize_kernel_does_not_absorb_pre_session_late_events():
    """Regression: an event more than one gap BEFORE the open session's
    start belongs to an earlier session (the batch twin emits it
    separately); the old kernel absorbed it silently (t - end < gap)
    and inflated n_events with an unchanged start. Chaining: a late
    run reaching within one gap of the open start merges and extends
    the start instead."""
    import pandas as pd

    from etl_service_spark.streaming.sessionize import (
        SESSION_GAP_US,
        _sessionize_group,
    )

    gap = SESSION_GAP_US
    # open session [100*gap, 100*gap + gap//2]
    st = _FakeState((5, 100 * gap, 100 * gap + gap // 2))
    # one event 3 gaps before the session start -> separate session
    [out] = list(
        _sessionize_group((7,), iter([pd.DataFrame({"ts_us": [97 * gap]})]), st)
    )
    assert len(out) == 1
    assert tuple(out.iloc[0]) == (7, 1, 97 * gap, 97 * gap)
    assert st.get == (5, 100 * gap, 100 * gap + gap // 2)  # open session intact

    # a late run that chains to within one gap of the start MERGES
    st2 = _FakeState((5, 100 * gap, 100 * gap + gap // 2))
    ts = [99 * gap + gap // 2, 99 * gap + gap - 1]  # ends gap-close to start
    [out2] = list(
        _sessionize_group((7,), iter([pd.DataFrame({"ts_us": ts})]), st2)
    )
    assert len(out2) == 0  # nothing closed: merged into the open session
    n, s, e = st2.get
    assert n == 7 and s == ts[0] and e == 100 * gap + gap // 2


def test_sessionize_kernel_bridges_early_event_through_in_batch_chain():
    """Regression (round-5 ADVICE): an event more than one gap before
    the open session start that is bridged to it by ANOTHER in-batch
    event within [start-gap, start) must merge into the open session —
    the batch twin chains transitively. The old two-phase kernel's
    'chains into the open session' branch was unreachable (every early
    event satisfied t < s - gap, so s - ee <= gap could never hold)
    and closed the early event as its own session."""
    import pandas as pd

    from etl_service_spark.streaming.sessionize import (
        SESSION_GAP_US,
        _sessionize_group,
    )

    gap = SESSION_GAP_US
    # gap=10 scaled: open start s=100*gap, batch {98.9*gap, 99.1*gap}:
    # 98.9g is >1 gap before s, 99.1g bridges it (99.1g-98.9g <= gap
    # and s-99.1g <= gap) -> ALL one session, nothing closed.
    st = _FakeState((5, 100 * gap, 100 * gap + gap // 2))
    ts = [99 * gap - gap // 10, 99 * gap + gap // 10]
    [out] = list(
        _sessionize_group((7,), iter([pd.DataFrame({"ts_us": ts})]), st)
    )
    assert len(out) == 0, out
    n, s, e = st.get
    assert n == 7 and s == ts[0] and e == 100 * gap + gap // 2
    # and without the bridge the early event still closes separately
    st2 = _FakeState((5, 100 * gap, 100 * gap + gap // 2))
    [out2] = list(
        _sessionize_group(
            (7,), iter([pd.DataFrame({"ts_us": [99 * gap - gap // 10]})]), st2
        )
    )
    assert len(out2) == 1
    assert tuple(out2.iloc[0]) == (7, 1, ts[0], ts[0])
    assert st2.get == (5, 100 * gap, 100 * gap + gap // 2)


def test_cms_compaction_rejects_replay_of_folded_batch(spark, tmp_path):
    """Regression: the stream crashes between batch N's grid append and
    its checkpoint commit; maintenance compacts; the stream replays
    batch N and appends it again. The reader must reject the replayed
    raw batch (the fold already counted it) — counts must not double."""
    from etl_service_spark.streaming.sketch_stream import (
        cms_grid,
        compact_cms_log,
        read_cms_grid,
    )

    d = str(tmp_path / "cms")
    ev = spark.createDataFrame([(i % 7, 1) for i in range(100)], "user_id bigint, x bigint")

    def append(batch_id):
        cms_grid(ev).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(d)

    append(0)
    append(1)  # batch 1 appended; checkpoint never committed
    before = {(r.d, r.bucket): r.cnt for r in read_cms_grid(spark, d).collect()}
    compact_cms_log(spark, d)
    append(1)  # post-compaction replay of batch 1
    after = {(r.d, r.bucket): r.cnt for r in read_cms_grid(spark, d).collect()}
    assert after == before  # replay absorbed, nothing double-counted
    append(2)  # genuinely new batch still counts
    final = read_cms_grid(spark, d)
    assert {(r.d, r.bucket): r.cnt for r in final.collect()} != before


def test_scd2_stream_batch_with_duplicate_keys_fails_loudly(spark, tmp_path):
    """Regression: Trigger.AvailableNow can coalesce two drops for one
    key into a single micro-batch; scd2_merge's full-outer join would
    fan out and corrupt the history, so the fold must raise instead."""
    import pytest as _pytest

    from etl_service_spark.streaming.dim_stream import merge_batch_into_history

    batch = spark.createDataFrame([(1, 10), (1, 11)], "k bigint, v bigint")
    with _pytest.raises(ValueError, match="multiple rows"):
        merge_batch_into_history(batch, str(tmp_path / "dim"), "k", ["v"], "2025-01-01")


def test_ivf_assign_stream_equals_batch_and_replay_converges(spark, sf_dir, tmp_path):
    """Incremental ANN maintenance (round-5): vectors streamed in two
    file drops through the foreachBatch fold must produce EXACTLY the
    assignment table the batch path builds (same persisted centroids,
    deterministic integer-exact argmin); re-running the drained stream
    with the same checkpoint must leave the assignment STATE unchanged
    (convergent under at-least-once); and the measured churn vs a full
    rebuild stays under the drift bound the report itself gauges."""
    import os

    from etl_service_spark.operators import similarity
    from etl_service_spark.plans.queries import views
    from etl_service_spark.sources import snapshots
    from etl_service_spark.streaming.ann_stream import (
        read_vector_stream,
        run_ivf_assign_stream,
    )

    views(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    index_dir, assign_dir, landing, ckpt = [
        str(tmp_path / d) for d in ("idx", "asg", "landing", "ckpt")
    ]
    os.makedirs(landing)
    # index trained on the base corpus; base assignments folded batch-side
    similarity.ivf_index_build(
        spark, index_dir, base_filter=similarity._IVF_INC_BASE, big_t="BIGINT"
    )
    similarity.ivf_index_append_batch(
        spark, index_dir, assign_dir, emb.filter(similarity._IVF_INC_BASE), "BIGINT"
    )
    # two later arrivals land as parquet file drops
    for i, m in enumerate((6, 7)):
        emb.filter(f"vec_id % 8 = {m}").coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
        f = [x for x in os.listdir(tmp_path / f"stage{i}") if x.endswith(".parquet")][0]
        os.rename(tmp_path / f"stage{i}" / f, os.path.join(landing, f"drop{i}.parquet"))

    run_ivf_assign_stream(
        read_vector_stream(spark, landing), index_dir, assign_dir, ckpt, "BIGINT"
    )
    streamed = {
        (r.vec_id, r.j) for r in snapshots.read_snapshot(spark, assign_dir).collect()
    }
    batch = {
        (r.vec_id, r.j)
        for r in similarity.ivf_index_assign(spark, index_dir, emb, "BIGINT").collect()
    }
    assert streamed == batch  # full-frame equality with the batch twin

    # replay: drained stream re-run with the same checkpoint is a no-op
    v_before = snapshots.list_versions(assign_dir)[-1]
    run_ivf_assign_stream(
        read_vector_stream(spark, landing), index_dir, assign_dir, ckpt, "BIGINT"
    )
    after = {
        (r.vec_id, r.j) for r in snapshots.read_snapshot(spark, assign_dir).collect()
    }
    assert after == streamed and snapshots.list_versions(assign_dir)[-1] == v_before

    # drift gauge: the report's total churn equals the set difference
    # between incremental and rebuilt assignments, and stays a minority
    rep = similarity.ivf_incremental_staged(spark, big_t="BIGINT").collect()
    n_total = sum(r.n_base + r.n_new for r in rep)
    n_churn = sum(r.n_churn for r in rep)
    assert n_total == emb.count()
    assert 0 < n_churn < n_total // 2


def test_replay_order_watermark_drops_match_prediction(spark, sf_dir, tmp_path):
    """Streaming twin of the events_watermark_lateness audit's premise:
    replaying a time-ordered extract in batched-per-entity order
    (sorted by user_id) through a watermarked aggregation REALLY drops
    the rows whose window closed before the late batch arrived — and
    the drop set is exactly predictable from the first batch's
    event-time frontier. Two landing drops in replay order (low user
    ids, then high), 1h watermark: after drop 1 the watermark is
    max(ts in drop 1) - 1h, so drop 2 loses precisely its rows with
    window_end <= that; a far-future sentinel then flushes every open
    window so the surviving count is assertable without append-mode
    holdback."""
    import pyspark.sql.functions as F

    from etl_service_spark.streaming.events_stream import (
        run_available_now_to_parquet,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    med = events.approxQuantile("user_id", [0.5], 0.0)[0]
    h1 = events.filter(F.col("user_id") <= med)
    h2 = events.filter(F.col("user_id") > med)
    n_total = events.count()

    ts1 = with_event_time(h1).agg(F.max("ts")).collect()[0][0]
    wm = ts1 - __import__("datetime").timedelta(hours=1)
    h2t = with_event_time(h2).withColumn(
        "wend", F.col("ts") + F.expr("INTERVAL 1 HOUR")
        - (F.col("ts") - F.date_trunc("hour", F.col("ts"))).cast("interval day to second")
    )
    # boundary guard: no h2 window-end lands exactly ON the watermark,
    # so <= vs < cannot flip the prediction
    assert h2t.filter(F.col("wend") == F.lit(wm)).count() == 0
    predicted_dropped = h2t.filter(F.col("wend") <= F.lit(wm)).count()
    assert predicted_dropped > 0, "replay order must make some rows late"

    h1.write.mode("append").parquet(landing)
    stream = lambda: windowed_event_counts(  # noqa: E731
        read_event_stream(spark, landing), watermark="1 hour"
    )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    run_available_now_to_parquet(stream(), ckpt, out)
    h2.write.mode("append").parquet(landing)
    run_available_now_to_parquet(stream(), ckpt, out)
    template = next(
        os.path.join(landing, f) for f in os.listdir(landing) if f.endswith(".parquet")
    )
    _drop_sentinel_event(landing, template, "zz_flush.parquet")
    run_available_now_to_parquet(stream(), ckpt, out)

    got = spark.read.parquet(out)
    ts_max = with_event_time(events).agg(F.max("ts")).collect()[0][0]
    survived = (
        got.filter(F.col("window_start") <= F.lit(ts_max))
        .agg(F.sum("n_events")).collect()[0][0]
    )
    assert survived == n_total - predicted_dropped
