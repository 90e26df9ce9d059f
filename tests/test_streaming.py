"""Streaming-pipeline semantics tests (D1-D9) over a file-based source
— the reference's integration-test matrix without a broker (reference
internal/integration/kafka_pipeline_test.go: counts, poison-pill skip,
dedup, record-level spot checks)."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from storm_data_etl_service_spark.sources.storm_fixture import (
    BASE_TS,
    FROZEN_CLOCK,
    RAW_COLUMNS,
    RAW_ROWS,
)
from storm_data_etl_service_spark.streaming.pipeline import (
    PipelineMetrics,
    StormStreamPipeline,
    file_source,
    kafka_sink_frame,
    parquet_dlq,
    parquet_sink,
)


@pytest.fixture()
def workdir():
    d = Path(tempfile.mkdtemp(prefix="storm_stream_"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _b64(s: str) -> str:
    # the JSON file source decodes BinaryType fields from base64 —
    # exactly how a binary Kafka payload round-trips through JSON
    import base64

    return base64.b64encode(s.encode()).decode()


def _envelope(row, offset):
    return {
        "value": _b64(json.dumps(dict(zip(RAW_COLUMNS, row)))),
        "topic": "storm.raw",
        "partition": 0,
        "offset": offset,
        "timestamp": BASE_TS.isoformat(),
    }


def _write_stream_files(src_dir: Path):
    """Two micro-batch files: batch 0 has a poison pill, batch 1
    replays the first record (duplicate id) plus fresh rows."""
    src_dir.mkdir(parents=True, exist_ok=True)
    batch0 = [_envelope(r, i) for i, r in enumerate(RAW_ROWS[:10])]
    batch0.insert(3, {"value": _b64("{not valid json"), "topic": "storm.raw",
                      "partition": 0, "offset": 999,
                      "timestamp": BASE_TS.isoformat()})
    batch1 = [_envelope(RAW_ROWS[0], 1000)]  # duplicate of the golden record
    batch1 += [_envelope(r, 1001 + i) for i, r in enumerate(RAW_ROWS[10:16])]
    for i, batch in enumerate([batch0, batch1]):
        with open(src_dir / f"batch{i}.json", "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")


def _run_pipeline(spark, workdir):
    src = workdir / "src"
    _write_stream_files(src)
    metrics = PipelineMetrics()
    pipe = StormStreamPipeline(
        file_source(spark, str(src)),
        sink_writer=parquet_sink(str(workdir / "out")),
        dlq_writer=parquet_dlq(str(workdir / "dlq")),
        metrics=metrics,
        processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"),
    )
    q = pipe.start(str(workdir / "ckpt"))
    q.awaitTermination(120)
    return metrics


def test_end_to_end_counts_and_dedup(spark, workdir):
    metrics = _run_pipeline(spark, workdir)
    out = spark.read.parquet(str(workdir / "out"))
    # 16 distinct records + 1 duplicate + 1 poison consumed
    assert metrics.transform_errors == 1
    assert metrics.consumed == 18
    # the duplicate replay may land in a separate micro-batch (file
    # source => both files can be one batch with availableNow, so the
    # in-batch first-wins dedup must collapse it either way)
    ids = [r["id"] for r in out.select("id").collect()]
    assert len(ids) == len(set(ids)) == 16

    golden = out.filter(F.col("id") == "hail-5d91dda0f56ba124").collect()
    assert len(golden) == 1
    g = golden[0]
    assert g["measurement_magnitude"] == 1.25
    assert g["measurement_severity"] == "moderate"
    assert g["source_office"] == "SJT"


def test_stream_output_equals_batch_path(spark, workdir):
    """FIXTURES §4 contract: the streaming sink rows hash-match the
    batch enrichment over the same raw records — the two paths share
    one expression chain, and this proves it end-to-end."""
    from storm_data_etl_service_spark.functions.enrich import enrich, flatten
    from storm_data_etl_service_spark.sources.storm_fixture import spark_fixture_df

    _run_pipeline(spark, workdir)
    streamed = spark.read.parquet(str(workdir / "out"))
    batch = flatten(
        enrich(
            spark_fixture_df(spark),
            processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"),
        )
    )
    # the stream run covered RAW_ROWS[:16]; align and compare sets
    streamed_rows = {tuple(r) for r in streamed.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert streamed_rows <= batch_rows
    assert len(streamed_rows) == 16


def test_dead_letter_contents(spark, workdir):
    _run_pipeline(spark, workdir)
    dlq = spark.read.parquet(str(workdir / "dlq"))
    rows = dlq.collect()
    assert len(rows) == 1
    assert rows[0]["raw_value"] == "{not valid json"
    assert rows[0]["offset"] == 999


def test_metrics_and_readiness(spark, workdir):
    metrics = _run_pipeline(spark, workdir)
    assert metrics.ready
    assert metrics.batches >= 1
    assert metrics.produced == 16
    # every message read is consumed: produced + poison + the one
    # replay that first-wins dedup dropped
    assert metrics.consumed == metrics.produced + metrics.transform_errors + 1


def test_process_batch_is_single_pass(spark, workdir, monkeypatch):
    """D9 single-pass contract: the poison, valid and produced counts
    all ride the sink write via ``observe`` and the parse is persisted
    — so a micro-batch runs no ``.count()`` action at all.  Guards
    against reintroducing standalone actions that recompute
    parse+enrich+dedup per batch (2-3x waste at backfill batch
    sizes)."""
    # patch the concrete class (pyspark.sql.DataFrame is the abstract
    # base in Spark 4; instances are classic.dataframe.DataFrame)
    from pyspark.sql.classic.dataframe import DataFrame

    counted_plans = []
    orig_count = DataFrame.count

    def spy_count(self):
        counted_plans.append(self.columns)
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", spy_count)
    metrics = _run_pipeline(spark, workdir)
    assert metrics.produced == 16
    assert counted_plans == [], f"unexpected count() on {counted_plans}"


def _py4j_commands(monkeypatch, build) -> int:
    """Py4J commands ``build()`` sends on a warm second pass.  The
    JavaObject releases py4j's finalizer thread sends whenever Python's
    GC runs are not counted: they are not ``build()``'s round trips."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    build()
    sent = 0
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def spy(self, command):
        nonlocal sent
        if threading.get_ident() == caller and not command.startswith(MEMORY_COMMAND_NAME):
            sent += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", spy)
        build()
    return sent


def test_micro_batch_column_trees_are_built_once(spark, monkeypatch):
    """The per-batch functions only apply Column trees built once per
    process, so a warm pass costs a few Py4J commands per DataFrame
    call, not ~8 per ``F.*`` call (a JVM round trip each, with
    call-site capture on)."""
    from storm_data_etl_service_spark.functions.enrich import (
        enrich,
        flatten,
        parse_raw_events,
    )
    from storm_data_etl_service_spark.sources.storm_fixture import spark_fixture_df
    from storm_data_etl_service_spark.streaming.pipeline import (
        dedup_first_wins,
        split_parsed,
    )

    envelopes = spark.createDataFrame(
        [
            (json.dumps(dict(zip(RAW_COLUMNS, r))).encode(), "storm.raw", 0, i, BASE_TS)
            for i, r in enumerate(RAW_ROWS)
        ],
        "value binary, topic string, partition int, offset long, timestamp timestamp",
    )
    frozen = F.lit(FROZEN_CLOCK).cast("timestamp")

    def chain():
        valid, _ = split_parsed(parse_raw_events(envelopes))
        enriched = enrich(valid, processed_at=frozen, passthrough=("kafka_offset",))
        return flatten(dedup_first_wins(enriched))

    enriched = enrich(spark_fixture_df(spark), processed_at=frozen)
    # measured 155 and 8; rebuilding the trees per call sent 2,709 and 3,377
    assert _py4j_commands(monkeypatch, chain) <= 180
    assert _py4j_commands(monkeypatch, lambda: kafka_sink_frame(enriched)) <= 12


def test_restart_is_idempotent(spark, workdir):
    """D3/D8 — restarting over the same checkpoint must not reprocess
    committed batches (offsets advanced past the poison pill too)."""
    _run_pipeline(spark, workdir)
    n_before = spark.read.parquet(str(workdir / "out")).count()
    metrics2 = PipelineMetrics()
    pipe = StormStreamPipeline(
        file_source(spark, str(workdir / "src")),
        sink_writer=parquet_sink(str(workdir / "out")),
        dlq_writer=parquet_dlq(str(workdir / "dlq")),
        metrics=metrics2,
        processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"),
    )
    q = pipe.start(str(workdir / "ckpt"))
    q.awaitTermination(120)
    assert metrics2.produced == 0
    assert spark.read.parquet(str(workdir / "out")).count() == n_before


def test_cross_batch_dedup_within_watermark(spark, workdir):
    """D8 streaming variant: a replay of the same ID in a LATER
    micro-batch (within the watermark) is dropped by the engine's
    dedup state — closing the cross-batch duplicate window the plain
    per-batch dedup leaves to downstream."""
    import os
    import time

    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.streaming.pipeline import (
        dedup_stream_within_watermark,
        split_poison,
    )

    src = workdir / "src"
    src.mkdir(parents=True)
    batch0 = [_envelope(r, i) for i, r in enumerate(RAW_ROWS[:5])]
    batch1 = [_envelope(RAW_ROWS[0], 500)]  # cross-batch replay
    batch1 += [_envelope(r, 501 + i) for i, r in enumerate(RAW_ROWS[5:8])]
    for i, batch in enumerate([batch0, batch1]):
        with open(src / f"batch{i}.json", "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")
    now = time.time()
    os.utime(src / "batch0.json", (now - 60, now - 60))
    os.utime(src / "batch1.json", (now, now))

    raw = spark.readStream.schema(
        "key binary, value binary, headers map<string,string>, topic string,"
        " partition int, offset long, timestamp timestamp"
    ).option("maxFilesPerTrigger", 1).json(str(src))
    valid, _ = split_poison(raw)
    enriched = enrich(valid, processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"))
    deduped = dedup_stream_within_watermark(enriched, delay="2 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("xbatch_dedup")
        .option("checkpointLocation", str(workdir / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r["id"] for r in spark.sql("SELECT id FROM xbatch_dedup").collect()]
    assert len(ids) == 8  # 9 inputs, 1 cross-batch duplicate dropped
    assert len(set(ids)) == 8


def test_retry_with_backoff_delays_and_recovers():
    """D4 — 200ms -> x2 -> 5s cap; reset on success; raises after
    exhaustion (reference pipeline.go:68-71, 164-173)."""
    from storm_data_etl_service_spark.streaming.pipeline import retry_with_backoff

    sleeps = []
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 4:
            raise RuntimeError("transient")
        return "ok"

    wrapped = retry_with_backoff(flaky, sleep=sleeps.append)
    assert wrapped() == "ok"
    assert sleeps == [0.2, 0.4, 0.8]

    def always_fails():
        raise RuntimeError("permanent")

    sleeps.clear()
    with pytest.raises(RuntimeError, match="permanent"):
        retry_with_backoff(always_fails, max_attempts=7, sleep=sleeps.append)()
    # doubling caps at 5s
    assert sleeps == [0.2, 0.4, 0.8, 1.6, 3.2, 5.0]


def test_graceful_shutdown_drains(spark, workdir):
    """D7 — stop() returns after the in-flight batch drains."""
    from storm_data_etl_service_spark.streaming.pipeline import stop_gracefully

    src = workdir / "src"
    _write_stream_files(src)
    pipe = StormStreamPipeline(
        file_source(spark, str(src)),
        sink_writer=parquet_sink(str(workdir / "out")),
        processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"),
    )
    q = pipe.start(str(workdir / "ckpt"), trigger={"processingTime": "1 second"})
    q.awaitTermination(5)  # let at least one batch run
    assert stop_gracefully(q, timeout_ms=30_000)
    assert not q.isActive


def test_kafka_sink_frame_shape(spark):
    """S3/S5 — wire shape: binary key=id, JSON value with omitempty,
    event_type/processed_at headers."""
    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.sources.storm_fixture import spark_fixture_df

    enriched = enrich(
        spark_fixture_df(spark), processed_at=F.lit(FROZEN_CLOCK).cast("timestamp")
    )
    frame = kafka_sink_frame(enriched)
    assert [f.name for f in frame.schema.fields] == ["key", "value", "headers"]
    row = frame.filter(
        F.col("key").cast("string") == "hail-5d91dda0f56ba124"
    ).first()
    payload = json.loads(row["value"])
    assert payload["event_type"] == "hail"
    assert payload["measurement"]["severity"] == "moderate"
    # null distance/direction are dropped (Go omitempty), empty strings kept
    unk = json.loads(
        frame.filter(F.col("key").cast("string").startswith("tornado-")).first()["value"]
    )
    hdrs = {h["key"]: bytes(h["value"]).decode() for h in row["headers"]}
    assert hdrs["event_type"] == "hail"
    assert hdrs["processed_at"].startswith("2024-04-27T06:00:00")


def test_stream_stream_interval_join_matches_batch(spark, workdir):
    """Stream-stream interval join (watermarked, state-bounded) must
    produce exactly the pairs the equivalent batch join produces over
    the same files."""
    from storm_data_etl_service_spark.streaming.windows import interval_join_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    rows = []
    base = "2026-01-01T00:{m:02d}:00"
    for i, (m, u, et) in enumerate(
        [(0, 1, "view"), (2, 1, "click"), (9, 1, "click"),   # 1 in-window pair
         (0, 2, "view"), (4, 2, "click"), (5, 2, "click"),   # 2 in-window pairs
         (0, 3, "click"), (30, 3, "view")]                   # nothing (wrong order)
    ):
        rows.append({"event_id": i, "ts": base.format(m=m), "user_id": u,
                     "event_type": et})
    src = workdir / "ev"
    src.mkdir(parents=True)
    with open(src / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    def streams():
        ev = spark.readStream.schema(schema).json(str(src))
        return (ev.filter(F.col("event_type") == "view"),
                ev.filter(F.col("event_type") == "click"))

    views, clicks = streams()
    q = (
        interval_join_stream(views, clicks)
        .writeStream.format("memory")
        .queryName("ssj_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(workdir / "ckpt_ssj"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["id_left"], r["id_right"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }

    ev_batch = spark.read.schema(schema).json(str(src))
    vb = ev_batch.filter(F.col("event_type") == "view").alias("l")
    cb = ev_batch.filter(F.col("event_type") == "click").alias("r")
    want = {
        (r["user_id"], r["id_left"], r["id_right"])
        for r in vb.join(
            cb,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") > F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("id_left"),
            F.col("r.event_id").alias("id_right"),
        )
        .collect()
    }
    assert got == want == {(1, 0, 1), (2, 3, 4), (2, 3, 5)}


def test_stream_static_join_enriches_every_row(spark, workdir):
    from storm_data_etl_service_spark.streaming.windows import enrich_stream_with_dim

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    src = workdir / "ev2"
    src.mkdir(parents=True)
    with open(src / "events.json", "w") as f:
        for i, et in enumerate(["view", "click", "view", "purchase"]):
            f.write(json.dumps({"event_id": i, "ts": "2026-01-01T00:00:00",
                                "user_id": 1, "event_type": et}) + "\n")
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 5.0), ("purchase", 50.0)],
        "event_type string, weight double",
    )
    q = (
        enrich_stream_with_dim(spark.readStream.schema(schema).json(str(src)), dim)
        .writeStream.format("memory")
        .queryName("ssd_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(workdir / "ckpt_ssd"))
        .start()
    )
    q.awaitTermination(60)
    got = {(r["event_id"], r["weight"]) for r in spark.sql("SELECT * FROM ssd_out").collect()}
    assert got == {(0, 1.0), (1, 5.0), (2, 1.0), (3, 50.0)}


def test_streaming_window_topk_matches_batch(spark, workdir):
    """Windowed top-k leaderboard: streaming counts (complete mode) +
    foreachBatch ranking must equal the batch window-rank over the
    same files."""
    from storm_data_etl_service_spark.streaming.windows import (
        rank_window_topk,
        window_topk_counts_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    rows = []
    i = 0
    for h, counts in [(0, {"view": 5, "click": 3, "error": 1}),
                      (1, {"click": 4, "view": 2, "purchase": 2, "signup": 1})]:
        for et, n in counts.items():
            for j in range(n):
                rows.append({"event_id": i, "ts": f"2026-01-01T{h:02d}:{j:02d}:30",
                             "user_id": j, "event_type": et})
                i += 1
    src = workdir / "topk_ev"
    src.mkdir(parents=True)
    with open(src / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    ranked_batches = {}

    def sink(batch_df, epoch_id):
        for r in rank_window_topk(batch_df).collect():
            ranked_batches[(r["bucket_start"], r["rk"])] = (r["event_type"], r["n"])

    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        window_topk_counts_stream(stream)
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(workdir / "ckpt_topk"))
        .start()
    )
    q.awaitTermination(120)

    batch = spark.read.schema(schema).json(str(src))
    want_counts = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n")
    )
    want = {
        (r["bucket_start"], r["rk"]): (r["event_type"], r["n"])
        for r in rank_window_topk(want_counts).collect()
    }
    assert ranked_batches == want
    # leaderboard shape: 3 ranks for each of the 2 hourly windows
    assert len(want) == 6 and all(rk <= 3 for (_, rk) in want)


def test_streaming_drift_monitor_matches_batch(spark, workdir):
    """Streaming windowed counts + foreachBatch chi2-vs-baseline must
    equal the batch computation over the same files, and a window
    whose distribution matches the baseline must score ~0 while a
    skewed window scores higher."""
    from storm_data_etl_service_spark.streaming.windows import (
        drift_against_baseline,
        window_topk_counts_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    rows, i = [], 0
    # hour 0 matches the 50/50 baseline; hour 1 is heavily skewed
    for h, counts in [(0, {"view": 5, "click": 5}),
                      (1, {"view": 9, "click": 1})]:
        for et, n in counts.items():
            for j in range(n):
                rows.append({"event_id": i, "ts": f"2026-01-01T{h:02d}:{j:02d}:00",
                             "user_id": j, "event_type": et})
                i += 1
    src = workdir / "drift_ev"
    src.mkdir(parents=True)
    with open(src / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    baseline = spark.createDataFrame(
        [("view", 0.5), ("click", 0.5)], "event_type string, base_share double"
    )
    got = {}

    def sink(batch_df, epoch_id):
        for r in drift_against_baseline(batch_df, baseline).collect():
            got[r["bucket_start"]] = (r["n_types"], r["chi2"])

    q = (
        window_topk_counts_stream(
            spark.readStream.schema(schema).json(str(src))
        )
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(workdir / "ckpt_drift"))
        .start()
    )
    q.awaitTermination(120)

    batch = spark.read.schema(schema).json(str(src))
    batch_counts = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n")
    )
    want = {
        r["bucket_start"]: (r["n_types"], r["chi2"])
        for r in drift_against_baseline(batch_counts, baseline).collect()
    }
    assert got == want and len(got) == 2
    (calm, skewed) = sorted(got)  # hour 0, hour 1
    assert got[calm][1] < 1e-9 < got[skewed][1]


def test_storm_replay_stream_source_resumes_without_duplicates(spark):
    """Spark-4 streaming Python DataSource: offset WAL planning,
    row-range partitions, and restart-from-checkpoint producing zero
    duplicates (idempotent replay, D3/D8)."""
    import shutil
    import tempfile
    from pathlib import Path

    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.sources.storm_replay import (
        StormReplayDataSource,
        synth_record,
    )

    spark.dataSource.register(StormReplayDataSource)
    wd = Path(tempfile.mkdtemp(prefix="replay_"))
    try:
        raw = (
            spark.readStream.format("storm_replay")
            .option("rows_per_partition", 25)
            .option("total_rows", 100)
            .load()
        )

        def run():
            q = (
                raw.writeStream.format("parquet")
                .option("path", str(wd / "out"))
                .option("checkpointLocation", str(wd / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return spark.read.parquet(str(wd / "out"))

        first = run()
        assert first.count() == 100
        # restart against the same checkpoint: no re-read, no dupes
        again = run()
        assert again.count() == 100
        assert again.select("Comments").distinct().count() == 100

        # records are the deterministic pure function of the index
        got = {r["Comments"]: r for r in again.collect()}
        expect = dict(zip(
            ("Time Size F_Scale Speed Location County State Lat Lon "
             "Comments EventType").split(), synth_record(7)))
        assert got[expect["Comments"]]["Time"] == expect["Time"]
        assert got[expect["Comments"]]["EventType"] == expect["EventType"]

        # the replayed raw records enrich cleanly (full P1-P14 chain)
        from pyspark.sql import functions as F
        enriched = enrich(
            again.withColumn(
                "kafka_timestamp",
                F.lit("2024-04-26T00:00:00Z").cast("timestamp"),
            )
        )
        assert enriched.filter(F.col("id") == "").count() == 0
        assert enriched.select("event_type").distinct().count() == 3
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, workdir
):
    """LEFT OUTER stream-stream join: matched pairs join normally;
    a never-matched left row emits with null right columns once the
    watermark closes its match window."""
    import os
    import time

    from storm_data_etl_service_spark.streaming.windows import (
        interval_left_join_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    src = workdir / "loj"
    src.mkdir(parents=True)
    b0 = [
        {"event_id": 0, "ts": "2026-01-01T00:00:00", "user_id": 1, "event_type": "view"},
        {"event_id": 1, "ts": "2026-01-01T00:02:00", "user_id": 1, "event_type": "click"},
        {"event_id": 2, "ts": "2026-01-01T00:00:00", "user_id": 4, "event_type": "view"},
    ]
    # far-future rows drive the watermark past user 4's match window;
    # BOTH branches need fresh events (global watermark = min over the
    # two watermark nodes), and the FOLLOWING batch carries the
    # evicted unmatched row out
    b1 = [{"event_id": 8, "ts": "2026-01-01T02:00:00", "user_id": 9,
           "event_type": "view"},
          {"event_id": 9, "ts": "2026-01-01T02:00:30", "user_id": 9,
           "event_type": "click"}]
    b2 = [{"event_id": 10, "ts": "2026-01-01T02:01:00", "user_id": 9,
           "event_type": "view"},
          {"event_id": 11, "ts": "2026-01-01T02:01:30", "user_id": 9,
           "event_type": "click"}]
    for name, batch in (("b0.json", b0), ("b1.json", b1), ("b2.json", b2)):
        with open(src / name, "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    now = time.time()
    os.utime(src / "b0.json", (now - 120, now - 120))
    os.utime(src / "b1.json", (now - 60, now - 60))
    os.utime(src / "b2.json", (now, now))

    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        interval_left_join_stream(
            ev.filter(F.col("event_type") == "view"),
            ev.filter(F.col("event_type") == "click"),
        )
        .writeStream.format("memory")
        .queryName("loj_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(workdir / "ckpt_loj"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM loj_out").collect()
    got = {(r["user_id"], r["id_left"], r["id_right"]) for r in rows}
    assert (1, 0, 1) in got  # matched pair
    assert (4, 2, None) in got  # unmatched view surfaced with nulls
    assert all(r["ts_right"] is None for r in rows if r["id_right"] is None)


def test_state_store_reader_exposes_aggregation_state(spark, workdir):
    """The statestore/state-metadata sources must surface the exact
    per-key state a streaming aggregation is holding — checkpoint
    debugging without touching the query."""
    from storm_data_etl_service_spark.streaming.state_tools import (
        read_state_keys,
        state_store_summary,
    )

    src = workdir / "ss_src"
    src.mkdir(parents=True)
    (src / "b0.json").write_text(
        "\n".join(
            json.dumps({"user_id": u, "v": v})
            for u, v in [(1, 2.0), (1, 3.0), (2, 5.0), (3, 1.5)]
        )
    )
    ck = str(workdir / "ss_ck")
    stream = spark.readStream.schema("user_id long, v double").json(str(src))
    q = (
        stream.groupBy("user_id")
        .agg(F.sum("v").alias("total"))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ss_probe")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    state = {
        r["key"]["user_id"]: r["value"][0]  # value-struct fields are
        for r in read_state_keys(spark, ck).collect()  # engine-named
    }
    assert state == {1: 5.0, 2: 5.0, 3: 1.5}

    summary = state_store_summary(spark, ck).collect()
    assert len(summary) == 1
    assert summary[0]["operatorName"] == "stateStoreSave"
    assert summary[0]["n_state_rows"] == 3


def test_streaming_enrichment_throughput_beats_reference(spark, workdir):
    """BASELINE.md sanity target, demonstrated live: the reference
    sustains ~11-100 msg/s single-instance; the Spark streaming path
    (replay source → full P1-P14 enrichment → sink) must clear 1,000
    records/s end-to-end even on the test harness."""
    import time

    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.sources.storm_replay import (
        StormReplayDataSource,
    )

    spark.dataSource.register(StormReplayDataSource)
    n_rows = 20_000
    raw = (
        spark.readStream.format("storm_replay")
        .option("rows_per_partition", 2500)
        .option("total_rows", n_rows)
        .load()
        .withColumn(
            "kafka_timestamp", F.lit("2024-04-26T00:00:00Z").cast("timestamp")
        )
    )
    t0 = time.perf_counter()
    q = (
        enrich(raw)
        .writeStream.format("parquet")
        .option("path", str(workdir / "tp_out"))
        .option("checkpointLocation", str(workdir / "tp_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    elapsed = time.perf_counter() - t0
    out = spark.read.parquet(str(workdir / "tp_out"))
    assert out.count() == n_rows
    rate = n_rows / elapsed
    assert rate > 1_000, f"only {rate:.0f} records/s"


def test_streaming_incremental_dedup_matches_across_batches(spark, workdir):
    """foreachBatch LSH-index dedup: batch N's documents must match
    near-duplicates from batches < N (and not themselves), and the
    persisted index must accumulate every batch's band keys."""
    from storm_data_etl_service_spark.streaming.pipeline import (
        incremental_dedup_batch_fn,
    )

    import os
    import time

    src = workdir / "docs_src"
    src.mkdir(parents=True)
    base = (
        "spark shuffles the fact table once on its natural key while "
        "dimension tables broadcast to every executor in the cluster"
    )
    variant = base.replace("cluster", "fleet")  # high-Jaccard near-dup
    b0 = [{"doc_id": 1, "text": base},
          {"doc_id": 2, "text": "a completely different document "
                                "about storm report enrichment chains"}]
    b1 = [{"doc_id": 11, "text": variant},
          {"doc_id": 12, "text": "yet another unrelated text with no "
                                 "overlap in its shingle space at all"},
          # near-dup of doc 11 INSIDE the same micro-batch
          {"doc_id": 13, "text": variant.replace("executor", "worker")}]
    for name, batch in (("b0.json", b0), ("b1.json", b1)):
        with open(src / name, "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    now = time.time()
    os.utime(src / "b0.json", (now - 60, now - 60))
    os.utime(src / "b1.json", (now, now))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            incremental_dedup_batch_fn(
                str(workdir / "lsh_index"), str(workdir / "matches")
            )
        )
        .option("checkpointLocation", str(workdir / "dedup_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    matches = {
        (r["doc_id"], r["matched_doc_id"])
        for r in spark.read.parquet(str(workdir / "matches")).collect()
    }
    assert (11, 1) in matches  # batch-1 doc caught against batch-0 index
    assert (13, 11) in matches  # caught WITHIN one micro-batch
    assert all(d != m for d, m in matches)
    index = spark.read.parquet(str(workdir / "lsh_index"))
    assert set(r["doc_id"] for r in index.select("doc_id").distinct().collect()) \
        == {1, 2, 11, 12, 13}


def test_incremental_dedup_replay_is_stable(spark, workdir):
    """A checkpoint retry re-runs a batch after its index write
    committed: the replay must rewrite the same matches, not match the
    batch against its own band keys (which would flag the canonical
    first copy as a duplicate of the later one)."""
    from storm_data_etl_service_spark.streaming.pipeline import (
        incremental_dedup_batch_fn,
    )

    text = "the storm report crossed three counties before the river crest"
    kernel = incremental_dedup_batch_fn(
        str(workdir / "lsh_index"), str(workdir / "matches")
    )

    def run(rows, batch_id):
        kernel(spark.createDataFrame(rows, "doc_id long, text string"), batch_id)
        return {
            (r["doc_id"], r["matched_doc_id"])
            for r in spark.read.parquet(str(workdir / "matches")).collect()
        }

    batch0 = [(1, text), (2, text), (3, "an unrelated note about hail size bins")]
    first = run(batch0, 0)
    assert first == {(2, 1)}
    assert run(batch0, 0) == first  # the replay
    # a later batch still probes batch 0's index
    assert run([(11, text)], 1) == first | {(11, 1), (11, 2)}


def test_late_rows_dropped_by_watermark_are_counted(spark, workdir):
    """A row older than the watermark must be dropped from a closed
    window AND show up in progress_state_report's late counter."""
    import os
    import time

    from storm_data_etl_service_spark.streaming.state_tools import (
        progress_state_report,
    )

    src = workdir / "late_src"
    src.mkdir(parents=True)
    b0 = [
        {"event_id": 1, "ts": "2026-01-01T00:01:00", "user_id": 1, "event_type": "view"},
        {"event_id": 2, "ts": "2026-01-01T03:00:00", "user_id": 2, "event_type": "view"},
    ]
    # b1 advances the watermark to 02:00 → the 00:00 window EMITS and
    # its state evicts; only then (b2) is a 00:02 row truly late —
    # a late row whose window is still in state merges instead
    # (semantics encoded here on purpose)
    b1 = [
        {"event_id": 3, "ts": "2026-01-01T03:10:00", "user_id": 3, "event_type": "view"},
    ]
    b2 = [
        {"event_id": 4, "ts": "2026-01-01T00:02:00", "user_id": 4, "event_type": "view"},
        {"event_id": 5, "ts": "2026-01-01T03:20:00", "user_id": 5, "event_type": "view"},
    ]
    for name, batch in (("b0.json", b0), ("b1.json", b1), ("b2.json", b2)):
        with open(src / name, "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    now = time.time()
    os.utime(src / "b0.json", (now - 120, now - 120))
    os.utime(src / "b1.json", (now - 60, now - 60))
    os.utime(src / "b2.json", (now, now))

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    counts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_agg")
        .option("checkpointLocation", str(workdir / "late_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    report = progress_state_report(q)
    assert sum(r["n_dropped_late"] or 0 for r in report) >= 1, report
    # the late row must NOT have re-opened the 00:00 window
    emitted = spark.sql("SELECT * FROM late_agg").collect()
    first_window = [r for r in emitted if r["window"].start.minute == 0
                    and r["window"].start.hour == 0]
    assert all(r["n"] == 1 for r in first_window)


def test_streaming_bloom_gate_flags_across_batches(spark, workdir):
    """foreachBatch Bloom gate: batch N must bloom_hit content seen in
    batches < N, catch exact dups inside one micro-batch via
    dup_of_in_batch, and never flag genuinely fresh content (k-bit
    collision odds are negligible at these fill levels)."""
    import os
    import time

    from storm_data_etl_service_spark.streaming.pipeline import bloom_gate_batch_fn

    src = workdir / "bloom_src"
    src.mkdir(parents=True)
    b0 = [{"doc_id": 1, "text": "the original corpus document body"},
          {"doc_id": 2, "text": "a second distinct corpus document"}]
    b1 = [{"doc_id": 11, "text": "the original corpus document body"},  # replay
          {"doc_id": 12, "text": "entirely new content in batch one"},
          {"doc_id": 13, "text": "entirely new content in batch one"}]  # in-batch dup
    for name, batch in (("b0.json", b0), ("b1.json", b1)):
        with open(src / name, "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    now = time.time()
    os.utime(src / "b0.json", (now - 60, now - 60))
    os.utime(src / "b1.json", (now, now))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            bloom_gate_batch_fn(str(workdir / "bloom_bits"), str(workdir / "verdicts"))
        )
        .option("checkpointLocation", str(workdir / "bloom_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    v = {r["doc_id"]: r for r in spark.read.parquet(str(workdir / "verdicts")).collect()}
    assert set(v) == {1, 2, 11, 12, 13}
    assert not v[1]["bloom_hit"] and not v[2]["bloom_hit"]  # empty index at batch 0
    assert v[11]["bloom_hit"]                # replayed content caught
    assert not v[12]["bloom_hit"]           # fresh content passes
    assert v[13]["dup_of_in_batch"] == 12   # caught WITHIN one micro-batch
    assert v[11]["dup_of_in_batch"] is None
    # the durable bit set holds exactly the distinct content bits so far
    from storm_data_etl_service_spark.operators.dedup import BLOOM_HASHES

    n_bits = spark.read.parquet(str(workdir / "bloom_bits")).select("bit").distinct().count()
    assert 0 < n_bits <= BLOOM_HASHES * 4  # 4 distinct texts

    # checkpoint-retry REPLAY STABILITY: re-running a batch (same
    # batch_id) after BOTH its verdict and bits writes committed (the
    # worst case: only the checkpoint commit failed) must rewrite
    # byte-identical verdicts — in particular batch 1's first-seen
    # docs (12) must NOT flip to bloom_hit=true from the batch seeing
    # the bits it appended itself on the previous attempt.
    before = sorted(
        spark.read.parquet(str(workdir / "verdicts")).collect(),
        key=lambda r: r["doc_id"],
    )
    replay = spark.createDataFrame(
        [(11, "the original corpus document body"),
         (12, "entirely new content in batch one"),
         (13, "entirely new content in batch one")],
        "doc_id long, text string",
    )
    bloom_gate_batch_fn(str(workdir / "bloom_bits"), str(workdir / "verdicts"))(
        replay, 1
    )
    after_df = spark.read.parquet(str(workdir / "verdicts"))
    after = sorted(after_df.collect(), key=lambda r: r["doc_id"])
    assert len(after) == 5  # still one verdict per doc, no dups
    assert after_df.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert [r.asDict() for r in after] == [r.asDict() for r in before]
    # and the bit index itself is replay-stable (overwritten, not grown)
    n_bits_after = (
        spark.read.parquet(str(workdir / "bloom_bits")).select("bit").distinct().count()
    )
    assert n_bits_after == n_bits


def test_bloom_gate_hits_a_doc_replayed_within_a_batch(spark, workdir):
    """A doc_id carried twice by one micro-batch makes 2·k probe rows;
    its already-seen content must still read ``bloom_hit``."""
    from storm_data_etl_service_spark.streaming.pipeline import bloom_gate_batch_fn

    text = "the original corpus document body"
    gate = bloom_gate_batch_fn(str(workdir / "bloom_bits"), str(workdir / "verdicts"))
    gate(spark.createDataFrame([(1, text)], "doc_id long, text string"), 0)
    gate(spark.createDataFrame([(5, text), (5, text), (6, text)], "doc_id long, text string"), 1)
    hits = {
        r["doc_id"]: r["bloom_hit"]
        for r in spark.read.parquet(str(workdir / "verdicts")).collect()
    }
    assert hits == {1: False, 5: True, 6: True}



def test_stream_gates_match_registry_entries(spark, sf_dir, workdir):
    """Fed as two micro-batches split at the registry's id boundary
    (ids below t0, then the rest), each streaming kernel's second batch
    reproduces its registry entry: the LSH kernel's matches equal
    ``dedup_incremental_minhash`` row for row, and the Bloom gate's
    ``bloom_hit`` per document equals ``bloom_dedup_report``'s.  One
    above-split document is planted as an exact copy of a below-split
    text, so both gates see a true hit."""
    import math

    from storm_data_etl_service_spark.operators.dedup import (
        BLOOM_BITS,
        INCREMENTAL_SPLIT,
        bloom_dedup_report,
        dedup_incremental_minhash,
    )
    from storm_data_etl_service_spark.schemas import load_tables
    from storm_data_etl_service_spark.streaming.pipeline import (
        bloom_gate_batch_fn,
        incremental_dedup_batch_fn,
    )

    rows = sorted(
        tuple(r)
        for r in load_tables(spark, sf_dir)["documents"].select("doc_id", "text").collect()
    )
    t0 = math.floor((rows[-1][0] + 1) * INCREMENTAL_SPLIT)
    rows[-1] = (rows[-1][0], rows[0][1])  # plant: the last doc copies the first
    assert rows[0][0] < t0 <= rows[-1][0]
    schema = "doc_id long, text string"
    t = {"documents": spark.createDataFrame(rows, schema)}
    batches = [
        spark.createDataFrame([r for r in rows if r[0] < t0], schema),
        spark.createDataFrame([r for r in rows if r[0] >= t0], schema),
    ]

    lsh = incremental_dedup_batch_fn(str(workdir / "index"), str(workdir / "matches"))
    bloom = bloom_gate_batch_fn(str(workdir / "bits"), str(workdir / "verdicts"))
    for batch_id, batch in enumerate(batches):
        lsh(batch, batch_id)
        bloom(batch, batch_id)

    def second_batch(name, cols):
        df = spark.read.parquet(str(workdir / name)).filter(F.col("batch_id") == 1)
        return sorted(tuple(r) for r in df.select(*cols).collect())

    matches = second_batch("matches", ["doc_id", "matched_doc_id"])
    assert matches == sorted(tuple(r) for r in dedup_incremental_minhash(t).collect())
    assert (rows[-1][0], rows[0][0]) in matches

    hits = second_batch("verdicts", ["doc_id", "bloom_hit"])
    want = bloom_dedup_report(t, m=BLOOM_BITS).select("doc_id", "bloom_hit")
    assert hits == sorted(tuple(r) for r in want.collect())
    assert (rows[-1][0], True) in hits

def test_batch_kernels_release_their_cached_relations(spark, workdir, monkeypatch):
    """Every relation a foreachBatch kernel persists is unpersisted
    before the batch returns: over three file-source micro-batches of
    ``_process_batch``, ``incremental_dedup_batch_fn`` and
    ``bloom_gate_batch_fn``, each frame persisted in a batch reports
    no storage level at its end, and the context's persisted-RDD count
    holds no RDD the batch left persisted."""
    import os
    import time

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.storagelevel import StorageLevel

    from storm_data_etl_service_spark.schemas import RAW_EVENT_SCHEMA
    from storm_data_etl_service_spark.streaming.pipeline import (
        bloom_gate_batch_fn,
        incremental_dedup_batch_fn,
    )

    persisted = []
    orig_persist = DataFrame.persist

    def spy_persist(self, *args, **kwargs):
        persisted.append(self)
        return orig_persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", spy_persist)
    jsc = spark.sparkContext._jsc

    def persistent_rdds():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    def run(name, schema, batches, kernel):
        src = workdir / f"{name}_src"
        src.mkdir(parents=True)
        now = time.time()
        for i, batch in enumerate(batches):
            path = src / f"b{i}.json"
            with open(path, "w") as f:
                for rec in batch:
                    f.write(json.dumps(rec) + "\n")
            os.utime(path, (now - 60 + i, now - 60 + i))
        seen = []

        def checked(batch_df, batch_id):
            rdds, first = persistent_rdds(), len(persisted)
            kernel(batch_df, batch_id)
            mine = persisted[first:]
            seen.append(
                (
                    len(mine),
                    persistent_rdds() - rdds,
                    [df.storageLevel == StorageLevel.NONE for df in mine],
                )
            )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(checked)
            .option("checkpointLocation", str(workdir / f"{name}_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(seen) == len(batches), (name, seen)
        for n_persisted, left_rdds, released in seen:
            assert n_persisted >= 1, (name, seen)
            assert not left_rdds and all(released), (name, seen)

    events = [_envelope(r, i) for i, r in enumerate(RAW_ROWS[:12])]
    pipe = StormStreamPipeline(
        None,
        sink_writer=parquet_sink(str(workdir / "out")),
        dlq_writer=parquet_dlq(str(workdir / "dlq")),
        processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"),
    )
    run("events", RAW_EVENT_SCHEMA, [events[:4], events[4:8], events[8:]],
        pipe._process_batch)
    docs = [
        [{"doc_id": 10 * b + i, "text": f"storm report {b} body {i} " * 4}
         for i in range(3)]
        for b in range(3)
    ]
    run("lsh", "doc_id long, text string", docs, incremental_dedup_batch_fn(
        str(workdir / "lsh_index"), str(workdir / "matches")))
    run("bloom", "doc_id long, text string", docs, bloom_gate_batch_fn(
        str(workdir / "bloom_bits"), str(workdir / "verdicts")))
