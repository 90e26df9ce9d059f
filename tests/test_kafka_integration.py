"""Real-broker Kafka end-to-end smoke test (S1/S3) — the Spark twin
of reference internal/integration/kafka_pipeline_test.go:158-362
(TestPipelineEndToEnd + TestPipelineTransformError): the 271-record
fixture through source → enrich → sink on a LIVE broker, per-type
counts 79/149/43, golden hail + tornado spot checks, poison-pill skip.

Gated on ``KAFKA_BOOTSTRAP`` (e.g. ``localhost:9092``) because no
broker exists in the build sandbox — skips cleanly when unset.  Run:

    # 1. a broker (any Kafka >= 2.8; docker example)
    docker run -d -p 9092:9092 apache/kafka:3.7.0
    # 2. the Spark Kafka connector on the classpath
    export PYSPARK_SUBMIT_ARGS="--packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0 pyspark-shell"
    # 3. the test
    KAFKA_BOOTSTRAP=localhost:9092 python -m pytest tests/test_kafka_integration.py -v

Topics ``storm.raw.smoke`` / ``storm.enriched.smoke`` are written with
unique per-run suffixes so reruns never cross-contaminate.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")
REF_FIXTURE = "/root/reference/data/mock/storm_reports_240426_combined.json"

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="KAFKA_BOOTSTRAP not set — real-broker smoke test needs a live Kafka",
)


@pytest.fixture(scope="module")
def topics():
    run_id = uuid.uuid4().hex[:8]
    return f"storm.raw.smoke.{run_id}", f"storm.enriched.smoke.{run_id}"


def _load_fixture_records():
    with open(REF_FIXTURE) as f:
        return json.load(f)


def test_kafka_pipeline_end_to_end(spark, topics, tmp_path):
    """271 fixture records + 1 poison pill through the real pipeline:
    batch-produce to the source topic, run the streaming pipeline
    (kafka_source → enrich → kafka sink frame), consume the sink topic
    and assert the reference's own integration matrix."""
    from storm_data_etl_service_spark.config import Config
    from storm_data_etl_service_spark.sources.storm_fixture import FROZEN_CLOCK
    from storm_data_etl_service_spark.streaming.pipeline import (
        PipelineMetrics,
        StormStreamPipeline,
        kafka_sink_frame,
        kafka_source,
    )

    src_topic, sink_topic = topics
    records = _load_fixture_records()

    # -- produce: 271 raw records + 1 poison pill (Spark batch Kafka write,
    #    the S3 direction of the connector)
    payloads = [(f"record-{i}", json.dumps(r)) for i, r in enumerate(records)]
    payloads.append(("poison", "{not valid json"))
    (
        spark.createDataFrame(payloads, "key string, value string")
        .select(F.col("key").cast("binary"), F.col("value").cast("binary"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", src_topic)
        .save()
    )

    # -- run: the same StormStreamPipeline the file-source tests drive,
    #    now on the real S1 source and S3 sink
    metrics = PipelineMetrics()

    def sink(df, batch_id):
        (
            kafka_sink_frame(df)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", BOOTSTRAP)
            .option("topic", sink_topic)
            .option("includeHeaders", "true")
            .save()
        )

    pipe = StormStreamPipeline(
        kafka_source(
            spark,
            Config.load(
                {
                    "KAFKA_BROKERS": BOOTSTRAP,
                    "KAFKA_SOURCE_TOPIC": src_topic,
                    "BATCH_SIZE": "500",
                }
            ).kafka_source_options(),
        ),
        sink_writer=sink,
        dlq_writer=None,
        metrics=metrics,
        processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"),
    )
    q = pipe.start(str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert metrics.produced == 271
    assert metrics.transform_errors == 1  # poison pill skipped, not fatal
    assert metrics.ready

    # -- consume: read the sink topic back (batch) and verify
    sunk = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", sink_topic)
        .option("startingOffsets", "earliest")
        .option("includeHeaders", "true")
        .load()
    )
    rows = sunk.select(
        F.col("key").cast("string").alias("id"),
        F.col("value").cast("string").alias("wire"),
        "headers",
    ).collect()
    assert len(rows) == 271

    events = [json.loads(r["wire"]) for r in rows]
    counts: dict[str, int] = {}
    for ev, r in zip(events, rows):
        counts[ev["event_type"]] = counts.get(ev["event_type"], 0) + 1
        hdrs = {h["key"]: bytes(h["value"]).decode() for h in r["headers"]}
        assert hdrs["event_type"] == ev["event_type"]
        assert "processed_at" in hdrs
        assert "time_bucket" in ev  # never zero-valued
        assert r["id"] == ev["id"]  # message key is the deterministic id
        assert '"comments":""' not in r["wire"]  # omitempty byte contract
    assert counts == {"hail": 79, "tornado": 149, "wind": 43}

    # golden hail: 8 ESE Chappel, San Saba TX (1.25" hail)
    golden = [
        e for e in events
        if e["event_type"] == "hail"
        and e["measurement"]["magnitude"] == 1.25
        and e["location"].get("county") == "San Saba"
    ]
    assert len(golden) == 1
    g = golden[0]
    assert g["location"]["name"] == "Chappel"
    assert g["location"]["direction"] == "ESE"
    assert g["location"]["distance"] == 8.0
    assert g["source_office"] == "SJT"
    assert g["measurement"]["severity"] == "moderate"
    # Spark's Kafka sink cannot set message timestamps, so the HHMM
    # parse bases on broker ingestion DATE; the hour semantics (15:00
    # bucket from the "1510" raw time) are date-independent
    assert g["time_bucket"].endswith("T15:00:00Z")

    # golden tornado: Mcalester, Pittsburg OK
    tornado = [
        e for e in events
        if e["event_type"] == "tornado"
        and e["location"].get("state") == "OK"
        and e["location"].get("county") == "Pittsburg"
    ]
    assert tornado and tornado[0]["location"]["name"] == "Mcalester"
    assert tornado[0]["source_office"] == "TSA"
    assert tornado[0]["time_bucket"].endswith("T12:00:00Z")
