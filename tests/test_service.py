"""Service-surface tests: HTTP health/readiness/metrics endpoints and
the wired file-based service pipeline (the cmd/etl equivalent)."""

from __future__ import annotations

import json
import shutil
import tempfile
import urllib.request
from pathlib import Path

import pytest

from storm_data_etl_service_spark.config import Config
from storm_data_etl_service_spark.service import build_pipeline
from storm_data_etl_service_spark.streaming.http_health import (
    render_metrics,
    start_health_server,
)
from storm_data_etl_service_spark.streaming.pipeline import PipelineMetrics


@pytest.fixture()
def workdir():
    d = Path(tempfile.mkdtemp(prefix="storm_service_"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as resp:
        return resp.status, resp.read().decode()


def test_health_endpoints_lifecycle():
    metrics = PipelineMetrics()
    server = start_health_server(metrics, addr="127.0.0.1:0")
    port = server.server_address[1]
    try:
        assert _get(port, "/healthz") == (200, "ok\n")
        # not ready before the first batch -> 503 (reference server.go:34-36)
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(port, "/readyz")
        assert e.value.code == 503
        metrics.record_batch(consumed=5, produced=4, errors=1)
        assert _get(port, "/readyz")[0] == 200
        status, body = _get(port, "/metrics")
        assert status == 200
        assert "storm_etl_messages_consumed_total 5" in body
        assert "storm_etl_transform_errors_total 1" in body
        assert "storm_etl_running 1" in body
        with pytest.raises(urllib.error.HTTPError) as e404:
            _get(port, "/nope")
        assert e404.value.code == 404
    finally:
        server.shutdown()


def test_render_metrics_names():
    text = render_metrics(PipelineMetrics())
    for name in [
        "storm_etl_messages_consumed_total",
        "storm_etl_messages_produced_total",
        "storm_etl_transform_errors_total",
        "storm_etl_running",
    ]:
        assert name in text


def _run_file_pipeline(spark, workdir):
    """build_pipeline over a file source of 8 fixture records, run to
    completion."""
    from storm_data_etl_service_spark.sources.storm_fixture import (
        BASE_TS,
        RAW_COLUMNS,
        RAW_ROWS,
    )
    import base64

    src = workdir / "src"
    src.mkdir()
    recs = [
        {
            "value": base64.b64encode(
                json.dumps(dict(zip(RAW_COLUMNS, r))).encode()
            ).decode(),
            "topic": "t",
            "partition": 0,
            "offset": i,
            "timestamp": BASE_TS.isoformat(),
        }
        for i, r in enumerate(RAW_ROWS[:8])
    ]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in recs))

    cfg = Config.load(env={})
    pipe = build_pipeline(
        spark,
        cfg,
        source_dir=str(src),
        sink_dir=str(workdir / "out"),
        dlq_dir=str(workdir / "dlq"),
    )
    q = pipe.start(str(workdir / "ckpt"))
    q.awaitTermination(120)
    return pipe


def test_file_service_pipeline_end_to_end(spark, workdir):
    """build_pipeline with file source/sink processes records and
    reports through the same metrics the endpoints expose."""
    pipe = _run_file_pipeline(spark, workdir)
    assert pipe.metrics.produced == 8
    assert pipe.metrics.ready
    out = spark.read.parquet(str(workdir / "out"))
    assert out.count() == 8
    assert "id" in out.columns


def test_metrics_export_batch_durations(spark, workdir):
    """/metrics carries the wall time of the processed batches, as
    measured inside the micro-batch kernel."""
    pipe = _run_file_pipeline(spark, workdir)
    samples = {}
    for line in render_metrics(pipe.metrics).splitlines():
        if not line.startswith("#"):
            name, value = line.split()
            samples[name] = float(value)
    n = samples["storm_etl_batch_duration_seconds_count"]
    assert n == samples["storm_etl_batches_total"] >= 1
    total = samples["storm_etl_batch_duration_seconds_sum"]
    last = samples["storm_etl_last_batch_duration_seconds"]
    assert 0 < last <= total < 120


def test_kafka_service_source_carries_group_id(monkeypatch):
    """The Kafka source the service builds carries every validated
    source setting, KAFKA_GROUP_ID included — no broker or connector
    jar needed, the source constructor is replaced."""
    import storm_data_etl_service_spark.service as service

    seen = {}

    def fake_source(spark, options):
        seen.update(options)
        return "raw"

    monkeypatch.setattr(service, "kafka_source", fake_source)
    cfg = Config.load(env={"KAFKA_GROUP_ID": "g1"})
    pipe = build_pipeline(None, cfg)
    assert pipe.raw_stream == "raw"
    assert seen["kafka.group.id"] == "g1"
    assert seen == cfg.kafka_source_options()


def test_observe_metrics_piggyback_on_single_pass(spark):
    """D9 via DataFrame.observe: exact counters ride the existing
    action (CollectMetrics), matching independently-computed values."""
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.functions.enrich import enrich
    from storm_data_etl_service_spark.observability import (
        with_enrichment_metrics,
    )
    from storm_data_etl_service_spark.sources.storm_fixture import (
        spark_fixture_df,
    )

    enriched = enrich(spark_fixture_df(spark))
    observed, obs = with_enrichment_metrics(enriched)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_records"] == enriched.count()
    assert got["n_unknown_type"] == enriched.filter(
        F.col("event_type") == ""
    ).count()
    assert got["n_with_severity"] == enriched.filter(
        F.col("measurement.severity").isNotNull()
    ).count()
    assert got["max_magnitude"] == enriched.agg(
        F.max("measurement.magnitude")
    ).first()[0]
    assert got["n_records"] > got["n_with_severity"] > 0
