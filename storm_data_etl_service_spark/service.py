"""Service entrypoint — the ``cmd/etl`` equivalent (reference
cmd/etl/main.go:19-68): load env config, wire source → pipeline →
sink, serve health/metrics, run until signalled, drain gracefully.

``python -m storm_data_etl_service_spark.service`` runs the Kafka
pipeline with the reference's env variables; ``--source-dir/--sink-dir``
switch to the file-based source/sink for broker-less operation
(the test harness path).
"""

from __future__ import annotations

import signal

from storm_data_etl_service_spark.config import Config
from storm_data_etl_service_spark.session import get_spark
from storm_data_etl_service_spark.streaming.http_health import start_health_server
from storm_data_etl_service_spark.streaming.pipeline import (
    PipelineMetrics,
    StormStreamPipeline,
    file_source,
    kafka_sink_frame,
    kafka_source,
    parquet_dlq,
    parquet_sink,
    retry_with_backoff,
    stop_gracefully,
)


def build_pipeline(
    spark,
    cfg: Config,
    source_dir: str | None = None,
    sink_dir: str | None = None,
    dlq_dir: str | None = None,
) -> StormStreamPipeline:
    """Wire adapters exactly as the reference's main does
    (cmd/etl/main.go:19-35), with file-based stand-ins when no broker
    is configured."""
    metrics = PipelineMetrics()
    if source_dir:
        raw = file_source(spark, source_dir)
    else:
        raw = kafka_source(spark, cfg.kafka_source_options())
    if sink_dir:
        sink = retry_with_backoff(parquet_sink(sink_dir))
    else:
        opts = cfg.kafka_sink_options()

        def kafka_write(df, batch_id):
            writer = kafka_sink_frame(df).write.format("kafka")
            for k, v in opts.items():
                writer = writer.option(k, v)
            writer.save()

        sink = retry_with_backoff(kafka_write)
    dlq = retry_with_backoff(parquet_dlq(dlq_dir)) if dlq_dir else None
    return StormStreamPipeline(raw, sink, dlq_writer=dlq, metrics=metrics)


def main(argv: list[str] | None = None) -> int:
    import argparse

    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--source-dir", help="file source dir (instead of Kafka)")
    parser.add_argument("--sink-dir", help="parquet sink dir (instead of Kafka)")
    parser.add_argument("--dlq-dir", help="dead-letter parquet dir")
    parser.add_argument("--checkpoint", required=True)
    parser.add_argument(
        "--once", action="store_true", help="process available data then exit"
    )
    args = parser.parse_args(argv)

    cfg = Config.load()
    spark = get_spark(app_name="storm-data-etl")
    pipe = build_pipeline(spark, cfg, args.source_dir, args.sink_dir, args.dlq_dir)
    http = start_health_server(pipe.metrics, cfg.http_addr)

    trigger = {"availableNow": True} if args.once else cfg.trigger
    query = pipe.start(args.checkpoint, trigger=trigger)

    # The handler only sets a flag: calling into the JVM from a signal
    # handler races the gateway teardown (the interrupted
    # awaitTermination unwinds through spark.stop() first).  The main
    # loop owns all JVM calls.
    import threading

    stop_requested = threading.Event()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, frame: stop_requested.set())

    import contextlib

    try:
        while not stop_requested.is_set():
            try:
                if query.awaitTermination(1):
                    break
            except Exception:
                # a group-delivered signal can kill the JVM while we
                # are blocked here; give the handler a beat to set the
                # flag, then treat it as a requested stop — anything
                # else is a real crash and propagates
                import time as _time

                _time.sleep(0.3)
                if stop_requested.is_set():
                    break
                raise
        if stop_requested.is_set():
            # the JVM may already be gone if the signal hit the whole
            # process group (e.g. under `timeout`); the stream state is
            # checkpointed either way, so a dead gateway is a clean exit
            with contextlib.suppress(Exception):
                stop_gracefully(query, cfg.shutdown_timeout_ms)
    finally:
        http.shutdown()
        with contextlib.suppress(Exception):
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
