"""``storm_stream``: the reference's own extract-transform-load loop.

Seeded storm-report Kafka envelopes are written as JSON-lines files,
one file per micro-batch of ``BATCH_RECORDS`` records. The engine's
``StormStreamPipeline`` drains them into ``parquet_sink`` and
``parquet_dlq`` through a file source read with
``maxFilesPerTrigger=1`` (the file-source twin of the Kafka source's
``maxOffsetsPerTrigger``). It is a closed loop with one client and a
preloaded backlog: the engine plans the next batch only after the
previous one commits. The query is stopped when the run's time is up;
only committed micro-batches count.

Output check, per committed micro-batch, against the generator's
ground truth: sink rows = valid records minus replays within the batch;
DLQ rows = poison pills sent, at the offsets sent; and the sink rows
(minus ``processed_at``) equal the batch-path ``enrich()`` of the same
records.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime

from pyspark.sql import functions as F

import gen
from spans import Ledger
from storm_data_etl_service_spark.functions.enrich import enrich, flatten, parse_raw_events
from storm_data_etl_service_spark.schemas import RAW_EVENT_SCHEMA
from storm_data_etl_service_spark.streaming import pipeline
from storm_data_etl_service_spark.streaming.pipeline import (
    PipelineMetrics,
    StormStreamPipeline,
    parquet_dlq,
    parquet_sink,
    split_parsed,
)

#: records per micro-batch file, the reference's largest BATCH_SIZE
BATCH_RECORDS = {"full": 1000, "tiny": 100}
WARMUP_BATCHES = 5
#: preloaded backlog: files per second of measuring. More than the
#: engine drains, so the stream never idles before the time is up.
BACKLOG_PER_SECOND = 3
#: micro-batches a run commits at the least: a traced run compares the
#: traced odd batches with the untraced even ones
MIN_BATCHES = 3
#: extra seconds the run waits for those batches before it gives up
STALL_SECONDS = 60


def _epoch_ms(progress: dict) -> float:
    start = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return (start - datetime(1970, 1, 1)).total_seconds() * 1000


class StormStream:
    """run.py calls warm_up, measure, check and failed, then end_to_end
    or per_layer."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.batch_records = BATCH_RECORDS[ctx.size]

    def _pipeline(self, src: str, out: str, metrics):
        raw = (
            self.ctx.spark.readStream.schema(RAW_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        # one directory per micro-batch, so the check can tell committed
        # batches from the one the stop interrupted
        def sink(df, batch_id):
            parquet_sink(f"{out}/sink/batch={batch_id}")(df, batch_id)

        def dlq(df, batch_id):
            parquet_dlq(f"{out}/dlq/batch={batch_id}")(df, batch_id)

        return StormStreamPipeline(raw, sink_writer=sink, dlq_writer=dlq, metrics=metrics)

    # ---- set-up -------------------------------------------------------
    def warm_up(self) -> None:
        work = os.path.join(self.ctx.work, "warm")
        gen.write_envelopes(f"{work}/src", self.ctx.seed, 1, WARMUP_BATCHES, self.batch_records)
        pipe = self._pipeline(f"{work}/src", work, PipelineMetrics())
        pipe.start(f"{work}/ckpt").awaitTermination()

    # ---- timed phase --------------------------------------------------
    def measure(self, seconds: float, trace: bool) -> None:
        ctx = self.ctx
        self.work = os.path.join(ctx.work, "stream")
        n_files = max(2 * MIN_BATCHES, int(BACKLOG_PER_SECOND * seconds))
        self.truth = gen.write_envelopes(
            f"{self.work}/src", ctx.seed, 0, n_files, self.batch_records
        )
        self.metrics = _PerBatchMetrics()
        pipe = self._pipeline(f"{self.work}/src", self.work, self.metrics)
        if trace:
            self._install_spans(pipe)
        if trace:
            ledger = Ledger(ctx.spark)
            first_job = ledger.next_job_id()

        progress: dict[int, dict] = {}
        query = pipe.start(f"{self.work}/ckpt", trigger={"processingTime": "0 seconds"})
        t0 = time.perf_counter()
        # A query that died leaves the loop at once, so its exception is
        # reported below; one that commits too slowly, at the deadline.
        while query.isActive and len(progress) < n_files:
            elapsed = time.perf_counter() - t0
            if elapsed >= seconds + STALL_SECONDS or (
                elapsed >= seconds and len(progress) >= MIN_BATCHES
            ):
                break
            time.sleep(0.05)
            last = query.lastProgress
            if last and last["numInputRows"] > 0:
                progress.setdefault(last["batchId"], last)
        query.stop()
        for p in query.recentProgress:
            if p["numInputRows"] > 0:
                progress.setdefault(p["batchId"], p)
        ctx.tracer.active = False
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")

        # committed batches are 0..n-1; later ids would be gaps
        n = 0
        while n in progress:
            n += 1
        if n < MIN_BATCHES:
            raise RuntimeError(f"only {n} micro-batches committed")
        self.progress = [progress[b] for b in range(n)]
        self.committed = n
        ctx.log(f"micro-batch trigger ms: {self._trigger_ms()}")
        # sustained rate: records committed after the first micro-batch
        # over the wall time between the first and the last commit (the
        # first batch also pays for starting the query)
        first_end, last_end = (
            _epoch_ms(p) + p["durationMs"]["triggerExecution"]
            for p in (self.progress[0], self.progress[-1])
        )
        self.records = sum(t.records for t in self.truth[:n])
        self.sustained = sum(t.records for t in self.truth[1:n]) / (last_end - first_end) * 1000
        self.peak_rss_mb = ctx.rss()
        if trace:
            self._batch_jobs(ledger, first_job)

    def _install_spans(self, pipe) -> None:
        """Spans around the public functions ``_process_batch`` calls,
        and around the injected writers. Odd micro-batches are traced,
        even ones run without spans, for the overhead estimate."""
        tracer = self.ctx.tracer
        for attr, name in (
            ("parse_raw_events", "streaming.parse_call"),
            ("enrich", "functions.enrich_call"),
            ("dedup_first_wins", "streaming.dedup_call"),
        ):
            setattr(pipeline, attr, tracer.wrap(getattr(pipeline, attr), name))
        pipe.sink_writer = tracer.wrap(pipe.sink_writer, "streaming.sink_write")
        pipe.dlq_writer = tracer.wrap(pipe.dlq_writer, "streaming.dlq_write")
        process = pipe._process_batch

        def traced_process(batch_df, batch_id):
            tracer.active = batch_id % 2 == 1
            if not tracer.active:
                return process(batch_df, batch_id)
            with tracer.span("streaming.process_batch", str(batch_id)):
                return process(batch_df, batch_id)

        pipe._process_batch = traced_process

    def _batch_jobs(self, ledger, first_job: int) -> None:
        """Jobs and stages per micro-batch, by job submission time."""
        ledger.settle()
        jobs = ledger.jobs_since(first_job)
        self.jobs_per_batch, self.stages_per_batch = [], []
        for p in self.progress:
            t0 = _epoch_ms(p)
            t1 = t0 + p["durationMs"]["triggerExecution"]
            stats = ledger.stats([j for j, t in jobs if t0 <= t < t1])
            self.jobs_per_batch.append(stats.jobs)
            self.stages_per_batch.append(stats.stages)

    # ---- output check -------------------------------------------------
    def check(self) -> list[bool]:
        """Per committed micro-batch: did its outputs match the truth?"""
        spark, n = self.ctx.spark, self.committed
        sink = spark.read.parquet(f"{self.work}/sink").filter(F.col("batch") < n)
        files = [f"{self.work}/src/batch-{b:06d}.json" for b in range(n)]
        raw = spark.read.schema(RAW_EVENT_SCHEMA).json(files)
        valid, _ = split_parsed(parse_raw_events(raw))
        enriched = enrich(valid, passthrough=("kafka_offset",))
        # flatten() keeps only the contract columns, so the batch comes back
        # by join. A replay across batches shares its id with the original
        # and differs at most in the times taken from the Kafka timestamp.
        key = ["id", "event_time"]
        batch_of = enriched.select(
            *key, (F.col("kafka_offset") / self.batch_records).cast("int").alias("batch")
        ).distinct()
        columns = [c for c in sink.columns if c != "processed_at"]
        expected = (
            flatten(enriched).drop("processed_at").distinct().join(batch_of, key)
        ).select(columns)
        got = sink.select(columns).distinct()
        differ = expected.exceptAll(got).unionByName(got.exceptAll(expected))
        bad_rows = {r["batch"] for r in differ.select("batch").distinct().collect()}
        sink_n = dict(sink.groupBy("batch").count().collect())
        dlq_offsets: dict[int, set] = {}
        if os.path.isdir(f"{self.work}/dlq"):  # no DLQ write without poison pills
            dlq = spark.read.parquet(f"{self.work}/dlq").filter(F.col("batch") < n)
            for r in dlq.select("batch", "offset").collect():
                dlq_offsets.setdefault(r["batch"], set()).add(r["offset"])
        ok = []
        for b, truth in enumerate(self.truth[:n]):
            problems = [
                f"sink rows {sink_n.get(b, 0)} != {truth.expected_sink_rows}"
                if sink_n.get(b, 0) != truth.expected_sink_rows
                else "",
                "DLQ offsets differ"
                if dlq_offsets.get(b, set()) != set(truth.poison_offsets)
                else "",
                "sink rows differ from batch-path enrich()" if b in bad_rows else "",
            ]
            problems = [p for p in problems if p]
            if problems:
                self.ctx.log(f"micro-batch {b}: " + "; ".join(problems))
            ok.append(not problems)
        return ok

    # ---- report -------------------------------------------------------
    def failed(self, ok: list[bool]) -> int:
        return ok.count(False)

    @property
    def attempted(self) -> int:
        return self.committed

    def _trigger_ms(self, batches=None) -> list[float]:
        ids = range(self.committed) if batches is None else batches
        return [self.progress[b]["durationMs"]["triggerExecution"] for b in ids]

    def end_to_end(self) -> dict[str, float]:
        return {
            "latency_ms": statistics.median(self._trigger_ms()),
            "throughput_per_s": self.sustained,
        }

    def per_layer(self) -> dict[str, float]:
        tracer = self.ctx.tracer
        # per traced, committed micro-batch: span name -> ms, and self ms per layer
        spans: dict[int, dict[str, float]] = {}
        layer_self: dict[int, dict[str, float]] = {}
        for i, s in enumerate(tracer.spans):
            if s.name == "streaming.process_batch" and int(s.key) < self.committed:
                ms = spans[int(s.key)] = {}
                for c in tracer.children(i):
                    ms[c.name] = ms.get(c.name, 0.0) + 1000 * c.seconds
                layer_self[int(s.key)] = {
                    k: 1000 * v for k, v in tracer.self_seconds(root=i).items()
                }
        traced = sorted(spans)
        untraced = [b for b in range(self.committed) if b not in spans]

        def med(values):
            values = list(values)
            return statistics.median(values) if values else 0.0

        def span_ms(name):
            return med(spans[b].get(name, 0.0) for b in traced)

        durations = {b: self.progress[b]["durationMs"] for b in traced}
        other = [
            durations[b].get("addBatch", 0) - sum(spans[b].values()) for b in traced
        ]
        rate = 1000 * self.batch_records
        traced_ms, untraced_ms = med(self._trigger_ms(traced)), med(self._trigger_ms(untraced))
        consumed = sum(self.metrics.consumed_per_batch[: self.committed])
        return {
            "functions.enrich_call_ms": span_ms("functions.enrich_call"),
            "streaming.parse_call_ms": span_ms("streaming.parse_call"),
            "streaming.dedup_call_ms": span_ms("streaming.dedup_call"),
            "streaming.sink_ms": span_ms("streaming.sink_write"),
            "streaming.dlq_ms": span_ms("streaming.dlq_write"),
            "streaming.batch_other_ms": med(other),
            "streaming.add_batch_ms": med(d.get("addBatch", 0) for d in durations.values()),
            "streaming.engine_ms": med(
                d["triggerExecution"] - d.get("addBatch", 0) for d in durations.values()
            ),
            "sources.get_batch_ms": med(
                d.get("latestOffset", 0) + d.get("getBatch", 0) for d in durations.values()
            ),
            "streaming.jobs_per_batch": med(self.jobs_per_batch),
            "streaming.stages_per_batch": med(self.stages_per_batch),
            "streaming.batches": self.committed,
            "streaming.batch_p90_ms": statistics.quantiles(self._trigger_ms(), n=10)[-1],
            "streaming.uncounted_records": self.records - consumed,
            "self.streaming_ms": med(layer_self[b].get("streaming", 0.0) for b in traced),
            "self.functions_ms": med(layer_self[b].get("functions", 0.0) for b in traced),
            "trace.latency_ms_overhead": traced_ms - untraced_ms,
            "trace.throughput_per_s_overhead": rate / traced_ms - rate / untraced_ms,
        }


class _PerBatchMetrics(PipelineMetrics):
    """``PipelineMetrics`` that also keeps each batch's ``consumed``."""

    def __init__(self):
        super().__init__()
        self.consumed_per_batch: list[int] = []

    def record_batch(self, consumed, produced, errors):
        self.consumed_per_batch.append(consumed)
        super().record_batch(consumed, produced, errors)
