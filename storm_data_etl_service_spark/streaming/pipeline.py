"""Structured-Streaming ETL pipeline: the reference's Kafka→Kafka
micro-batch loop (reference internal/pipeline/pipeline.go:63-159,
operators D1-D9 in SURVEY.md §2.3) on Spark's streaming engine.

Semantics mapping:

* D1 micro-batch driver    → the Structured Streaming engine itself
  (trigger interval ≙ BATCH_FLUSH_INTERVAL, maxOffsetsPerTrigger ≙
  BATCH_SIZE);
* D2 poison-pill routing   → corrupt-record split in ``foreachBatch``:
  malformed records are counted and written to a dead-letter sink,
  the batch continues, and the checkpoint advances past them —
  exactly the reference's warn-log + skip + commit policy
  (reference docs/Architecture.md:110-114);
* D3 commit-after-load     → checkpoint WAL/commit-log ordering: the
  offset range is committed only after the batch's sink write
  returns, giving the same at-least-once contract;
* D8 idempotent replay     → deterministic IDs (P5) + first-wins
  dedup by (id, arrival order) inside each batch; cross-batch
  replays are absorbed downstream by the deterministic IDs, the
  reference's own design (docs/Architecture.md:99-102);
* D6 readiness / D9 metrics→ foreachBatch-updated counters
  (consumed/produced/errors) with a readiness latch that flips after
  the first successful batch;
* D7 graceful shutdown     → ``stop()`` on the query handle drains
  the in-flight batch before returning.

The enrichment applied per batch is the *same* expression-only
``enrich()`` used in batch mode — nothing is reimplemented.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from storm_data_etl_service_spark.functions.enrich import (
    enrich,
    flatten,
    parse_raw_events,
)
from storm_data_etl_service_spark.functions.wire import storm_wire_json
from storm_data_etl_service_spark.schemas import RAW_EVENT_SCHEMA


def kafka_source(spark: SparkSession, options: dict[str, str]) -> DataFrame:
    """S1 — Kafka micro-batch source (reference
    internal/adapter/kafka/reader.go:22-72): consumer-group reads,
    earliest start, per-trigger batch bound.  ``options`` is
    ``Config.kafka_source_options()``, their one definition."""
    return spark.readStream.format("kafka").options(**options).load()


def file_source(spark: SparkSession, path: str) -> DataFrame:
    """File-based test source: JSON-lines files of Kafka-envelope rows
    (one micro-batch per trigger).  Lets the D2/D3/D8 semantics be
    exercised without a broker."""
    return spark.readStream.schema(RAW_EVENT_SCHEMA).json(path)


def split_poison(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """D2 — parse the envelope payload and fork valid / dead-letter."""
    return split_parsed(parse_raw_events(raw))


@functools.cache
def _split_columns() -> tuple[Column, tuple[Column, ...], tuple[Column, ...]]:
    """``split_parsed``'s poison predicate and its two projections."""
    is_poison = F.col("is_poison")
    poison = (
        F.col("value").cast("string").alias("raw_value"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp"),
    )
    valid = (
        F.col("parsed.*"),
        F.col("timestamp").alias("kafka_timestamp"),
        F.col("offset").alias("kafka_offset"),
    )
    return is_poison, poison, valid


def split_parsed(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fork an already-parsed envelope frame into valid / dead-letter
    (factored out so ``_process_batch`` can persist the parse once and
    derive both forks from the cache — single parse per micro-batch)."""
    is_poison, poison_cols, valid_cols = _split_columns()
    poison = parsed.filter(is_poison).select(*poison_cols)
    valid = parsed.filter(~is_poison).select(*valid_cols).drop("_corrupt_record")
    return valid, poison


def dedup_stream_within_watermark(
    enriched: DataFrame, event_time_col: str = "event_time", delay: str = "1 hour"
) -> DataFrame:
    """D8 (cross-batch) — streaming dedup by deterministic ID with
    bounded state: replays arriving within the watermark delay are
    dropped by the engine's dedup state store; older replays fall
    through to the reference's own downstream answer (idempotent IDs,
    docs/Architecture.md:99-102).  State size is bounded by the
    watermark — the requirement for an unbounded stream."""
    return enriched.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        ["id"]
    )


@functools.cache
def _first_wins_rank(order_col: str) -> tuple[Column, Column]:
    """``dedup_first_wins``'s per-id arrival rank and its keep-first
    predicate."""
    w = Window.partitionBy("id").orderBy(F.col(order_col).asc())
    return F.row_number().over(w), F.col("_rk") == 1


def dedup_first_wins(enriched: DataFrame, order_col: str = "kafka_offset") -> DataFrame:
    """D8 — deterministic first-wins dedup by id: rank by the explicit
    arrival-order column (the reference's 'first occurrence' is file
    order, which does not exist under parallelism — SURVEY.md §7)."""
    rank, first = _first_wins_rank(order_col)
    return enriched.withColumn("_rk", rank).filter(first).drop("_rk")


@functools.cache
def _kafka_sink_columns() -> tuple[Column, Column, Column]:
    """``kafka_sink_frame``'s key, value and headers."""
    headers = F.array(
        F.struct(F.lit("event_type").alias("key"), F.col("event_type").cast("binary").alias("value")),
        F.struct(
            F.lit("processed_at").alias("key"),
            F.date_format("processed_at", "yyyy-MM-dd'T'HH:mm:ssX").cast("binary").alias("value"),
        ),
    )
    return (
        F.col("id").cast("binary").alias("key"),
        storm_wire_json().alias("value"),
        headers.alias("headers"),
    )


def kafka_sink_frame(enriched: DataFrame) -> DataFrame:
    """S3/S5 — shape the enriched event for the Kafka sink: key = id,
    value = byte-exact Go-marshaled wire JSON (declaration key order +
    full ``omitempty`` semantics incl. empty-string ``comments``/
    ``source_office``, see functions/wire.py), headers event_type +
    processed_at (reference internal/adapter/kafka/writer.go:55-68)."""
    return enriched.select(*_kafka_sink_columns())


@functools.cache
def _batch_counts() -> tuple[tuple[Column, Column], Column]:
    """``_process_batch``'s observed aggregates: poison and valid rows
    over the parse, produced rows over the deduped output."""
    return (
        (
            F.count(F.when(F.col("is_poison"), 1)).alias("n_poison"),
            F.count(F.when(~F.col("is_poison"), 1)).alias("n_in"),
        ),
        F.count(F.lit(1)).alias("n_out"),
    )


@dataclass
class PipelineMetrics:
    """D6/D9 — consumed/produced/error counters + readiness latch
    (reference internal/observability/metrics.go:20-66,
    pipeline.go:37-60).  Updated from ``foreachBatch`` after each
    batch's sink write returns, so ``ready`` flips exactly when the
    reference's atomic readiness bool does: after the first
    successfully processed batch (reference pipeline.go:116)."""

    consumed: int = 0
    produced: int = 0
    transform_errors: int = 0
    batches: int = 0
    ready: bool = False
    batch_seconds_sum: float = 0.0
    batch_seconds_count: int = 0
    last_batch_seconds: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record_batch(self, consumed: int, produced: int, errors: int) -> None:
        with self._lock:
            self.consumed += consumed
            self.produced += produced
            self.transform_errors += errors
            self.batches += 1
            self.ready = True

    def record_batch_seconds(self, seconds: float) -> None:
        """One processed batch's wall time, as ``_process_batch``
        measures it (a call of its own: subclasses override
        ``record_batch`` with its three-count signature)."""
        with self._lock:
            self.batch_seconds_sum += seconds
            self.batch_seconds_count += 1
            self.last_batch_seconds = seconds


class StormStreamPipeline:
    """The end-to-end pipeline: source → parse/split → enrich →
    first-wins dedup → sink + dead-letter, with metrics.

    ``sink_writer(df, batch_id)`` and ``dlq_writer(df, batch_id)`` are
    injected (parquet dir, Kafka frame, memory table...) mirroring the
    reference's consumer-defined Extractor/Loader interfaces
    (reference internal/pipeline/pipeline.go:16-28) that made its
    pipeline unit-testable.
    """

    def __init__(
        self,
        raw_stream: DataFrame,
        sink_writer,
        dlq_writer=None,
        metrics: PipelineMetrics | None = None,
        processed_at=None,
    ):
        self.raw_stream = raw_stream
        self.sink_writer = sink_writer
        self.dlq_writer = dlq_writer
        self.metrics = metrics or PipelineMetrics()
        self.processed_at = processed_at

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Single-pass micro-batch kernel: the raw envelope is parsed
        ONCE into a persisted frame, and every count piggybacks on the
        sink write via two ``DataFrame.observe`` points — poison and
        valid rows over the persisted parse, produced rows over the
        deduped output — exactly one enrich+dedup execution per batch,
        no standalone ``.count()`` actions.  The dead-letter write (a
        cache scan, not a re-parse) follows the sink only when the
        batch held poison; both finish before the offsets commit, and
        the batch's wall time goes to ``record_batch_seconds``.
        ``consumed`` is every message read, replays dropped by
        first-wins dedup included (the reference counts in-process for
        free, internal/pipeline/pipeline.go:104-153)."""
        from pyspark.sql import Observation

        started = time.perf_counter()
        in_counts, out_count = _batch_counts()
        parsed = parse_raw_events(batch_df).persist()
        try:
            # observed on the persisted parse, below enrich: a
            # CollectMetrics over the enriched projection measured ~30%
            # slower per 1000-record batch on 4 vCPUs
            obs_in = Observation(f"parsed_batch_{batch_id}")
            counted = parsed.observe(obs_in, *in_counts)
            enriched = enrich(
                split_parsed(counted)[0],
                processed_at=self.processed_at,
                passthrough=("kafka_offset",),
            )
            deduped = dedup_first_wins(enriched).drop("kafka_offset")
            obs_out = Observation(f"sink_batch_{batch_id}")
            observed = deduped.observe(obs_out, out_count)
            self.sink_writer(observed, batch_id)
            n_in, n_poison = obs_in.get["n_in"], obs_in.get["n_poison"]
            n_out = obs_out.get["n_out"]
            if n_poison and self.dlq_writer is not None:
                self.dlq_writer(split_parsed(parsed)[1], batch_id)
        finally:
            parsed.unpersist()
        self.metrics.record_batch(
            consumed=n_in + n_poison, produced=n_out, errors=n_poison
        )
        self.metrics.record_batch_seconds(time.perf_counter() - started)

    def start(
        self,
        checkpoint_dir: str,
        trigger: dict | None = None,
        query_name: str = "storm_etl",
    ):
        """Run the stream; D3 at-least-once comes from the checkpoint:
        offsets WAL'd before the batch, committed after the sink write
        (our ``foreachBatch`` raises on sink failure, so the offset
        range is retried — never skipped)."""
        writer = (
            self.raw_stream.writeStream.queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self._process_batch)
        )
        trigger = trigger or {"availableNow": True}
        return writer.trigger(**trigger).start()


def retry_with_backoff(
    fn,
    base_ms: int = 200,
    cap_ms: int = 5000,
    max_attempts: int = 6,
    sleep=None,
):
    """D4 — exponential backoff: 200 ms → ×2 → cap 5 s, reset on
    success (reference internal/pipeline/pipeline.go:68-71,164-173).

    Spark already retries *tasks* (``spark.task.maxFailures``); this
    wraps driver-side sink calls in ``foreachBatch`` where the
    reference's extract/load retry loop lives.  Returns a wrapped
    callable with the same signature."""
    do_sleep = sleep or time.sleep

    def wrapped(*args, **kwargs):
        delay = base_ms
        for attempt in range(max_attempts):
            try:
                return fn(*args, **kwargs)
            except Exception:
                if attempt == max_attempts - 1:
                    raise
                do_sleep(delay / 1000.0)
                delay = min(delay * 2, cap_ms)

    return wrapped


def stop_gracefully(query, timeout_ms: int = 10_000) -> bool:
    """D7 — graceful shutdown: drain the in-flight micro-batch within
    the deadline, then stop (reference cmd/etl/main.go:37-68,
    SHUTDOWN_TIMEOUT).  Returns True if the query terminated inside
    the deadline."""
    query.stop()
    return query.awaitTermination(timeout_ms / 1000.0)


def parquet_sink(out_dir: str):
    """Simple appending parquet sink for tests/batch jobs.  At-least-once:
    a checkpoint retry re-appends its batch, the reference's contract —
    the deterministic SHA-256 ``event_id`` lets consumers drop the
    replayed rows by key."""

    def write(df: DataFrame, batch_id: int) -> None:
        flatten(df).write.mode("append").parquet(out_dir)

    return write


def parquet_dlq(dlq_dir: str):
    def write(df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").parquet(dlq_dir)

    return write


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check, so any supported scheme works."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _write_batch_state(df: DataFrame, root: str, batch_id: int) -> None:
    """Write one micro-batch's state as ``<root>/batch_id=N``, with
    overwrite: a checkpoint retry rewrites its own partition instead of
    appending a second copy.  Pairs with ``_earlier_batch_state``."""
    df.write.mode("overwrite").parquet(f"{root}/batch_id={batch_id}")


def _earlier_batch_state(
    spark: SparkSession, root: str, batch_id: int, empty: DataFrame
) -> DataFrame:
    """The state written by batches before ``batch_id``, or ``empty``
    (a relation with the state's columns and no rows) before the first
    write — the optimizer prunes unions and outer joins against an
    empty relation, so a first batch needs no plan of its own.

    Reading only ``batch_id < N`` makes a replayed batch probe exactly
    its pre-batch state, never the rows it wrote itself on the failed
    attempt.  The read is gated on an explicit filesystem existence
    check (Hadoop FS, so any supported scheme works), NOT a blanket
    except: a corrupt or transiently-unreadable state raises and fails
    the batch, which the streaming checkpoint then retries — silently
    probing nothing is the one wrong outcome."""
    if not _path_exists(spark, root):
        return empty
    return spark.read.parquet(root).filter(F.col("batch_id") < batch_id)


def incremental_dedup_batch_fn(index_dir: str, matches_dir: str):
    """foreachBatch kernel for STREAMING corpus dedup against a
    persisted LSH index — the production loop around
    ``operators.dedup.dedup_incremental_minhash``.  Per micro-batch of
    documents (doc_id, text): the batch's ``lsh_band_keys`` probe the
    index written by every earlier batch plus the batch itself through
    ``operators.dedup.lsh_matches`` (batch_id is the micro-batch id),
    then the matches go to ``matches_dir`` and the batch's band keys
    to ``index_dir``.  Per-batch cost scales with the batch, never the
    corpus.

    Replay-stable: both relations are written (overwrite) as
    ``batch_id=N`` partitions and the probe reads only ``batch_id <
    N`` (``_write_batch_state`` / ``_earlier_batch_state``), so a batch
    replayed after its index write committed rewrites identical
    matches instead of matching its own band keys.  An index written
    flat by the earlier append-only kernel must be moved under
    ``batch_id=-1`` before it is resumed.
    """
    from storm_data_etl_service_spark.operators.dedup import (
        lsh_band_keys,
        lsh_matches,
    )

    def process(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bands = (
            lsh_band_keys({"documents": batch_df})
            .withColumn("batch_id", F.lit(batch_id))
            .persist()
        )
        try:
            index = _earlier_batch_state(spark, index_dir, batch_id, bands.limit(0))
            matches = lsh_matches(bands, bands.unionByName(index))
            _write_batch_state(matches, matches_dir, batch_id)
            _write_batch_state(bands.drop("batch_id"), index_dir, batch_id)
        finally:
            bands.unpersist()

    return process


def bloom_gate_batch_fn(bits_dir: str, verdicts_dir: str):
    """foreachBatch kernel for the STREAMING Bloom membership gate —
    the production loop around ``operators.dedup.bloom_dedup_report``.
    Per micro-batch of documents (doc_id, text): ``bloom_probe`` the
    batch's ``content_hashes`` against the ``bloom_bits`` written by
    every earlier batch (``bloom_hit``: possibly seen — the exact
    confirm happens downstream, which a Bloom gate exists to avoid for
    the definitely-new majority), add ``dup_of_in_batch`` (the earliest
    exact copy inside the batch, which the index cannot cover yet),
    then write the verdicts and the batch's bits.  State is O(m bits)
    forever, versus the LSH index's per-document rows.

    Replay-stable on both relations, by the rule
    ``incremental_dedup_batch_fn`` uses: a batch replayed after its
    bits committed still probes exactly the pre-batch index and
    rewrites byte-identical verdicts.
    """
    from storm_data_etl_service_spark.operators.dedup import (
        bloom_bits,
        bloom_probe,
        content_hashes,
    )

    def process(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hashed = content_hashes(batch_df).persist()
        try:
            own = bloom_bits(hashed)
            earlier = _earlier_batch_state(spark, bits_dir, batch_id, own.limit(0))
            within = (
                hashed.join(
                    hashed.select(F.col("doc_id").alias("earlier_id"), "h"), "h"
                )
                .filter(F.col("earlier_id") < F.col("doc_id"))
                .groupBy("doc_id")
                .agg(F.min("earlier_id").alias("dup_of_in_batch"))
            )
            verdicts = (
                bloom_probe(hashed, earlier)
                .join(within, "doc_id", "left")
                .select("doc_id", "bloom_hit", "dup_of_in_batch")
            )
            _write_batch_state(verdicts, verdicts_dir, batch_id)
            _write_batch_state(own, bits_dir, batch_id)
        finally:
            hashed.unpersist()

    return process
