"""Streaming windowed aggregations with watermark-based late-data
handling — P13 (reference internal/domain/transform.go:309-315)
generalized from a per-record bucket assignment to stateful streaming
rollups.

The reference has no late-data policy: legacy HHMM records adopt the
Kafka message timestamp, so "late" data is simply processed on
arrival and absorbed by idempotent IDs (SURVEY.md §2.5).  At 100 TB
streaming scale that is not enough — state must be bounded — so the
rollups here carry explicit watermarks: state for windows older than
the watermark is dropped, and events arriving later than that are
discarded (observable in the metrics of the test harness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling-hour rollup with a late-data watermark: the streaming
    twin of operators.relational.p13_hourly_rollup (same grouping,
    same aggregates) — the batch/stream parity the reference gets by
    sharing its transform function."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "n", "sum_value")
    )


def _interval_join(
    left: DataFrame, right: DataFrame, within: str, watermark: str, how: str
) -> DataFrame:
    """Watermarked stream-stream join of each left event to the
    same-user right events at most ``within`` after it; ``how`` is the
    join type."""
    lw = left.withWatermark("ts", watermark).alias("l")
    rw = right.withWatermark("ts", watermark).alias("r")
    return lw.join(
        rw,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") > F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("id_left"),
        F.col("r.event_id").alias("id_right"),
        F.col("l.ts").alias("ts_left"),
        F.col("r.ts").alias("ts_right"),
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    within: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: pair every left event with the
    right-stream events of the same user that occur within ``within``
    AFTER it (the streaming twin of operators.relational
    range_join_pairs).

    Both sides carry watermarks and the join condition bounds
    right.ts relative to left.ts from BOTH directions — that is what
    lets the engine expire buffered state: a left row older than
    watermark+within can never match a future right row and is
    dropped.  Without the time bound the state would grow without
    limit; Spark rejects such a join in append mode for exactly that
    reason."""
    return _interval_join(left, right, within, watermark, "inner")


def enrich_stream_with_dim(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch hash-joins the
    (small, broadcast) static dimension — no streaming state at all,
    the static side is re-resolved per batch.  The streaming twin of
    every fact⨝broadcast(dim) batch query in operators.relational."""
    return stream.join(F.broadcast(dim), "event_type", "left")


def window_topk_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Incremental per-(window, event_type) counts — the streaming
    half of windowed top-k and of the drift monitor.  Ranking cannot
    run inside the streaming plan (no rank-after-aggregation in
    update/append modes), so the contract splits: this stateful count
    updates incrementally; ``rank_window_topk`` or
    ``drift_against_baseline`` runs per micro-batch inside
    foreachBatch on the (tiny) aggregated deltas — the standard Spark
    decomposition for streaming leaderboards and monitors."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n")
    )


def rank_window_topk(counts: DataFrame, k: int = 3) -> DataFrame:
    """Top-k event types per window bucket, deterministic tie-break.
    Runs identically on a batch aggregate and on foreachBatch deltas
    (window cardinality per micro-batch is tiny, so the rank window
    never funnels fact-scale data)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("bucket_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def drift_against_baseline(
    counts: DataFrame, baseline: DataFrame
) -> DataFrame:
    """Chi-square drift of observed per-type shares against a static
    baseline distribution — the foreachBatch half of the streaming
    drift monitor (the batch twin of distribution_drift_chi2's
    half-vs-half comparison, with the reference distribution supplied
    as a broadcastable table (event_type, base_share)).

    Runs per micro-batch over window x type cardinality — tiny; the
    chi-square term is rational arithmetic (no libm)."""
    totals = counts.groupBy("bucket_start").agg(F.sum("n").alias("total"))
    obs = counts.join(totals, "bucket_start").join(
        F.broadcast(baseline), "event_type"
    )
    p = F.col("n").cast("double") / F.col("total")
    q = F.col("base_share")
    term = (p - q) * (p - q) / (q + F.lit(1e-12))
    return (
        obs.groupBy("bucket_start")
        .agg(
            F.count("*").alias("n_types"),
            F.sum(F.floor(term * F.lit(1e9)).cast("decimal(25,0)"))
            .cast("double")
            .alias("chi2_fp"),
        )
        .withColumn("chi2", F.col("chi2_fp") / F.lit(1e9))
        .drop("chi2_fp")
    )


def interval_left_join_stream(
    left: DataFrame,
    right: DataFrame,
    within: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: matched pairs emit as
    they join; an UNMATCHED left event emits with null right columns
    only once the watermark proves no future right row can match it
    (left.ts + within < watermark) — the streaming answer to
    "which views never converted?".

    The outer side makes the time bound mandatory, not just
    state-hygiene: the engine must know when a left row's match window
    is CLOSED before it may emit the null row, so both watermarks and
    both-direction ts bounds are required for the plan to compile.

    Operational gotcha (encoded in the test): the GLOBAL watermark is
    the MIN over both sides' watermark nodes
    (spark.sql.streaming.multipleWatermarkPolicy=min) — a quiet left
    stream freezes eviction even while the right stream races ahead,
    and null rows surface in the batch AFTER the advance."""
    return _interval_join(left, right, within, watermark, "leftOuter")
