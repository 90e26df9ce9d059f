"""Multi-dimensional aggregation / set-operation surface.

Beyond the reference (it has none of these — SURVEY.md §2.5): rollup,
cube, grouping sets, pivot, multiset intersection, exact and
approximate distinct counts.  All built-in Catalyst operators — the
expansion (rollup/cube emit one row per grouping set per input group)
happens inside the Expand operator before the single shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from storm_data_etl_service_spark.operators import stage

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _typed_halves(t) -> DataFrame:
    return t["events"].select(
        "event_type", (F.col("user_id") % 2).alias("half"), "value"
    )


def rollup_agg(t) -> DataFrame:
    """ROLLUP (event_type, half): per-pair, per-type, and grand-total
    rows in one pass."""
    return _typed_halves(t).rollup("event_type", "half").agg(F.count("*").alias("n"))


def cube_agg(t) -> DataFrame:
    """CUBE (event_type, half): all 2^2 grouping sets."""
    return _typed_halves(t).cube("event_type", "half").agg(F.count("*").alias("n"))


def grouping_sets_sql(spark, t) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (the engine exposes
    both APIs; Catalyst compiles them to the same Expand plan)."""
    t["events"].createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type, user_id % 2 AS half, count(*) AS n
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (user_id % 2), ())
        """
    )


def pivot_agg(t) -> DataFrame:
    """Pivot event types into columns (explicit value list so the plan
    needs no extra distinct-collection pass — required at scale)."""
    return (
        t["events"]
        .select((F.col("user_id") % 3).alias("grp"), "event_type")
        .groupBy("grp")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, subset=list(EVENT_TYPES))  # absent combos: 0, not null
    )


def intersect_all_op(t) -> DataFrame:
    """Multiset intersection (companion of Q15's exceptAll)."""
    region = t["region"]
    return region.intersectAll(region.filter(F.col("r_regionkey") >= 2))


def distinct_counts(t) -> DataFrame:
    """Exact distinct counts (two-level aggregation under the hood)."""
    return t["events"].agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


def percentile_summary(t) -> DataFrame:
    """Exact interpolated percentiles of extended price per return
    flag.  Spark's ``percentile`` and DuckDB's ``quantile_cont`` share
    the same interpolation definition, so values match exactly —
    verified, not assumed."""
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.25D)").alias("p25"),
            F.expr("percentile(l_extendedprice, 0.5D)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.75D)").alias("p75"),
            F.count("*").alias("n"),
        )
    )


def value_histogram(t, bin_width: float = 50.0) -> DataFrame:
    """Fixed-width histogram of event values (floor-binning is plain
    arithmetic — portable, and a single groupBy at any scale)."""
    bucket = F.floor(F.col("value") / bin_width).cast("long")
    return (
        t["events"]
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .withColumn("lo", F.col("bucket") * bin_width)
        .withColumn("hi", (F.col("bucket") + 1) * bin_width)
    )


def funnel_conversion(t) -> DataFrame:
    """Click→purchase funnel: users who clicked, and users with a
    purchase strictly after their first click.  Two aggregations and
    one equi-join on user_id — no window over the full event stream."""
    ev = t["events"]
    first_click = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("fc")
    )
    conv = (
        first_click.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("fc").alias("fc"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")), 1
                ).otherwise(0)
            ).alias("converted"),
        )
    )
    return conv.agg(
        F.count("*").alias("n_users"),
        F.count(F.col("fc")).alias("n_clicked"),
        F.sum("converted").alias("n_converted"),
    )


def fuzzy_neardup_distance(t) -> DataFrame:
    """Edit-distance refinement of the near-dup candidates: Levenshtein
    over 40-char prefixes of each Jaccard-confirmed pair.  The
    expensive O(len²) distance runs only on the tiny candidate set —
    the composition (cheap filter → exact refine) is the scale
    pattern.  Candidates come from the PPJoin prefix filter —
    bit-identical to the all-pairs Jaccard set (the oracle keeps the
    naive definition) without the O(Σdf²) shingle self-join."""
    from storm_data_etl_service_spark.operators.dedup import (
        dedup_jaccard_prefix_join,
    )

    pairs = dedup_jaccard_prefix_join(t)
    docs = t["documents"].select("doc_id", F.substring("text", 1, 40).alias("prefix"))
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("prefix_edit_distance"),
        )
    )


def salted_group_sum(t, n_salts: int = 8) -> DataFrame:
    """Skew-resistant two-phase aggregation: salt the hot key, partial
    agg on (key, salt), then final agg on the key.

    ``events.event_type`` has only 5 values — a direct groupBy at
    100 TB funnels everything through 5 reducers.  Salting fans each
    key across n_salts reducers; the second (tiny) aggregation merges
    the partials.  Values are bit-identical to the direct plan because
    the sums are decimal-exact — which is exactly what the oracle
    (a plain GROUP BY) proves.  AQE's skew-join handling covers joins;
    this is the aggregation-side idiom."""
    from storm_data_etl_service_spark.operators.relational import _dsum

    salted = t["events"].withColumn(
        "_salt", (F.col("event_id") % n_salts).cast("int")
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("psum"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").cast("double").alias("sum_value"),
    )


def approx_distinct_counts(t) -> DataFrame:
    """HyperLogLog++ sketch counts — the 100 TB path for cardinality
    (single pass, fixed memory, no exact shuffle).

    Oracle contract: the sketch estimate itself is approximate by
    design, so the *checked* columns are the exact distinct counts
    (which DuckDB can reproduce) plus a Spark-computed
    ``hll_within_bound`` boolean asserting the HLL estimate landed
    within 3x the configured relative error of the exact count; the
    oracle asserts that boolean is literally TRUE.  At 100 TB you
    would run only the sketch half; the exact half here is the
    correctness anchor at test scale."""
    agg = t["events"].agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.approx_count_distinct("user_id", 0.02).alias("_au"),
        F.approx_count_distinct("event_type", 0.02).alias("_at"),
    )
    rel_ok = lambda approx, exact: (
        F.abs(F.col(approx).cast("double") - F.col(exact)) <= 0.06 * F.col(exact)
    )
    return agg.select(
        "n_users",
        "n_types",
        (rel_ok("_au", "n_users") & rel_ok("_at", "n_types")).alias(
            "hll_within_bound"
        ),
    )


def user_gap_stats(t) -> DataFrame:
    """Inter-event gap analysis per user via lag(): microsecond-exact
    gaps (unix_micros keeps sub-second precision; both engines agree
    on integer epoch micros), aggregated to count/total/mean.  One
    window shuffle on user_id, then a keyed agg — no driver loops."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = (
        t["events"]
        .select("user_id", "event_id", "ts")
        .withColumn("gap_us", us - F.lag(us).over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_us").alias("total_gap_us"),
        (F.sum("gap_us").cast("double") / F.count("*")).alias("avg_gap_us"),
    )


def scd2_history(t) -> DataFrame:
    """SCD-type-2 dimension build from an event log: each event opens
    a validity interval that the user's next event closes (lead());
    the open interval is the current state.  The canonical
    change-data-capture shape for slowly-changing dimensions — one
    window shuffle on the business key."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return t["events"].select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def salted_skew_join(t, n_salts: int = 8) -> DataFrame:
    """Skew-resistant fact-dim join: the fact side's join key
    (event_type, 5 distinct values) is maximally skewed, so a naive
    shuffle join puts ~1/5 of the fact on single reducers.  Salting
    splits each key into n_salts sub-keys (deterministic
    event_id % n_salts — reproducible, unlike rand()) and replicates
    the dim row per salt, so every reducer gets 1/(5·n_salts) of the
    work.  The result is provably identical to the plain join — the
    oracle runs the unsalted query."""
    dim = t["events"].groupBy("event_type").agg(
        F.count("*").alias("type_total")
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    fact = t["events"].withColumn(
        "salt", (F.col("event_id") % n_salts).cast("int")
    )
    return (
        fact.join(salted_dim, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("type_total").alias("type_total"),
        )
    )


def approx_quantile_summary(t) -> DataFrame:
    """Approximate per-group quantiles (t-digest-style
    percentile_approx): the sketch path for 100 TB where exact
    interpolated percentiles (percentile_summary) would need a full
    sort per group.  Sketches merge associatively across partitions —
    map-side partial, one small shuffle.

    The sketch VALUES are engine-specific, so the oracle-checked
    contract is exact columns plus Spark-verified RANK-accuracy flags
    (percentile_approx guarantees rank error ≤ n/accuracy): for each
    group, the exact rank fraction of the returned value must sit
    within ``q ± eps`` (two-sided and tie-safe — strictly-below on the
    high side, at-or-below on the low side).  The oracle asserts the
    exact count and literal TRUE for both flags (the registry entry
    projects the estimate columns away — they are engine-specific);
    the public output KEEPS p50_approx/p95_approx so consumers get the
    values, not just booleans, and magnitudes are error-bounded
    against the exact method in tests.  ``n_values`` and the rank
    denominators count NON-NULL values only — percentile_approx skips
    NULLs, so a count(*) denominator would misstate the rank fraction
    on nullable columns."""
    ap = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10_000).alias("p50_approx"),
            F.percentile_approx("value", 0.95, 10_000).alias("p95_approx"),
            F.count("value").alias("n_values"),
        )
    )
    eps = 0.002  # guarantee is 1/accuracy = 1e-4; slack absorbs fp edges
    joined = t["events"].select("event_type", "value").join(
        F.broadcast(ap), "event_type"
    )

    def rank_ok(target: float, col: str):
        lt = F.sum((F.col("value") < F.col(col)).cast("long"))
        le = F.sum((F.col("value") <= F.col(col)).cast("long"))
        n = F.first("n_values")
        return (lt / n <= target + eps) & (le / n >= target - eps)

    return joined.groupBy("event_type").agg(
        F.first("n_values").alias("n_values"),
        F.first("p50_approx").alias("p50_approx"),
        F.first("p95_approx").alias("p95_approx"),
        rank_ok(0.5, "p50_approx").alias("p50_within_bound"),
        rank_ok(0.95, "p95_approx").alias("p95_within_bound"),
    )


def moving_avg_events(t, frame: int = 9) -> DataFrame:
    """Rows-frame moving average per user: the trailing-N smoothing
    every metrics pipeline runs.  ROWS BETWEEN (not RANGE) so the
    frame is an exact row count; the fold-free sum is safe because
    the frame is a deterministic ordered list — both engines add the
    same ≤10 doubles left-to-right over the (ts, event_id) order."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-frame, Window.currentRow)
    )
    return t["events"].select(
        "user_id",
        "event_id",
        F.avg("value").over(w).alias("trailing_avg"),
    )


def _local_range_numbered(df: DataFrame, order_cols, n_parts: int) -> DataFrame:
    """Range-partitioned input with (_pid, _lrn) per-partition row
    numbers — the pre-materialization stage of ``global_row_number``
    (exposed for plan tests: the checkpoint hides the range exchange
    from the final executed plan)."""
    from pyspark.sql.window import Window

    part = df.repartitionByRange(n_parts, *order_cols)
    staged = part.withColumn("_pid", F.spark_partition_id())
    lw = Window.partitionBy("_pid").orderBy(*order_cols)
    return staged.withColumn("_lrn", F.row_number().over(lw))


def global_row_number(df: DataFrame, order_cols, rn_name: str = "_grn", n_parts: int = 32) -> DataFrame:
    """Distributed EXACT global row_number — the scale-safe form of an
    unpartitioned ranking window, which Spark otherwise executes by
    moving every row to ONE partition (WindowExec warns exactly this).

    Three bounded steps: range-repartition on the sort key (the
    distributed sort — range boundaries come from sampling, and where
    they land never changes the result because the order is total),
    per-partition ``row_number``, then per-partition row counts
    (``n_parts`` rows — cluster-sized, not data-sized) cumulated into
    start offsets and broadcast back.  ``order_cols`` must define a
    TOTAL order (include a unique tiebreak column).

    The locally-numbered frame is consumed twice (offsets side and
    probe side) and its ``_pid`` comes from the PHYSICAL partition
    layout, so it must be staged: unstaged, AQE may coalesce the two
    plan instances of the range exchange differently and the offsets
    join against the wrong partition ids (observed at the x16 scale
    step as unstable, uneven buckets; invisible at oracle scale).
    """
    local = stage(_local_range_numbered(df, order_cols, n_parts))
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    # unpartitioned window — but over n_parts rows, not the data
    ow = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(ow), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rn_name, (F.col("_lrn") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def with_global_ntile(df: DataFrame, n: int, order_cols, col_name: str = "ntile") -> DataFrame:
    """Exact ``ntile(n)`` over a global order WITHOUT a
    single-partition window: global row number (distributed, see
    ``global_row_number``) plus ntile's bucket arithmetic — the first
    ``N mod n`` buckets take ``floor(N/n)+1`` rows, the rest
    ``floor(N/n)`` — against a broadcast 1-row total.  Identical
    output to ``F.ntile(n).over(Window.orderBy(...))`` for any total
    order (oracle-checked on three queries)."""
    ranked = global_row_number(df, order_cols, "_grn")
    tot = ranked.agg(F.count("*").alias("_N"))
    q = F.floor(F.col("_N") / n)
    r = F.col("_N") % n
    rn = F.col("_grn")
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    bucket = F.when(rn <= big, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - big) / q)
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(col_name, bucket.cast("int"))
        .drop("_N", "_grn")
    )


def balance_deciles(t) -> DataFrame:
    """Customer balance ranking surface: ntile deciles, percent_rank,
    cume_dist — all derived from ONE distributed global row number
    (``global_row_number``; the order is total, so rank = row_number
    and the closed forms ``(rn-1)/(N-1)`` / ``rn/N`` reproduce
    percent_rank / cume_dist exactly) instead of an unpartitioned
    ranking window that would funnel every customer into a single
    partition."""
    order = [F.desc("c_acctbal"), F.asc("c_custkey")]
    ranked = global_row_number(
        t["customer"].select("c_custkey", "c_acctbal"), order, "_grn"
    )
    tot = ranked.agg(F.count("*").alias("_N"))
    rn, N = F.col("_grn"), F.col("_N")
    q, r = F.floor(N / 10), N % 10
    big = r * (q + 1)
    decile = F.when(rn <= big, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - big) / q)
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "c_custkey",
            "c_acctbal",
            decile.cast("int").alias("decile"),
            F.when(N > 1, (rn - 1) / (N - 1)).otherwise(F.lit(0.0)).alias("pct_rank"),
            (rn / N).alias("cume"),
        )
    )


def forward_fill_values(t) -> DataFrame:
    """Time-series gap fill: 'error' events carry no usable value
    (nulled), so each takes the user's last known good value —
    last_value(ignoreNulls) over an unbounded-preceding rows frame.
    One window shuffle on user_id; never a driver loop."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    good = F.when(F.col("event_type") != "error", F.col("value"))
    return t["events"].select(
        "user_id",
        "event_id",
        F.last(good, ignorenulls=True).over(w).alias("filled_value"),
    )


def profile_table_stats(t) -> DataFrame:
    """Per-column profiling report over orders (the ANALYZE-TABLE /
    data-quality pass a pipeline runs before planning joins): row
    count, null count, distinct count, min/max, rendered as one row
    per column.

    Scale: a single full-table aggregate — every statistic is a
    partial-aggregatable function, so the plan is scan → map-side
    combine → 1-row exchange, then a tiny unpivot projection.  No
    per-column scans, no collect.
    """
    o = t["orders"]
    agg = o.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderkey").alias("nn_key"),
        F.countDistinct("o_orderkey").alias("nd_key"),
        F.min("o_orderkey").cast("double").alias("min_key"),
        F.max("o_orderkey").cast("double").alias("max_key"),
        F.count("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
    )
    cols = [
        ("o_orderkey", "nn_key", "nd_key", "min_key", "max_key"),
        ("o_totalprice", "nn_price", "nd_price", "min_price", "max_price"),
        ("o_orderstatus", "nn_status", "nd_status", None, None),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(nn)).alias("n_nulls"),
                F.col(nd).alias("n_distinct"),
                (F.col(mn) if mn else F.lit(None).cast("double")).alias("min_value"),
                (F.col(mx) if mx else F.lit(None).cast("double")).alias("max_value"),
            )
            for name, nn, nd, mn, mx in cols
        ]
    )
    return agg.select(F.explode(rows).alias("s")).select("s.*")


def join_skew_report(t, top_k: int = 10) -> DataFrame:
    """Join-key skew diagnosis for lineitem⨝orders: per-key row counts
    on the fact side, the share of the heaviest key, and how many
    multiples of a perfectly uniform key it carries.  The number that
    decides between a plain shuffle join, AQE skew split, and a
    salted join (see salted_skew_join).

    Scale: groupBy on the join key (map-side combined); the top-k is
    orderBy+limit → TakeOrderedAndProject, a distributed partial
    top-k with no global sort and no single-partition window (a
    global row_number window over per-key counts would funnel the
    whole key space through one task).  The rank window then runs
    over only the k surviving rows; global totals are a 1-row
    broadcast.
    """
    counts = t["lineitem"].groupBy("l_orderkey").agg(F.count("*").alias("key_rows"))
    totals = counts.agg(
        F.sum("key_rows").alias("total_rows"),
        F.count("*").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("key_rows"), F.asc("l_orderkey")).limit(top_k)
    w = Window.orderBy(F.desc("key_rows"), F.asc("l_orderkey"))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .select(
            "rk",
            "l_orderkey",
            "key_rows",
            (F.col("key_rows").cast("double") / F.col("total_rows")).alias("key_share"),
            (
                F.col("key_rows").cast("double")
                / (F.col("total_rows").cast("double") / F.col("n_keys"))
            ).alias("skew_factor"),
        )
    )


def _with_next_type(events: DataFrame) -> DataFrame:
    """Each user's events with ``to_type``, the type of the user's next
    event in (ts, event_id) order; the last event of each user is
    dropped.  Twin of ``registry._TRANSITIONS_CTES``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )


def event_transition_matrix(t) -> DataFrame:
    """Markov transition matrix over per-user event streams: for every
    consecutive (event, next event) pair within a user's timeline,
    count occurrences per (from_type, to_type).

    The clickstream primitive behind next-action models and funnel
    mining — generalizes the reference's per-type counting
    (cmd/genmock/main.go:204-226) to sequential structure.

    Scale: one shuffle to sort each user's events (lead window), one
    map-side-combined aggregation over at most |types|^2 groups; no
    self-join (the naive pairing join would shuffle the fact table
    twice and explode on active users)."""
    return (
        _with_next_type(t["events"])
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count("*").alias("n"))
    )


def cohort_retention(t) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event; for each (cohort week, week offset) the number of
    distinct users still active that week.

    The cohort week comes from an unbounded MIN window over user_id —
    NOT a groupBy+join-back — so the whole query is one sort shuffle
    on user_id plus one distinct-aggregate shuffle (the join-back
    variant re-shuffles the fact table and its first-seen table can't
    broadcast at 10^9 users)."""
    w = Window.partitionBy("user_id")
    ev_week = F.date_trunc("week", F.col("ts"))
    cohort_week = F.date_trunc("week", F.min("ts").over(w))
    return (
        t["events"]
        .select("user_id", "ts")
        .withColumn("cohort_week", cohort_week)
        .withColumn(
            "week_offset",
            F.floor(F.datediff(ev_week, F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def linear_interpolate(t) -> DataFrame:
    """Linear interpolation of missing values on the time axis — the
    step past forward_fill_values: an 'error' event's value is
    reconstructed from the straight line between its nearest valid
    neighbours, weighted by timestamp distance; leading/trailing gaps
    fall back to nearest-value fill.

    Cross-engine float parity: the interpolation weight divides two
    BIGINT microsecond deltas — exactly representable in double, so
    prev + (next - prev) * ratio is the same IEEE op sequence in
    Spark and DuckDB (see tfidf_top_terms for the libm rationale).

    Scale: one shuffle on user_id, two in-partition sorts (forward and
    reversed).  The forward-neighbor lookup is a RUNNING ``last`` over
    the REVERSED sort, not ``first`` over a
    [currentRow, unboundedFollowing] frame: Spark's unbounded-following
    frame re-evaluates its aggregate from scratch at every row —
    O(rows²) per partition, measured 5.3 s of window CPU on the sf0.1
    events table — while the two running [unboundedPreceding,
    currentRow] frames are O(rows) each, and "first non-null at or
    after the current row in (ts, event_id) order" is by definition
    "last non-null at or before it in the exact reverse order"."""
    masked = F.when(F.col("event_type") != "error", F.col("value"))
    masked_ts = F.when(F.col("event_type") != "error", F.unix_micros(F.col("ts")))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_v = F.last(masked, ignorenulls=True).over(wb)
    next_v = F.last(masked, ignorenulls=True).over(wf)
    prev_t = F.last(masked_ts, ignorenulls=True).over(wb)
    next_t = F.last(masked_ts, ignorenulls=True).over(wf)
    ratio = (F.unix_micros(F.col("ts")) - prev_t) / (next_t - prev_t)
    interp = (
        F.when(masked.isNotNull(), masked)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * ratio)
    )
    return t["events"].select(
        "user_id", "event_id", interp.alias("interp_value")
    )


def correlation_stats(t) -> DataFrame:
    """Per-return-flag Pearson correlation and OLS slope of
    (quantity, extended price) — computed from decimal-routed moment
    sums, not the built-in ``corr`` (whose running double accumulation
    is partition-order dependent and engine specific).

    Each moment (sum x, sum y, sum xy, sum x^2, sum y^2) is a
    DECIMAL(30,0) sum of floor-quantized (×1e6) IEEE double products
    — floor fixed-point, not a decimal cast, because double→DECIMAL
    rounding is HALF_UP in Spark but half-even in DuckDB (see
    embedding_label_centroids).  Every input to the final
    double-arithmetic formula is therefore bit-identical across
    engines and partition counts.  One map-side-combined aggregation;
    moments are mergeable, so the same query incrementalizes (see
    incremental_agg_merge)."""

    def _m(expr, alias):
        return (
            F.sum(F.floor(expr * F.lit(1e6)).cast("decimal(30,0)")).cast("double")
            / F.lit(1e6)
        ).alias(alias)

    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("double").alias("n"),
            _m(x, "sx"),
            _m(y, "sy"),
            _m(x * y, "sxy"),
            _m(x * x, "sxx"),
            _m(y * y, "syy"),
        )
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (cov_n / F.sqrt(var_x * var_y)).alias("corr_qty_price"),
        (cov_n / var_x).alias("ols_slope"),
    )


def mad_outlier_stats(t) -> DataFrame:
    """Robust per-type outlier detection: median and MAD (median
    absolute deviation) of event values, and the count of events
    beyond 3 robust standard deviations (MAD × 1.4826).

    Both medians come from unbounded windows over event_type — two
    window passes on ONE partitioning (the second pass reuses the
    first's shuffle), not a groupBy+join-back, which would re-shuffle
    the fact table twice.  Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` share the interpolation definition (see
    percentile_summary), so the thresholds are engine-identical."""
    wp = Window.partitionBy("event_type")
    df = (
        t["events"]
        .select("event_type", "value")
        .withColumn("med", F.percentile("value", 0.5).over(wp))
        .withColumn(
            "mad", F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).over(wp)
        )
    )
    is_outlier = F.abs(F.col("value") - F.col("med")) > F.lit(3.0) * F.lit(
        1.4826
    ) * F.col("mad")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("med").alias("median_value"),
        F.min("mad").alias("mad"),
        F.sum(is_outlier.cast("long")).alias("n_outliers"),
    )


def ratio_to_report(t) -> DataFrame:
    """Percent-of-parent OLAP readout: each nation's share of its
    region's order revenue.  Revenue stays DECIMAL through both the
    per-nation aggregate and the region-total window sum — exact and
    order-independent — and only the final share division runs in
    double.  Dims broadcast; the single fact shuffle is the customer
    join."""
    o = t["orders"].select("o_custkey", "o_totalprice")
    c = t["customer"].select("c_custkey", "c_nationkey")
    n = t["nation"].select("n_nationkey", "n_name", "n_regionkey")
    r = t["region"].select("r_regionkey", "r_name")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    per_nation = joined.groupBy("r_name", "n_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("rev_dec")
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("rev_dec").cast("double").alias("nation_revenue"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w).cast("double")
        ).alias("region_share"),
    )


def equi_depth_histogram(t) -> DataFrame:
    """Quartile-bin (equi-depth) histogram of extended price: exact
    global quartiles, then one scan binning every row.  The quartile
    row is a 1-row broadcast — the two-pass shape any exact equi-depth
    binning needs at scale (single-pass would require a mergeable
    quantile sketch: see approx_quantile_summary)."""
    li = t["lineitem"].select("l_extendedprice")
    q = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))"
        ).alias("qs")
    )
    x = F.col("l_extendedprice")
    bin_ = (
        F.when(x <= F.col("qs")[0], 0)
        .when(x <= F.col("qs")[1], 1)
        .when(x <= F.col("qs")[2], 2)
        .otherwise(3)
    )
    return (
        li.crossJoin(F.broadcast(q))
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.min(x).alias("lo"),
            F.max(x).alias("hi"),
        )
    )


def _mid_us() -> Column:
    """The event timeline's midpoint in epoch µs, an aggregate over
    ``ts``.  Twin of ``registry._TIMELINE_MID_CTE``."""
    return (
        F.unix_micros(F.min("ts"))
        + (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 2
    ).alias("mid_us")


def distribution_drift_chi2(t, bin_width: float = 50.0) -> DataFrame:
    """Distribution drift between the first and second half of the
    event timeline: per-event-type chi-square statistic over
    fixed-width value bins — sum over bins of (p_i - q_i)^2 / q_i on
    proportions.  The data-quality monitor that catches a pipeline
    silently changing its value distribution (PSI without the libm
    ``ln`` that would break cross-engine determinism; every term here
    is rational arithmetic on decimal-exact counts).

    Scale: the timeline split point is a 1-row broadcast (min+max
    scan); binned counts aggregate map-side to |types|x|bins| rows;
    the chi-square reduce runs over that tiny grid."""
    ev = t["events"].select("event_type", "ts", "value")
    mid = ev.agg(_mid_us())
    binned = (
        ev.crossJoin(F.broadcast(mid))
        .withColumn(
            "half",
            F.when(F.unix_micros(F.col("ts")) < F.col("mid_us"), "a").otherwise("b"),
        )
        .groupBy(
            "event_type",
            "half",
            F.floor(F.col("value") / bin_width).cast("long").alias("bin"),
        )
        .agg(F.count("*").alias("n"))
    )
    per_half = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == "a", F.col("n")).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("half") == "b", F.col("n")).otherwise(0)).alias("nb"),
    )
    totals = per_half.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    p = F.col("na").cast("double") / F.col("ta")
    q = F.col("nb").cast("double") / F.col("tb")
    # guard: bins present in only one half contribute (p-q)^2 / (q + eps)
    eps = F.lit(1e-12)
    term = (p - q) * (p - q) / (q + eps)
    return (
        per_half.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum(
                F.floor(term * F.lit(1e9)).cast("decimal(25,0)")
            ).cast("double").alias("chi2_fp"),
        )
        .withColumn("chi2", F.col("chi2_fp") / F.lit(1e9))
        .drop("chi2_fp")
    )


def revenue_mom_growth(t) -> DataFrame:
    """Month-over-month revenue growth: monthly decimal-exact totals,
    then a lag ratio.  The ordered window runs over MONTH cardinality
    (the aggregate's output, dozens of rows), never the fact table —
    the safe place for a global ORDER BY window."""
    m = t["orders"].groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("rev_dec"))
    w = Window.orderBy("month")
    rev = F.col("rev_dec").cast("double")
    prev = F.lag("rev_dec").over(w).cast("double")
    return m.select(
        "month",
        rev.alias("revenue"),
        (rev / prev - 1.0).alias("mom_growth"),
    )


def grouped_top1_spender(t) -> DataFrame:
    """Top spender per order priority WITHOUT a ranking window: the
    argmax folds into a struct-max aggregation — (total, -custkey)
    compares lexicographically.  Struct-typed max compiles to
    SortAggregate (structs have no mutable hash buffer), but the sort
    is on the GROUP KEY only and partial_max still combines map-side,
    so the shuffle carries one candidate per (task, group) — versus
    the window form, which must shuffle AND value-sort every row of
    every group.  For top-1 this is the 100 TB-preferred shape
    (q9_grouped_topk keeps the window form for general k); ties break
    to the smallest customer key via the negated second field, and
    the decimal first field keeps the comparison exact."""
    per = t["orders"].groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("td")
    )
    best = per.groupBy("o_orderpriority").agg(
        F.max(
            F.struct(F.col("td"), (-F.col("o_custkey")).alias("nk"))
        ).alias("b")
    )
    return best.select(
        "o_orderpriority",
        F.col("b.td").cast("double").alias("total_spend"),
        (-F.col("b.nk")).alias("top_custkey"),
    )


def weekly_active_users(t) -> DataFrame:
    """Trailing-7-day distinct active users per report day (the
    WAU/DAU family): each event fans out to the 7 report days whose
    trailing window contains it, then one distinct-aggregate per day.

    The fan-out join-free shape is the scale answer for SLIDING
    distinct counts — distinct cannot merge across overlapping
    windows (unlike sums), so the x7 row expansion before a single
    map-side-pruned aggregation beats 7 separate scans or any
    window-function formulation."""
    day = F.to_date(F.col("ts"))
    return (
        t["events"]
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            day.alias("d"),
        )
        .select("user_id", F.date_add(F.col("d"), F.col("i")).alias("day"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


def event_cooccurrence_support(t) -> DataFrame:
    """Market-basket support over user behavior: for every pair of
    event types, the share of users who performed both — the
    association-mining primitive (frequent itemsets of size 2).

    The distinct (user, type) projection collapses the fact table
    FIRST (users x 5 types max), so the pair self-join runs on the
    reduced set and the support denominator is a 1-row broadcast —
    never a fact-scale cross join."""
    ut = t["events"].select("user_id", "event_type").distinct()
    total = ut.select("user_id").distinct().agg(
        F.count("*").alias("total_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_users"))
    )
    return pairs.crossJoin(F.broadcast(total)).select(
        "type_a",
        "type_b",
        "n_users",
        (F.col("n_users").cast("double") / F.col("total_users")).alias("support"),
    )


def conversion_latency_quantiles(t) -> DataFrame:
    """Click→purchase conversion latency distribution: for users whose
    first purchase follows their first click, exact quartiles of the
    microsecond gap (funnel_conversion tells HOW MANY convert; this
    tells HOW FAST).

    Latencies are integer epoch-microsecond differences, so the
    interpolated percentiles are engine-identical (see
    percentile_summary).  Two keyed aggregations and one equi-join on
    user_id; the final percentile reduce sees one row per converting
    user."""
    ev = t["events"].select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("tus")
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("tus").alias("fc"))
    )
    lat = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("tus") > F.col("fc"))
        .groupBy("user_id")
        .agg((F.min("tus") - F.min("fc")).alias("latency_us"))
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.expr("percentile(latency_us, 0.25D)").alias("p25_us"),
        F.expr("percentile(latency_us, 0.5D)").alias("p50_us"),
        F.expr("percentile(latency_us, 0.75D)").alias("p75_us"),
    )


def rfm_segment_counts(t) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quartile
    scores (1-4) per customer, reduced to per-segment counts.

    Scale-correct scoring: each dimension's quartile thresholds come
    from ONE exact-percentile aggregate broadcast back as a single
    row — never an ntile window over all customers, whose global
    ORDER BY funnels the customer table through one task.  Scores are
    1 + (x > q1) + (x > q2) + (x > q3): pure comparisons against
    engine-identical interpolated thresholds."""
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.unix_micros(F.max("o_orderdate")).alias("recency_us"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    q = per_cust.agg(
        F.expr("percentile(recency_us, array(0.25D, 0.5D, 0.75D))").alias("qr"),
        F.expr("percentile(frequency, array(0.25D, 0.5D, 0.75D))").alias("qf"),
        F.expr("percentile(monetary, array(0.25D, 0.5D, 0.75D))").alias("qm"),
    )

    def score(x, qs):
        return (
            F.lit(1)
            + (x > F.col(qs)[0]).cast("int")
            + (x > F.col(qs)[1]).cast("int")
            + (x > F.col(qs)[2]).cast("int")
        )

    return (
        per_cust.crossJoin(F.broadcast(q))
        .select(
            score(F.col("recency_us"), "qr").alias("r_score"),
            score(F.col("frequency"), "qf").alias("f_score"),
            score(F.col("monetary"), "qm").alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"))
    )


def weekly_churn_rate(t) -> DataFrame:
    """Weekly churn: of the users active in week w, how many have no
    activity in week w+1 (the final week is excluded — its churn is
    not yet observable).  Companion of cohort_retention.

    Shape: distinct (user, week) collapses the fact table first; the
    churn test is a lead() over each user's week sequence — one sort
    shuffle on user_id, then a per-week aggregate; no self-join of
    the activity table against itself."""
    uw = (
        t["events"]
        .select("user_id", F.date_trunc("week", F.col("ts")).alias("week"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("week")
    max_week = uw.agg(F.max("week").alias("max_week"))
    flagged = (
        uw.withColumn("next_week", F.lead("week").over(w))
        .crossJoin(F.broadcast(max_week))
        .filter(F.col("week") < F.col("max_week"))
        .withColumn(
            "churned",
            F.col("next_week").isNull()
            | (F.col("next_week") > F.date_add(F.col("week").cast("date"), 7)),
        )
    )
    return flagged.groupBy("week").agg(
        F.count("*").alias("n_active"),
        F.count(F.when(F.col("churned"), F.lit(1))).alias("n_churned"),
        (
            F.count(F.when(F.col("churned"), F.lit(1))).cast("double")
            / F.count("*")
        ).alias("churn_rate"),
    )


def segmented_running_total(t) -> DataFrame:
    """Running total of event value per user that RESETS at every
    'signup' event — the gaps-and-islands segmented cumulative sum
    (billing cycles, session spend, counters with checkpoints).

    Two stacked windows on one (user_id, ts) sort: a running count of
    reset markers assigns the segment id, then the cumulative sum
    runs per (user, segment).  The accumulation is decimal —
    windowed double sums are engine-divergent (DuckDB's segment-tree
    evaluation adds in a different order than Spark's sequential
    frame scan), decimal addition is order-free."""
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = F.sum(
        F.when(F.col("event_type") == "signup", 1).otherwise(0)
    ).over(wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df = t["events"].select(
        "user_id", "event_id", "ts", "event_type", "value"
    ).withColumn("segment", seg)
    wrun = Window.partitionBy("user_id", "segment").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        "user_id",
        "event_id",
        "segment",
        F.sum(F.col("value").cast("decimal(25,6)"))
        .over(wrun)
        .cast("double")
        .alias("running_value"),
    )


def part_affinity_topk(t, k: int = 25) -> DataFrame:
    """Parts bought together: top-k part pairs by co-occurrence count
    across orders — market-basket affinity on the FACT table (the
    event_cooccurrence_support of a 10^9-order world).

    Scale: the pair expansion is a self-join WITHIN l_orderkey (pair
    count per order is bounded by order width squared, not table
    size), the pair aggregate combines map-side, and the top-k is
    TakeOrderedAndProject — no global sort, no driver collection."""
    li = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(k)
    )


def markov_prediction_accuracy(t) -> DataFrame:
    """Train/eval of the Markov next-event predictor inside the
    engine: transitions from the first half of the timeline train an
    argmax next-type table; transitions starting in the second half
    score it.  Per from_type: eval count, hits, accuracy — the
    pattern every in-warehouse model-quality job follows (temporal
    split, no leakage: a transition belongs to the half of its FIRST
    event).

    Shapes already proven elsewhere: lead window for pairs
    (event_transition_matrix), 1-row broadcast split point
    (distribution_drift_chi2), sort-free struct-max argmax
    (grouped_top1_spender; ties break to the lexicographically
    larger type).  The predictor table is |types| rows — broadcast."""
    pairs = _with_next_type(t["events"]).select(
        "ts", F.col("event_type").alias("from_type"), "to_type"
    )
    mid = t["events"].agg(_mid_us())
    staged = pairs.crossJoin(F.broadcast(mid)).withColumn(
        "is_train", F.unix_micros(F.col("ts")) < F.col("mid_us")
    )
    train_counts = (
        staged.filter("is_train")
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    model = train_counts.groupBy("from_type").agg(
        F.max(F.struct(F.col("n"), F.col("to_type"))).alias("b")
    ).select("from_type", F.col("b.to_type").alias("predicted"))
    ev = staged.filter(~F.col("is_train"))
    return (
        ev.join(F.broadcast(model), "from_type")
        .groupBy("from_type")
        .agg(
            F.count("*").alias("n_eval"),
            F.count(F.when(F.col("to_type") == F.col("predicted"), F.lit(1))).alias(
                "n_correct"
            ),
        )
        .withColumn(
            "accuracy", F.col("n_correct").cast("double") / F.col("n_eval")
        )
    )


def seasonality_profile(t) -> DataFrame:
    """Activity seasonality: event share per (ISO weekday, hour-of-day)
    cell — the load-shape profile behind capacity planning and
    anomaly baselines.  ISO weekday (1=Monday) on both engines sidesteps
    the classic off-by-one: Spark's dayofweek() counts 1=Sunday while
    DuckDB's dayofweek() counts 0=Sunday; weekday()+1 == isodow.

    One map-side-combined aggregate over 7x24 cells; the total is a
    1-row broadcast."""
    cells = (
        t["events"]
        .groupBy(
            (F.weekday(F.col("ts")) + 1).alias("dow_iso"),
            F.hour(F.col("ts")).alias("hour"),
        )
        .agg(F.count("*").alias("n"))
    )
    total = t["events"].agg(F.count("*").alias("total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow_iso",
        "hour",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
    )


JACKKNIFE_GROUPS = 10


def jackknife_mean_ci(t, g: int = JACKKNIFE_GROUPS) -> DataFrame:
    """Mean event value per type WITH an error bar: delete-one-group
    jackknife over g deterministic hash buckets — distributed
    uncertainty estimation without random sampling (a hash bucket is
    reproducible across runs, engines, and cluster layouts; a random
    bootstrap is not).

    SE = sqrt((g-1)/g * sum_i (m_i - mean(m_i))^2) over the g
    leave-one-bucket-out means.  All bucket sums are decimal-exact,
    so every m_i — and therefore the interval — is deterministic.
    One aggregation over (type, bucket) cells, then per-type
    combination over g rows: two tiny shuffles."""
    bucket = (F.col("event_id") % g).cast("int")
    cells = (
        t["events"]
        .groupBy("event_type", bucket.alias("b"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("s"),
        )
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n").alias("n_tot"), F.sum("s").alias("s_tot")
    )
    loo = (
        cells.join(totals, "event_type")
        .select(
            "event_type",
            "n_tot",
            "s_tot",
            (
                (F.col("s_tot") - F.col("s")).cast("double")
                / (F.col("n_tot") - F.col("n")).cast("double")
            ).alias("m_i"),
        )
    )
    agg = loo.groupBy("event_type").agg(
        F.min("n_tot").alias("n"),
        (F.min("s_tot").cast("double") / F.min("n_tot")).alias("mean_value"),
        F.count("*").alias("g"),
        (
            F.sum(F.floor(F.col("m_i") * F.lit(1e9)).cast("decimal(25,0)")).cast(
                "double"
            )
            / F.lit(1e9)
        ).alias("sum_mi"),
        (
            F.sum(
                F.floor(F.col("m_i") * F.col("m_i") * F.lit(1e9)).cast(
                    "decimal(25,0)"
                )
            ).cast("double")
            / F.lit(1e9)
        ).alias("sum_mi2"),
    )
    var_term = (
        F.col("sum_mi2") - F.col("sum_mi") * F.col("sum_mi") / F.col("g")
    )
    se = F.sqrt((F.col("g") - 1.0) / F.col("g") * var_term)
    return agg.select(
        "event_type",
        "n",
        "mean_value",
        se.alias("jackknife_se"),
        (F.col("mean_value") - 1.96 * se).alias("ci_lo"),
        (F.col("mean_value") + 1.96 * se).alias("ci_hi"),
    )


def _hourly_counts_filled(t) -> DataFrame:
    """One row per hour between the observed min/max hours with the
    event count, zero-filled — the regular grid both the seasonal
    anomaly monitor and the autocorrelation diagnostic need (a plain
    groupBy silently drops empty hours and would bias both)."""
    hourly = (
        t["events"]
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("n"))
    )
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    return spine.join(hourly, "h", "left").select(
        "h", F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n")
    )


ACF_MAX_LAG = 24


def hourly_autocorrelation(t, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at
    lags 1..24 — the standard seasonality/burstiness diagnostic (a
    daily cycle shows as a peak at lag 24, an anti-phase half-day
    trough at lag 12).

    Determinism: hourly counts are integers, so every moment sum
    (sum x, sum y, sum xy, sum x^2, sum y^2) is EXACT integer
    arithmetic — no quantization needed anywhere; the only floating
    point is the final Pearson formula over bit-identical integer
    inputs (IEEE * - / sqrt are correctly rounded, hence
    engine-identical).

    Scale: the fact table collapses to hour cardinality (~9k
    rows/year) in a map-side combined aggregate first; the 24 lead()
    columns share ONE global-order window (a single-partition sort,
    intentional and cheap at hour cardinality — never applied to the
    fact table), and the explode fans each hour into at most 24
    (lag, pair) rows before a tiny 24-group aggregate."""
    filled = _hourly_counts_filled(t)
    w = Window.orderBy("h")
    lags = list(range(1, max_lag + 1))
    leads = filled.select(
        "n", *[F.lead("n", k).over(w).alias(f"l{k}") for k in lags]
    )
    pairs = (
        leads.select(
            F.col("n").alias("x"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag_hours"),
                            F.col(f"l{k}").alias("y"),
                        )
                        for k in lags
                    ]
                )
            ).alias("p"),
        )
        .select("x", F.col("p.lag_hours").alias("lag_hours"), F.col("p.y").alias("y"))
        .filter(F.col("y").isNotNull())
    )
    m = pairs.groupBy("lag_hours").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "lag_hours",
        "n_pairs",
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "acf"
        ),
    )


def seasonal_anomaly_hours(t) -> DataFrame:
    """Seasonality-aware anomaly detection on hourly event volume:
    each hour's count is compared against the robust baseline of its
    own (ISO weekday, hour-of-day) cell — median and MAD across the
    weeks — and hours beyond ``max(3 * 1.4826 * MAD, 2)`` are flagged.
    The 2-count floor keeps a zero-MAD cell (common with few weekly
    samples) from flagging every ±1 fluctuation.

    Gap-aware: the hour spine is generated with ``sequence`` between
    the observed min/max hours, so an hour with ZERO events — invisible
    to a plain groupBy, and exactly the outage a monitor must catch —
    is scored like any other observation.

    Scale: the fact table collapses to one row per hour in a map-side
    combined aggregate before anything else; the spine join and both
    window passes run at hour cardinality (~9k rows/year).  The two
    percentile windows share one (dow, hour) partitioning, so the
    second reuses the first's shuffle."""
    cells = _hourly_counts_filled(t).select(
        "h",
        "n",
        (F.weekday(F.col("h")) + 1).alias("dow_iso"),
        F.hour(F.col("h")).alias("hour"),
    )
    wc = Window.partitionBy("dow_iso", "hour")
    d = cells.withColumn("med", F.percentile("n", 0.5).over(wc)).withColumn(
        "mad", F.percentile(F.abs(F.col("n") - F.col("med")), 0.5).over(wc)
    )
    threshold = F.greatest(
        F.lit(3.0) * F.lit(1.4826) * F.col("mad"), F.lit(2.0)
    )
    return d.filter(F.abs(F.col("n") - F.col("med")) > threshold).select(
        F.col("h").alias("hour_ts"),
        "dow_iso",
        "hour",
        "n",
        "med",
        "mad",
        F.abs(F.col("n") - F.col("med")).alias("deviation"),
    )


def gini_by_source(t) -> DataFrame:
    """Per-source Gini coefficient of document lengths — the
    length-inequality profile of each corpus slice (near-1 = a few
    giant docs dominate the token budget; near-0 = uniform).

    API surface: a GROUPED_AGG pandas UDF (Series -> scalar UDAF) —
    Arrow ships each group's n_chars column to Python in one batch,
    the right tool when the per-group statistic genuinely needs
    imperative code.  Deterministic across engines because the
    numerator sum((2i-n-1)*x_sorted_i) and denominator n*sum(x) are
    exact int64 (tied x make the tied block's coefficient sum
    order-invariant); the only float op is the final division.

    Scale: one shuffle on source; each group must fit one pandas
    Series (fine for per-source profiles; for billions-of-docs
    sources, pre-aggregate to (n_chars, count) pairs first).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _gini(x):
        import numpy as np

        v = np.sort(x.to_numpy(np.int64))
        n = v.size
        s = int(v.sum())
        if n == 0 or s == 0:
            return 0.0
        num = int(((2 * np.arange(1, n + 1, dtype=np.int64) - n - 1) * v).sum())
        return num / float(n * s)

    # real annotation objects: the module-wide `from __future__ import
    # annotations` would stringize inline hints, breaking pyspark's
    # GROUPED_AGG eval-type inference
    _gini.__annotations__ = {"x": pd.Series, "return": float}
    gini = pandas_udf(_gini, "double")

    return (
        t["documents"]
        .groupBy("source")
        .agg(gini(F.col("n_chars")).alias("gini_n_chars"))
    )


def revenue_pareto_curve(t) -> DataFrame:
    """Revenue-concentration (Pareto) curve: customers ranked by
    lifetime order value, cut into deciles, each decile's share of
    total revenue — the "do 20% of customers carry 80% of revenue?"
    readout.

    Revenue sums run in DECIMAL end-to-end (including through the
    ntile ranking) so decile totals are partition-order-exact; the
    only doubles are the final share divisions.  The global ranking is
    customer-cardinality — still data-sized, so it uses the
    DISTRIBUTED exact ntile (``with_global_ntile``: range-partitioned
    sort + broadcast offsets), never an unpartitioned window that
    funnels every customer into one partition; the grand total
    broadcasts as one row instead of an all-rows window frame.
    """
    rev = t["orders"].groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("rev")
    )
    deciled = with_global_ntile(
        rev, 10, [F.desc("rev"), F.asc("o_custkey")], "decile"
    )
    total = rev.agg(F.sum("rev").alias("total_rev"))
    return (
        deciled.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("rev").alias("decile_rev"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            F.col("decile_rev").cast("double").alias("decile_revenue"),
            (
                F.col("decile_rev").cast("double")
                / F.col("total_rev").cast("double")
            ).alias("revenue_share"),
        )
    )


def daily_user_sketch_rollup(t) -> DataFrame:
    """Incremental distinct counting with MERGEABLE Datasketches HLL:
    per-day user sketches (`hll_sketch_agg`), then the month's
    distinct users by UNIONING the stored sketches — never
    re-scanning the days.  The 100 TB cardinality workflow: persist
    one small binary sketch per (day, dimension) partition, answer
    any date-range distinct-count query by union, with ~2% error and
    zero raw-data reads.

    The estimates are sketch-internal values no SQL oracle can
    reproduce, so the oracle-checked contract is exact columns
    (day, n_events) plus a Spark-verified error-bound flag:
    ``|estimate - exact| ≤ max(3% · exact, 2)`` per day AND for the
    union row.  The bound is calibrated, not hoped for: at the
    default lgK=12 the flag held at gate scale only because tens of
    days × tens of thousands of distincts never left HLL's
    near-exact sparse mode — at the synthesized x16 step the dense
    estimator's real error (measured max 3.9%, avg 2.3% over 31
    days) broke a 3% bound.  lgK=14 measures max 1.5% / avg 0.6% on
    the same data, so 3% carries ≥2x headroom at a sketch cost of
    16 KB/day.  The exact distincts here exist only to verify the
    sketch — a production rollup would persist the sketches alone.
    Output: one row per day + one '__all__' row from the union;
    magnitudes additionally error-bounded in the unit test."""
    days = t["events"].select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    daily = days.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("exact_u"),
    )

    def within(est, exact):
        return F.abs(est - exact) <= F.greatest(
            F.lit(0.03) * exact, F.lit(2.0)
        )

    per_day = daily.select(
        "day",
        "n_events",
        F.expr("hll_sketch_estimate(sk)").alias("est_users"),
        within(
            F.expr("hll_sketch_estimate(sk)"), F.col("exact_u").cast("double")
        ).alias("est_within_bound"),
    )
    exact_all = days.agg(F.countDistinct("user_id").alias("exact_all"))
    unioned = (
        daily.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_all"),
            F.sum("n_events").alias("n_events"),
        )
        .crossJoin(F.broadcast(exact_all))
        .select(
            F.lit("__all__").alias("day"),
            "n_events",
            F.col("est_all").alias("est_users"),
            within(F.col("est_all"), F.col("exact_all").cast("double")).alias(
                "est_within_bound"
            ),
        )
    )
    # est_users stays in the public output (the sketch's whole point);
    # the registry oracle entry projects it away as engine-specific.
    return per_day.unionByName(unioned)


CEP_WINDOW_MICROS = 3_600_000_000  # 1 hour


def cep_click_error_pattern(t) -> DataFrame:
    """CEP-lite sequence detection with window frames: per user,
    CLICK followed by an ERROR within one hour with NO PURCHASE in
    between — the "A then B within T without C" pattern class
    (Flink MATCH_RECOGNIZE territory) expressed as two range-frame
    minima over one per-user sort:

    for each click, the next error and next purchase timestamps
    inside the hour come from ``min(CASE ...)`` over
    ``RANGE [0, 1h]`` frames on the microsecond axis; the pattern
    fires when the error exists and precedes any purchase.  One
    shuffle on user_id, both frames share the sort — no self-joins,
    no exploding intermediate of candidate pairs.

    Output: per-user pattern count + the user's click volume.
    """
    ev = t["events"].select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tm"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tm")
        .rangeBetween(0, CEP_WINDOW_MICROS)
    )
    next_error = F.min(
        F.when(F.col("event_type") == "error", F.col("tm"))
    ).over(w)
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("tm"))
    ).over(w)
    flagged = (
        ev.withColumn("ne", next_error)
        .withColumn("np", next_purchase)
        .filter(F.col("event_type") == "click")
        .withColumn(
            "matched",
            F.col("ne").isNotNull()
            & (F.col("np").isNull() | (F.col("np") > F.col("ne"))),
        )
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_clicks"),
        F.sum(F.col("matched").cast("long")).alias("n_patterns"),
    )


def type_weekday_mutual_information(t) -> DataFrame:
    """Mutual information (nats) between event type and ISO weekday —
    the association-strength companion to the chi-square drift
    monitor: MI ≈ 0 means the type mix is day-independent (safe to
    sample by day); rising MI means weekday-conditioned behaviour.

    Exact contingency counts from one groupBy; MI terms
    n_xy·ln(n_xy·N/(n_x·n_y)) use a floor-1e-6-quantized ln scaled by
    the exact integer n_xy, so the statistic is bit-deterministic and
    oracle-hashable (same contract as bigram_surprisal_scores).
    """
    cells = (
        t["events"]
        .groupBy(
            "event_type",
            F.dayofweek("ts").alias("dow"),
        )
        .agg(F.count("*").alias("n_xy"))
    )
    margins_x = cells.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    margins_y = cells.groupBy("dow").agg(F.sum("n_xy").alias("n_y"))
    total = cells.agg(F.sum("n_xy").alias("n"))
    term_q = F.col("n_xy") * F.floor(
        F.log(
            (F.col("n_xy") * F.col("n")).cast("double")
            / (F.col("n_x") * F.col("n_y"))
        )
        * 1e6
    ).cast("long")
    return (
        cells.join(F.broadcast(margins_x), "event_type")
        .join(F.broadcast(margins_y), "dow")
        .crossJoin(F.broadcast(total))
        .agg(
            (F.sum(term_q).cast("double") / (F.lit(1e6) * F.max("n"))).alias(
                "mi_nats"
            ),
            F.count("*").alias("n_cells"),
            F.max("n").alias("n_events"),
        )
    )
