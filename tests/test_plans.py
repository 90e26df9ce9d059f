"""Physical-plan audits: assert the plans Catalyst produces are the
plans a 100 TB cluster needs — broadcasts on dimension joins, filter
pushdown into the parquet scan, column pruning, top-k without a full
sort, and a UDF-free enrichment path."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import re
from contextlib import contextmanager
from pathlib import Path

import pytest

from storm_data_etl_service_spark.operators.registry import REGISTRY

REPO = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location(
    "explain_dump", REPO / "scripts" / "explain_dump.py"
)
explain_dump = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_dump)


def plan_of(name, spark, sf_dir) -> str:
    df = REGISTRY[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dimension_joins_broadcast(spark, sf_dir):
    for q in ["q14_join_compare", "tpch_q5_regional_revenue", "tpch_q3_top_revenue_orders"]:
        plan = plan_of(q, spark, sf_dir)
        assert "BroadcastHashJoin" in plan, f"{q} lost its broadcast:\n{plan[:2000]}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of("q3_filter_eq_count", spark, sf_dir)
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:200], (
        "l_returnflag filter not pushed to parquet:\n" + plan[:2000]
    )


def test_column_pruning(spark, sf_dir):
    plan = plan_of("tpch_q1_pricing_summary", spark, sf_dir)
    scan = plan[plan.index("ReadSchema") :][:400]
    assert "l_extendedprice" in scan
    # unused columns must not be read
    assert "l_partkey" not in scan and "l_suppkey" not in scan, scan


def test_topn_uses_take_ordered(spark, sf_dir):
    plan = plan_of("q9_topn", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_enrichment_has_no_python_eval(spark, sf_dir):
    plan = plan_of("enrich_events", spark, sf_dir)
    assert "EvalPython" not in plan
    # '*(n)' prefixes mark whole-stage-codegen'd operators
    assert "WholeStageCodegen" in plan or "*(" in plan, plan[:1200]


#: The ONLY queries allowed to leave the JVM: opaque-media kernels
#: (no expression can decode bytes), the Misra-Gries candidate sketch
#: (genuinely imperative per-partition state), and the deliberate
#: Python-API demonstrations, each of whose docstrings steers hot
#: paths to the expression equivalent.
INTENTIONAL_PYTHON_OPS = [
    "multimodal_decode_stats",
    "image_resize_stats",
    "video_frame_sample",
    "heavy_hitter_bigrams",
    "token_spans_udtf",
    "user_resequence_pandas",
    # GROUPED_AGG pandas UDAF demonstration (ArrowAggregatePython).
    "gini_by_source",
    # The three Arrow pair kernels below compute their cosines in one
    # shared core, similarity._cosine_core: blocked, vectorized across
    # pairs, per-scalar fold order bit-identical to the Column/DuckDB
    # twin.
    # SemDeDup's within-cell pair kernel (_cell_pairs_kernel) avoids
    # materializing pair rows with both vectors in the cid shuffle.
    # Present in every consumer of semdedup_pairs.
    "semdedup",
    "semdedup_pairs",
    "semdedup_auto",
    "crossmodal_dedup_agreement",
    "dedup_ladder_report",
    # kNN graph's per-bucket top-k kernel (_bucket_topk_kernel) over
    # _cosine_core, keyed on the LSH bucket instead of the k-means
    # cell.
    "knn_graph_lsh",
    # Same kernel (k=1) keyed on LSH bucket for eval-vs-train nearest
    # search; the Arrow boundary is shared with knn_graph_lsh.
    "eval_semantic_contamination",
    # Matryoshka audit's per-bucket prefix-cosine kernel
    # (_matryoshka_bucket_kernel): _cosine_core snapshots of one
    # incremental dim loop; pair rows and the ×4 width crossJoin never
    # materialize.
    "matryoshka_truncation_audit",
]


#: The entries allowed a BroadcastNestedLoopJoin, each because its
#: build side is provably tiny (a 1-row aggregate or a bounded literal
#: table), which makes the join a broadcast map-side operation, not an
#: n^2 loop over data.  Exactly these entries have one at sf0.001.
BNLJ_JUSTIFIED = {
    # --- 1-row scalar-subquery broadcasts (threshold / total / split
    #     point)
    "neardup_triangle_estimate": "1-row kept-edge count x 1-row sampled-census total",
    "triangle_stats": "1-row kept-edge count x 1-row census total (the "
    "dispatched estimate rung; the wedge probe itself is join-free)",
    "tfidf_top_terms": "1-row corpus-size scalar",
    "bigram_surprisal_scores": "1-row vocab-size scalar",
    "tpch_q22_idle_customers": "1-row average-balance scalar",
    "tpch_q11_important_values": "1-row total-value threshold scalar",
    "tpch_q20_excess_shippers": "1-row avg-qty scalar per partkey probe (non-equi residual)",
    "distribution_drift_chi2": "1-row totals scalar",
    "revenue_pareto_curve": "1-row grand-total scalar",
    "dedup_ladder_report": "1-row per-rung counts union",
    "vocab_growth_curve": "1-row vocab total",
    "corpus_dataset_card": "1-row corpus rollup",
    "equi_depth_histogram": "1-row count scalar for bucket sizing",
    "balance_deciles": "1-row total-count scalar for the distributed-ntile arithmetic",
    "curriculum_order": "1-row total-count scalar for the equi-depth band arithmetic",
    "daily_user_sketch_rollup": "1-row exact-distinct scalar verifying the sketch union",
    "outlier_filter_count": "1-row quantile-threshold scalar (value > q residual)",
    "cms_token_frequencies": "1-row sketch-parameter scalar",
    "join_skew_report": "1-row total-rows scalar for skew ratio",
    "event_cooccurrence_support": "1-row transaction-count scalar",
    "rfm_segment_counts": "1-row R/F/M quantile-threshold scalars",
    "weekly_churn_rate": "1-row max-week scalar (week < max_week residual)",
    "markov_prediction_accuracy": "1-row time-split scalar (train/test midpoint)",
    "seasonality_profile": "1-row grand-total scalar",
    "bm25_doc_ranking": "1-row corpus N + avgdl scalars",
    "heavy_hitter_bigrams": "1-row exact-threshold scalar gating the recount",
    "label_top_terms": "1-row corpus-total scalar",
    "type_weekday_mutual_information": "1-row joint-total scalar",
    "dedup_incremental_minhash": "1-row batch-boundary scalar (doc_id >= t0 residual)",
    "eval_semantic_contamination": "1-row id-split scalar (vec_id < / >= t0 residual)",
    "bloom_dedup_report": "1-row batch-boundary scalar (doc_id < / >= t0 residual)",
    "embedding_exact_dedup": "1-row per-dim-scales array broadcast",
    # --- bounded K-row broadcasts: centroid tables / codebooks whose
    #     cardinality is a fixed hyperparameter
    "semdedup": "K-row k-means centroid table (fixed K) + 1-row scalars",
    "semdedup_pairs": "K-row k-means centroid table (fixed K) + 1-row scalars",
    "semdedup_auto": "K-row centroid table (K derived from one count) + 1-row scalars",
    "crossmodal_dedup_agreement": "K-row centroid broadcast (semdedup side) + 1-row scalars",
    "ann_ivf_search": "K-row IVF centroid table broadcast (assign + probe)",
    "ann_ivf_auto": "K-row IVF centroid table broadcast (K derived from n, assign + probe)",
    "ann_pq_search": "K-row codebook / distance-LUT broadcasts per subspace",
    "nearest_centroid_accuracy": "K-row centroid table broadcast",
    # --- documented brute-force baselines: the bounded query set is the
    #     broadcast side; the LSH/IVF/PQ entries are the scale path
    "ann_cosine_topk": "bounded query-set broadcast (brute-force baseline)",
    "embedding_near_dup": "all-pairs cosine baseline (documented n^2/2 oracle anchor)",
    # --- bounded literal or source-sized tables
    "source_divergence_matrix": "S^2/2-row source-pair grid (S = #sources) + 1-row joint-vocab scalar",
    "dsir_importance_weights": "1-row model-total scalars crossed onto the fixed 4096-row bucket table",
    "context_fill_efficiency": "3-row literal context-length table crossed onto the doc token counts",
}

#: Executed-plan operators counted in each plans/manifest.json row.
PLAN_OPERATORS = {
    "scans": r"\bFileScan ",
    "exchanges": r"\bExchange ",
    "broadcast_joins": r"\bBroadcastHashJoin ",
    "sort_merge_joins": r"\bSortMergeJoin ",
    "shuffled_hash_joins": r"\bShuffledHashJoin ",
    "nested_loop_joins": r"\bBroadcastNestedLoopJoin ",
    # Arrow-batched Python: pandas/Arrow maps, UDTFs and UDAFs
    "arrow_python": r"\b(?:ArrowEvalPython|ArrowAggregatePython|ArrowWindowPython"
    r"|\w*In(?:Pandas|Arrow))\w*",
    # row-at-a-time pickled Python (UDFs and UDTFs)
    "batch_python": r"\bBatchEvalPython",
}

MANIFEST = REPO / "plans" / "manifest.json"


def test_stable_plan_orders_multi_distinct_groups():
    """The two plans Spark prints for distinct_counts, depending on the
    expression-id counter at build time, canonicalize to one string."""
    a = """Aggregate [count(user_id#19L) FILTER (WHERE (gid#18 = 1)) AS n_users#8L, count(event_type#20) FILTER (WHERE (gid#18 = 2)) AS n_types#9L]
+- Aggregate [user_id#19L, event_type#20, gid#18], [user_id#19L, event_type#20, gid#18]
   +- Expand [[user_id#2L, null, 1], [null, event_type#3, 2]], [user_id#19L, event_type#20, gid#18]
      +- Project [user_id#2L, event_type#3]"""
    b = """Aggregate [count(user_id#31L) FILTER (WHERE (gid#30 = 2)) AS n_users#8L, count(event_type#32) FILTER (WHERE (gid#30 = 1)) AS n_types#9L]
+- Aggregate [event_type#32, user_id#31L, gid#30], [event_type#32, user_id#31L, gid#30]
   +- Expand [[event_type#3, null, 1], [null, user_id#2L, 2]], [event_type#32, user_id#31L, gid#30]
      +- Project [user_id#2L, event_type#3]"""
    assert explain_dump.stable_plan(a) == explain_dump.stable_plan(b)
    # lines without the gid column keep their order
    assert "Project [user_id, event_type]" in explain_dump.stable_plan(a)


def test_only_intentional_ops_use_python(spark, sf_dir, tmp_path):
    """One pass over every registry entry's plans.  It checks the Python
    whitelist and the hard rules (no CartesianProduct, no row-at-a-time
    Python, BroadcastNestedLoopJoin exactly on BNLJ_JUSTIFIED), and that
    each entry's manifest row (a hash of its stable optimized plan and
    its executed-plan operator counts) equals plans/manifest.json."""
    # Earlier tests cache some entries' outputs, and a cached relation
    # replaces the subtree it matches: take every row on an empty cache.
    spark.catalog.clearCache()
    rows, cartesian = {}, []
    for name, spec in REGISTRY.items():
        qe = spec.build(spark, sf_dir)._jdf.queryExecution()
        executed = qe.executedPlan().toString()
        optimized = explain_dump.stable_plan(qe.optimizedPlan().toString())
        rows[name] = {
            "plan": hashlib.sha256(optimized.encode()).hexdigest()[:12],
            **{k: len(re.findall(p, executed)) for k, p in PLAN_OPERATORS.items()},
        }
        if "CartesianProduct" in executed:
            cartesian.append(name)
    python_ops = [n for n, r in rows.items() if r["arrow_python"] or r["batch_python"]]
    assert sorted(python_ops) == sorted(INTENTIONAL_PYTHON_OPS), python_ops
    assert not cartesian, f"CartesianProduct in {cartesian}"
    assert not [n for n in python_ops if rows[n]["batch_python"]]
    bnlj = sorted(n for n, r in rows.items() if r["nested_loop_joins"])
    assert bnlj == sorted(BNLJ_JUSTIFIED), (
        f"unjustified BNLJ: {sorted(set(bnlj) - set(BNLJ_JUSTIFIED))}; "
        f"stale whitelist keys: {sorted(set(BNLJ_JUSTIFIED) - set(bnlj))}"
    )
    committed = json.loads(MANIFEST.read_text()) if MANIFEST.exists() else {}
    moved = {}  # entry -> {field: (committed, now)}
    for n in sorted(rows.keys() | committed.keys()):
        old, new = committed.get(n, {}), rows.get(n, {})
        if old != new:
            moved[n] = {
                k: (old.get(k), new.get(k))
                for k in sorted(old.keys() | new.keys())
                if old.get(k) != new.get(k)
            }
    if moved:
        observed = tmp_path / "manifest.json"
        observed.write_text(
            "{\n"
            + ",\n".join(f"{json.dumps(n)}: {json.dumps(rows[n])}" for n in sorted(rows))
            + "\n}\n"
        )
    assert not moved, (
        f"{len(moved)} plan rows moved: {moved}\n"
        f"if the plans changed on purpose: cp {observed} {MANIFEST}"
    )


def test_exact_dedup_has_partial_aggregation(spark, sf_dir):
    """Hash-groupBy dedup must partial-aggregate map-side (the whole
    point of groupBy-over-window for exact dedup at scale)."""
    plan = plan_of("dedup_exact", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2, plan[:1500]


def test_semi_and_anti_joins_stay_semi(spark, sf_dir):
    """EXISTS / NOT EXISTS re-expressions must compile to semi/anti
    hash joins (no row expansion), and the Q22 anti join against
    filtered orders should broadcast the date-filtered build side."""
    # q4's EXISTS is decorrelated one step further than a semi join:
    # max(l_shipdate) per order (map-side-combined pre-agg, scan-pushed
    # l_shipdate bound) joined 1:1 — no 33 MB fact broadcast, no row
    # expansion (the agg key is unique).
    plan = plan_of("tpch_q4_priority_semijoin", spark, sf_dir)
    assert "max(l_shipdate" in plan, plan[:1500]
    assert "1996-01-01" in plan.split("Scan parquet")[1][:900], plan[:1500]
    plan = plan_of("tpch_q22_idle_customers", spark, sf_dir)
    assert "LeftAnti" in plan, plan[:1500]


def test_q17_threshold_is_single_pass_window(spark, sf_dir):
    """The decorrelated per-part threshold must come from ONE window
    pass over one scan — a join-back would scan lineitem twice, and
    at 100 TB the threshold table (partkey cardinality) can't
    broadcast, forcing a second fact shuffle."""
    plan = plan_of("tpch_q17_small_quantity_revenue", spark, sf_dir)
    assert "Window" in plan, plan[:1500]
    assert plan.count("Scan parquet") == 1, plan[:1500]


def test_q19_extracts_equi_key(spark, sf_dir):
    """The disjunctive predicate must not force a cartesian product:
    Catalyst extracts the common l_partkey = p_partkey equi-key."""
    plan = plan_of("tpch_q19_disjunctive_filter", spark, sf_dir)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q21_decorrelates_to_single_fact_shuffle(spark, sf_dir):
    """The EXISTS/NOT-EXISTS self-join is decorrelated into three
    stacked windows sharing ONE l_orderkey exchange; lineitem is
    scanned once and both order/supplier joins broadcast — no
    semi/anti fact self-joins anywhere in the plan."""
    plan = plan_of("tpch_q21_waiting_suppliers", spark, sf_dir)
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan[:2000]
    assert plan.count("Window") == 3, plan[:2000]
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1, plan[:2000]
    assert plan.count("Scan parquet") <= 3  # lineitem once + two dims


def test_q8_dimension_chain_broadcasts(spark, sf_dir):
    # part, supplier→nation, customer→nation→region must all broadcast;
    # the only shuffle joins are fact-fact.
    plan = plan_of("tpch_q8_market_share", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2500]


def test_q13_outer_join_keeps_zero_order_customers(spark, sf_dir):
    df = REGISTRY["tpch_q13_customer_distribution"].build(spark, sf_dir)
    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(rows.values()) == n_cust  # every customer lands in exactly one bucket


def test_join_skew_report_distributed_topk(spark, sf_dir):
    """Top-k over per-key counts must be TakeOrderedAndProject, not a
    global-window funnel through one partition."""
    plan = plan_of("join_skew_report", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_join_hints_override_strategy(spark, sf_dir):
    """The engine exposes Spark's join-strategy hints: the same
    logical join compiles to SortMergeJoin, ShuffledHashJoin, or
    BroadcastHashJoin depending on the hint — the manual override
    for when a 100 TB planner knows better than the statistics."""
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.schemas import load_tables

    t = load_tables(spark, sf_dir)
    o = t["orders"].select("o_orderkey", "o_custkey")
    li = t["lineitem"].select("l_orderkey")

    def physical(hint):
        joined = li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
        return joined._jdf.queryExecution().executedPlan().toString()

    assert "SortMergeJoin" in physical("merge")
    assert "ShuffledHashJoin" in physical("shuffle_hash")
    assert "BroadcastHashJoin" in physical("broadcast")


def test_new_window_ops_single_exchange(spark, sf_dir):
    """linear_interpolate's forward and backward lookups are TWO
    running [unboundedPreceding, currentRow] Windows (forward and
    reverse sort) sharing ONE Exchange — never an unbounded-FOLLOWING
    frame, which Spark re-evaluates from scratch per row (O(rows²) per
    partition; measured 5.3 s of window CPU on the sf0.1 events
    table vs 0.2 s for the reversed running form).
    mad_outlier_stats' MAD window reuses the median window's
    partitioning (one Exchange before the final agg)."""
    plan = plan_of("linear_interpolate", spark, sf_dir)
    assert plan.count("Exchange") == 1, plan[:2000]
    assert plan.count("Window") == 2, plan[:2000]
    assert "unboundedfollowing" not in plan.lower(), plan[:2000]

    plan = plan_of("mad_outlier_stats", spark, sf_dir)
    # one exchange for the windows + the tiny final-aggregate exchange
    assert plan.count("Exchange hashpartitioning(event_type") <= 2, plan[:2000]


def test_zorder_interleave_stays_in_codegen(spark, sf_dir):
    """The 32-term Morton interleave must compile into whole-stage
    codegen (no Python, no interpreted projection fallback).  AQE
    hides codegen spans until execution, so materialize first and
    audit the final adaptive plan."""
    df = REGISTRY["zorder_cluster"].build(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # '*(n)' operator prefixes mark whole-stage-codegen stages
    import re

    assert re.search(r"\*\(\d+\) (HashAggregate|Project)", plan), plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_grouped_top1_aggregates_without_window(spark, sf_dir):
    """The struct-max argmax must avoid the ranking window entirely
    and partial-aggregate map-side: partial_max runs BELOW the
    priority exchange, so the shuffle carries one candidate per
    (task, group) instead of every row value-sorted per group."""
    plan = plan_of("grouped_top1_spender", spark, sf_dir)
    assert "Window" not in plan, plan[:1500]
    # segment between the priority exchange and the (priority, custkey)
    # exchange is the map side of the final aggregate
    map_side = plan.split("Exchange hashpartitioning(o_orderpriority")[1]
    assert "partial_max" in map_side, plan[:2000]


def test_aqe_converts_shuffle_join_to_broadcast_at_runtime(spark, sf_dir):
    """AQE runtime re-planning, proved: a build side whose size is
    statically unknowable (hash-suffix filter — no stats survive it)
    but tiny at runtime must come back as a BroadcastHashJoin in the
    final adaptive plan.  This is the mechanism the engine leans on at
    100 TB instead of hand-tuning every join's strategy."""
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.schemas import load_tables

    t = load_tables(spark, sf_dir)
    # selective-but-opaque predicate: ~1/16 of orders, unknown statically
    small = t["orders"].filter(
        F.substring(F.sha2(F.col("o_orderkey").cast("string"), 256), 1, 1) == "a"
    ).select("o_orderkey", "o_orderpriority")
    joined = t["lineitem"].join(small, F.col("l_orderkey") == F.col("o_orderkey"))
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan, plan[:2500]
    assert "AQEShuffleRead" in plan or "BroadcastQueryStage" in plan, plan[:2500]


def test_dynamic_partition_pruning_on_file_source(spark, sf_dir):
    """Joining a day-partitioned fact to a selectively-filtered dim
    must plan a DPP subquery: the fact scan's PartitionFilters gain a
    dynamicpruningexpression, so only the dim's surviving days are
    read — at 100 TB this is the difference between scanning a year
    and scanning a month.  (Heuristic gotcha encoded here: the dim
    predicate must be `isLikelySelective` — a literal comparison;
    a bare boolean column does NOT trigger insertion.)"""
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import functions as F

    wd = Path(tempfile.mkdtemp(prefix="dpp_"))
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
            "day"
        ).mode("overwrite").parquet(str(wd / "ev"))
        spark.read.parquet(str(wd / "ev")).select("day").distinct().withColumn(
            "month", F.month("day")
        ).write.mode("overwrite").parquet(str(wd / "dim"))

        fact = spark.read.parquet(str(wd / "ev"))
        dim = spark.read.parquet(str(wd / "dim")).filter(F.col("month") == 6)
        j = fact.join(dim, "day").groupBy("event_type").count()

        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression" in plan.lower(), plan[:2000]

        # and the pruned result is still correct
        expect = (
            fact.filter(F.month("day") == 6).groupBy("event_type").count()
        )
        got = {(r["event_type"], r["count"]) for r in j.collect()}
        assert got == {(r["event_type"], r["count"]) for r in expect.collect()}
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_new_ops_plan_shapes(spark, sf_dir):
    """Scale-property lock-in for the newer operators: broadcasts
    where dims are small, no cartesian products anywhere, and the
    MG recount gated by a broadcast semi-join."""
    plan = plan_of("geo_neighbor_search", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan

    plan = plan_of("dedup_incremental_minhash", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan

    plan = plan_of("heavy_hitter_bigrams", spark, sf_dir)
    assert "LeftSemi" in plan, plan[:2000]  # broadcast-gated recount
    assert "BroadcastExchange" in plan

    plan = plan_of("label_top_terms", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]

    plan = plan_of("cep_click_error_pattern", spark, sf_dir)
    # the two range frames stage separate Window nodes (different CASE
    # inputs) but share ONE exchange + sort — the scale property
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:2000]
    assert plan.count("Sort [user_id") == 1, plan[:2000]


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew mitigation, proved end-to-end: a join whose fact side
    is deliberately skewed (~95% of rows share one key) must come back
    with the hot shuffle partition SPLIT in the final adaptive plan
    (``skew=true`` on the join node), and the split must not change
    results.  Thresholds are lowered to make sf0.01 data look like a
    100 TB hot key; at production scale the defaults (256 MB partition,
    factor 5) fire on real skew.  This is the runtime half of the
    engine's skew posture — the compile-time half is salting
    (salted_skew_join / salted_group_sum, oracle-checked).

    Two gotchas this test encodes (both bit at sf scale and WILL bite
    a real cluster): (1) OptimizeSkewedJoin splits a hot reducer
    partition along MAPPER block boundaries, so a single-task map side
    (one small parquet file here; one giant unsplittable file at
    prod) is unsplittable — hence the repartition(16) producing a
    multi-mapper map side.  (2) The rule pattern-matches
    SMJ(Sort(ShuffleStage), Sort(ShuffleStage)): an aggregation
    between the shuffle and the join (e.g. a groupBy-derived dim)
    breaks the match, so the dim side here is a plain scan + union."""
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.01"  # big enough for KB-scale blocks
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(16)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        # ~19/20 of fact rows land on key 0; dim has one row per key
        # (o_orderkey 0 excluded — it would collide with the hot key)
        fact = li.select(
            F.when(F.col("l_orderkey") % 20 != 0, F.lit(0))
            .otherwise(F.col("l_orderkey"))
            .cast("long")
            .alias("k"),
            "l_extendedprice",
        )
        dim = (
            orders.filter(
                (F.col("o_orderkey") % 20 == 0) & (F.col("o_orderkey") != 0)
            )
            .select(F.col("o_orderkey").cast("long").alias("k"), "o_orderpriority")
            .union(
                spark.createDataFrame(
                    [(0, "HOT")], "k long, o_orderpriority string"
                )
            )
        )
        joined = fact.join(dim, "k")
        agg = joined.agg(
            F.count("*").alias("n"),
            F.sum("l_extendedprice").cast("decimal(25,2)").alias("s"),
        )
        total = agg.collect()[0]

        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:3000]

        # the split join is a pure re-plan: row count and sum unchanged
        base = li.agg(
            F.count("*").alias("n"),
            F.sum("l_extendedprice").cast("decimal(25,2)").alias("s"),
        ).collect()[0]
        assert (total["n"], total["s"]) == (base["n"], base["s"])
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salting_bounds_reducer_load(spark, sf_dir):
    """The compile-time skew artifact: on the maximally-skewed
    events.event_type key (5 values), the hottest reducer's share
    under the salted shuffle key (event_type, salt) must be a small
    fraction of the hottest share under the naive key — the
    load-balance guarantee salted_group_sum/salted_skew_join rely on.
    Result equality is covered by their oracles and
    test_salted_join_equals_plain_join; this pins the mechanism."""
    from pyspark.sql import functions as F

    n_salts = 8
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    naive = ev.groupBy("event_type").count()
    naive_max = max(r["count"] for r in naive.collect())
    salted = ev.groupBy(
        "event_type", (F.col("event_id") % n_salts).cast("int").alias("salt")
    ).count()
    salted_max = max(r["count"] for r in salted.collect())
    # deterministic event_id % 8 salt spreads each hot key near-evenly;
    # require at least a 4x hottest-cell reduction (exact 8x only in
    # the large-count limit — sf0.001's hot key holds ~200 rows)
    assert salted_max * (n_salts // 2) <= naive_max, (salted_max, naive_max)


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """Runtime semi-join reduction, proved: when a selective dim join
    cannot broadcast (threshold off), Spark injects a bloom filter
    built from the dim's join keys into the fact side — at 100 TB this
    prunes most fact rows BEFORE the shuffle instead of shipping them
    to a join that drops them.  Asserts might_contain lands on the
    fact side of the final plan and that filtering changed no results.
    (Thresholds lowered because the fact side is MB-scale here; the
    defaults — 10 MB creation side, 10 GB application side — are
    sized for exactly the 100 TB case.)"""
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.01"
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = li.join(sel, li.l_orderkey == sel.o_orderkey).agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(25,2)")).alias("q"),
        )
        got = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2500]

        # reduction is transparent: same result as the broadcast plan
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        want = j.collect()[0]
        assert (got["n"], got["q"]) == (want["n"], want["q"])
    finally:
        for k, v in confs.items():
            spark.conf.unset(k) if old[k] is None else spark.conf.set(k, old[k])


def test_global_rankings_are_distributed(spark, sf_dir):
    """Entity-cardinality global rankings (customer deciles, the
    Pareto curve, corpus growth deciles) must rank via the
    range-partitioned global row number, never an unpartitioned
    ntile/rank window that funnels the whole table into one
    partition.  The only SinglePartition exchange allowed is the
    per-partition OFFSETS window, whose input is n_parts rows
    (cluster-sized), recognizable by its _pid grouping.

    The ranking stage itself is materialized via localCheckpoint (so
    both its consumers see ONE physical partitioning — see the
    global_row_number docstring), which hides the range exchange from
    the final executed plan; its shape is asserted on the
    pre-checkpoint stage instead."""
    import pyspark.sql.functions as F

    from storm_data_etl_service_spark.operators.analytics import (
        _local_range_numbered,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    stage = _local_range_numbered(
        cust, [F.desc("c_acctbal"), F.asc("c_custkey")], 32
    )
    stage_plan = stage._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in stage_plan, stage_plan[:1500]
    assert "Exchange SinglePartition" not in stage_plan, stage_plan[:1500]

    for q in ["balance_deciles", "revenue_pareto_curve", "vocab_growth_curve"]:
        plan = plan_of(q, spark, sf_dir)
        assert "ntile" not in plan, f"{q} still uses a window ntile:\n{plan[:1500]}"
        # every SinglePartition exchange must sit under either the
        # _pid offsets computation (n_parts rows) or a keyless global
        # aggregate (1 row per upstream partition), never data-sized
        # input
        for seg in plan.split("Exchange SinglePartition")[1:]:
            head = seg[:600]
            assert (
                "_pid" in head
                or "HashAggregate(keys=[]" in head
                # the 10-row decile rollup feeding a cumulative window
                or "HashAggregate(keys=[decile" in head
            ), f"{q} has a data-sized single-partition exchange:\n{seg[:800]}"


def test_dedup_family_reuses_staging_exchange(spark, sf_dir):
    """The shingle/signature staging relations deliberately end in an
    exchange (``_ranked_shingles``'s groupBy; the explicit
    ``repartition(band, key)`` before the LSH self-join): every
    re-reference of the staging relation must then compile to a
    ReusedExchange — ONE evaluation of the tokenize/shingle/signature
    map work per query, however many consumers the plan has.  AQE only
    marks reuse when it materializes stages, so execute first and
    inspect the finalized adaptive plan."""
    import re

    exchange_rx = re.compile(
        r"Exchange (?:hash|range|Single)[^\n]*\[plan_id=(\d+)\]"
    )

    def _exchange_pids(plan):
        """(computed plan_ids, reused-reference plan_ids), shuffle
        kind only.  A ReusedExchange header line embeds the ORIGINAL
        exchange's description AND its plan_id, so classification must
        be by line, not by regex position."""
        computed, reused = [], []
        for ln in plan.splitlines():
            m = exchange_rx.search(ln)
            if not m:
                continue
            (reused if "ReusedExchange" in ln else computed).append(m.group(1))
        return computed, reused

    # Invariant per query: at least one ReusedExchange exists.  The
    # old hard floors (3 / 8) encoded a specific AQE stage-reuse count
    # and would flake on a Spark/AQE config change rather than signal
    # a regression; the load-bearing property is structural — asserted
    # below via plan_ids: a ReusedExchange header repeats the original
    # exchange's [plan_id=N], so "shared staging computed once" means
    # every reused plan_id maps to EXACTLY ONE computed exchange, and
    # "the ranked-shingles exchange is shared across consumers" means
    # SOME computed exchange carries >= 2 reuse references.
    # The `_ranked_shingles` relation is now a lazy localCheckpoint
    # (the ccnet/dsir staging pattern): its multi-consumer queries must
    # read the checkpointed RDD on every side and contain ZERO
    # instances of the tokenize pipeline above it (a `split(` in the
    # final plan would betray a recompute).  The non-checkpointed
    # signature staging (explicit repartition(band, key)) must still
    # compile its second consumer to a ReusedExchange.
    for q, staging in [
        ("dedup_minhash_lsh", "reuse"),          # self-join's second side
        ("dedup_jaccard_prefix_join", "ckpt"),   # ranked ckpt: prefix ×2 + ha + hb
        ("dedup_containment", "ckpt"),           # ranked ckpt: sub + super + ha + hb
        ("minhash_band_calibration", "ckpt"),    # ranked ckpt: the prefix-join pairs
        ("fuzzy_neardup_distance", "ckpt"),      # ranked ckpt: the prefix-join pairs
        ("dedup_incremental_minhash", "reuse"),  # batch probe side
        ("dedup_ladder_report", "ckpt+reuse"),   # ranked ckpt + rung-3 band reuse
    ]:
        df = REGISTRY[q].build(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("isFinalPlan=true") >= 1, plan[:500]
        plan = plan.split("== Initial Plan ==")[0]
        if "ckpt" in staging:
            assert plan.count("Scan ExistingRDD") >= 2, (
                f"{q}: ranked-shingles checkpoint not shared across "
                f"consumers:\n{plan[:3000]}"
            )
            assert "split(" not in plan, (
                f"{q}: tokenize pipeline recomputed above the "
                f"ranked-shingles checkpoint:\n{plan[:3000]}"
            )
        if "reuse" in staging:
            assert plan.count("ReusedExchange") >= 1, (
                f"{q} lost its staging-exchange reuse:\n{plan[:3000]}"
            )
        computed, reused = _exchange_pids(plan)
        for pid in set(reused):
            n = computed.count(pid)
            assert n == 1, (
                f"{q}: reused exchange plan_id={pid} computed {n} times "
                f"(shared staging must materialize once):\n{plan[:3000]}"
            )


def test_ccnet_surprisal_model_computed_once(spark, sf_dir):
    """The CCNet bucket assignment consumes its doc-level surprisal
    scores TWICE (histogram side + probe side).  A staging exchange
    can't be shared here — column pruning projects each consumer's
    column set below the exchange, so the plan instances differ —
    hence the scored frame is staged through ``operators.stage``.
    After execution, the finalized plan must read the checkpointed
    RDD on both sides and contain ZERO instances of the bigram-model
    pipeline (its tokenizing split() would otherwise appear —
    recomputing the dominant (doc, w1, w2) aggregation twice)."""
    df = REGISTRY["ccnet_perplexity_buckets"].build(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") >= 2, plan[:1500]
    assert "split(" not in plan, plan[:1500]


def test_dsir_doc_bucket_table_computed_once(spark, sf_dir):
    """DSIR's (doc, bucket) count table feeds THREE consumers (raw
    model, target model, probe); like the CCNet scored frame, column
    pruning below an exchange would make the plan instances differ
    and recompute the bigram explode+agg per consumer — hence it is
    staged through ``operators.stage``.  The finalized plan must read
    the checkpointed RDD on every side and contain ZERO instances of
    the tokenizing pipeline (its split() would betray a recompute)."""
    df = REGISTRY["dsir_importance_weights"].build(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") >= 3, plan[:1500]
    assert "split(" not in plan, plan[:1500]


def _owners(path, lines):
    """(file name, enclosing top-level function) of each 1-based line."""
    import ast

    defs = [
        n for n in ast.parse(path.read_text()).body if isinstance(n, ast.FunctionDef)
    ]
    return {
        (path.name, next((d.name for d in defs if d.lineno <= i <= d.end_lineno), None))
        for i in lines
    }


def _sites(path, needle):
    """``_owners`` of the lines of ``path`` that contain ``needle``."""
    lines = path.read_text().splitlines()
    return _owners(path, [i for i, ln in enumerate(lines, 1) if needle in ln])


def test_operators_stage_through_one_primitive():
    """Multi-consumer relations are staged through ``operators.stage``
    only.  The one direct ``localCheckpoint(`` left outside it is the
    eager stage in ``neardup_components_sql``, which must finish the
    recursion before its raised row limit is restored."""
    from pathlib import Path

    import storm_data_etl_service_spark.operators as ops

    sites = set()
    for path in sorted(Path(ops.__file__).parent.glob("*.py")):
        sites |= _sites(path, "localCheckpoint(")
    assert sites == {
        ("__init__.py", "stage"),
        ("graph.py", "neardup_components_sql"),
    }, sites


def test_text_kernels_are_spelled_once():
    """The whitespace tokenizer, its boundary strip and the sha256
    hex-prefix integer are each spelled once per engine, inside their
    builder — every other site calls it, so the Spark side and its
    DuckDB oracle twin cannot drift apart."""
    import ast
    from pathlib import Path

    import storm_data_etl_service_spark.operators as ops

    root = Path(ops.__file__).parent
    registry, text = root / "registry.py", root / "text.py"
    assert _sites(registry, "regexp_split_to_array(") == {("registry.py", "_tokens_sql")}
    assert _sites(registry, "('0x' || substr(sha256(") == {
        ("registry.py", "_sha_int_sql")
    }
    assert _sites(text, 'r"^\\s+|\\s+$"') == {("text.py", "_strip_ws")}

    def is_f(node, attr):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        )

    hash_sites = set()
    for path in sorted(root.glob("*.py")):
        convs = [n for n in ast.walk(ast.parse(path.read_text())) if is_f(n, "conv")]
        lines = [
            c.lineno for c in convs if any(is_f(n, "sha2") for n in ast.walk(c))
        ]
        hash_sites |= _owners(path, lines)
    assert hash_sites == {("text.py", "sha_int")}, hash_sites


def test_vector_folds_are_spelled_once():
    """The dimension fold is spelled once per engine: in DuckDB inside
    ``registry._fold_sql`` (every dot, norm, cosine, L2 and plane
    projection of the oracles calls it) over one ``e`` CTE constant,
    and in the Arrow pair kernels inside ``similarity._cosine_core``,
    which also holds the one zero-norm rule — so the kernels and their
    oracle twin cannot drift apart."""
    import ast
    from pathlib import Path

    import storm_data_etl_service_spark.operators as ops

    root = Path(ops.__file__).parent
    registry, similarity = root / "registry.py", root / "similarity.py"
    assert _sites(registry, "list_reduce(list_transform(generate_series(1, ") == {
        ("registry.py", "_fold_sql")
    }
    assert registry.read_text().count("embedding::DOUBLE[] AS v FROM embeddings)") == 1
    assert _sites(similarity, "for i in range(d)") == {("similarity.py", "_cosine_core")}
    raises = [
        n.lineno
        for n in ast.walk(ast.parse(similarity.read_text()))
        if isinstance(n, ast.Raise) and "zero-norm" in ast.dump(n)
    ]
    assert _owners(similarity, raises) == {("similarity.py", "_cosine_core")}, raises


def _calls(path, name):
    """``_owners`` of the calls of ``path`` to a function or method
    named ``name`` (f-string expressions included)."""
    import ast

    lines = [
        n.lineno
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) == name
    ]
    return _owners(path, lines)


def test_lsh_bucketing_is_spelled_once():
    """The auto-width sign-LSH bucketing (count, ``knn_auto_bits``
    width, the first ``bits`` plane signs) has one builder per engine —
    ``similarity._lsh_bucketed`` and ``registry._lsh_bucket_ctes`` —
    and the hamming-1 flip one DuckDB spelling, ``_dyn_probe_cte``, so
    the five sign-LSH entries and their oracles cannot drift apart."""
    from pathlib import Path

    import storm_data_etl_service_spark as pkg

    files = sorted(Path(pkg.__file__).parent.rglob("*.py"))
    for name in ("knn_auto_bits", "lsh_bucket_col"):
        owners = set().union(*(_calls(p, name) for p in files))
        assert owners == {("similarity.py", "_lsh_bucketed")}, (name, owners)
    registry = Path(pkg.__file__).parent / "operators" / "registry.py"
    for name in ("_auto_bits_cte", "_bucket_sql"):
        assert _calls(registry, name) == {("registry.py", "_lsh_bucket_ctes")}, name
    assert _sites(registry, "substr(fullpfx, 1, bits)") == {
        ("registry.py", "_lsh_bucket_ctes")
    }
    assert _sites(registry, "THEN '0' ELSE '1'") == {("registry.py", "_dyn_probe_cte")}


def test_ppjoin_is_spelled_once():
    """The prefix-filter (PPJoin) family spells each decision once per
    engine: the rarest-first prefix (``dedup._prefix_rows`` /
    ``registry._prefix_sql``, θ as the exact ``threshold_ratio``), the
    symmetric candidate gate (``registry._jaccard_cand_sql``), the
    exact overlap (``dedup._with_overlap`` / ``registry._overlap_sql``)
    and the band power chain (``dedup._power`` / ``registry._power_sql``)
    — so the Jaccard, containment, fuzzy and calibration entries, their
    oracles and the sf1.6 replay cannot drift apart."""
    import re
    from pathlib import Path

    import storm_data_etl_service_spark.operators as ops

    root = Path(ops.__file__).parent
    registry, dedup = root / "registry.py", root / "dedup.py"
    for needle, owner in (
        ('F.slice("ordered"', "_prefix_rows"),
        ('lambda x: x["s"]', "_shingle_strings"),
        ("Fraction(", "threshold_ratio"),
    ):
        sites = set().union(*(_sites(p, needle) for p in root.glob("*.py")))
        assert sites == {("dedup.py", owner)}, (needle, sites)
    # text.py's Gopher stopword count intersects tokens, not shingle sets
    assert _sites(dedup, "F.array_intersect(") == {("dedup.py", "_with_overlap")}
    for needle, owner in (
        ("ordered[1 : len(ordered)", "_prefix_sql"),
        ("greatest(a.ns, b.ns)", "_jaccard_cand_sql"),
    ):
        assert _sites(registry, needle) == {("registry.py", owner)}, needle
    lines = registry.read_text().splitlines()
    verify = [
        i for i, ln in enumerate(lines, 1) if re.search(r"list_intersect\(\w+\.shingles", ln)
    ]
    assert _owners(registry, verify) == {("registry.py", "_overlap_sql")}, verify
    assert not _sites(registry, "m * m") and not _sites(registry, "jaccard * jaccard")
    assert _calls(registry, "_power_sql") == {
        ("registry.py", "_power_sql"),
        ("registry.py", "_band_calibration_sql"),
    }
    assert _calls(dedup, "_power") == {
        ("dedup.py", "_power"),
        ("dedup.py", "minhash_band_calibration"),
    }
    replay = Path(__file__).resolve().parents[1] / "scripts" / "invariant_check.py"
    for needle in ("ordered[1 :", "list_intersect(", "greatest(", "m * m", "jaccard * jaccard"):
        assert needle not in replay.read_text(), needle


#: Optimized-plan shape of the sign-LSH entries at sf0.001: (embeddings
#: scans, plane-fold subtrees).  One fold subtree per hashed relation:
#: ``ann_lsh_search`` hashes its broadcast query side and its data side,
#: and the contamination entry's extra scans are its id split and its
#: eval-side join, which read no bucket.
LSH_PLAN_SHAPES = {
    "ann_lsh_buckets": (1, 1),
    "ann_lsh_search": (2, 2),
    "knn_graph_lsh": (1, 1),
    "eval_semantic_contamination": (4, 1),
    "matryoshka_truncation_audit": (1, 1),
}


@pytest.mark.parametrize("name", sorted(LSH_PLAN_SHAPES))
def test_lsh_entries_hash_once(spark, sf_dir, name):
    """A shared bucketing builder must not inline a second plane-fold
    subtree or scan: counted as ``Relation [`` nodes and occurrences of
    plane 0's first literal in the optimized plan."""
    from storm_data_etl_service_spark.operators.similarity import plane_components

    df = REGISTRY[name].build(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    shape = (plan.count("Relation ["), plan.count(repr(plane_components(0)[0])))
    assert shape == LSH_PLAN_SHAPES[name], (shape, plan[:3000])


def test_incremental_gates_are_spelled_once():
    """Each incremental-dedup decision is spelled once per engine: the
    id split (``dedup.with_id_split`` / ``registry._split_sql``), the
    LSH match rule (``dedup.lsh_matches``, beside the all-pairs
    ``dedup_minhash_lsh`` join / the ``_minhash_oracle`` band join)
    and the Bloom bit set and probe (``dedup.bloom_bits`` and
    ``bloom_probe`` / ``registry._bloom_bits_sql``).  The streaming
    kernels call them, so ``streaming/pipeline.py`` joins no band or
    bit relation of its own."""
    import ast
    from pathlib import Path

    import storm_data_etl_service_spark.operators as ops
    import storm_data_etl_service_spark.streaming.pipeline as stream

    root = Path(ops.__file__).parent
    registry, dedup, pipeline = root / "registry.py", root / "dedup.py", Path(stream.__file__)
    split = set().union(*(_sites(p, "INCREMENTAL_SPLIT") for p in root.glob("*.py")))
    assert split == {
        ("dedup.py", None),  # the constant itself
        ("dedup.py", "with_id_split"),
        ("registry.py", "_split_sql"),
    }, split
    assert _sites(registry, "a.key = b.key") == {("registry.py", "_minhash_oracle")}
    assert _sites(registry, "'bloom' || i") == {("registry.py", "_bloom_bits_sql")}

    def joins(path, names):
        """Owners of the ``.join(`` calls of ``path`` that name one of
        ``names`` (as a column, possibly table-qualified)."""
        lines = [
            n.lineno
            for n in ast.walk(ast.parse(path.read_text()))
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "join"
            and any(
                isinstance(c, ast.Constant)
                and isinstance(c.value, str)
                and c.value.split(".")[-1] in names
                for c in ast.walk(n)
            )
        ]
        return _owners(path, lines)

    assert joins(dedup, {"band", "nband"}) == {
        ("dedup.py", "dedup_minhash_lsh"),
        ("dedup.py", "lsh_matches"),
    }
    assert joins(dedup, {"bit"}) == {("dedup.py", "bloom_probe")}
    assert joins(pipeline, {"band", "nband", "key", "bit"}) == set()
    assert _sites(pipeline, "bloom_bit_positions") == set()
    assert _sites(dedup, "bloom_bit_positions(") == {
        ("dedup.py", "bloom_bit_positions"),
        ("dedup.py", "bloom_bits"),
        ("dedup.py", "bloom_probe"),
    }


def _repeated_sql_windows(source: str, n: int = 3) -> dict:
    """Each window of ``n`` consecutive SQL lines that appears at two or
    more source positions of ``source``, mapped to the 1-based line of
    each occurrence.  Only multi-line string literals (f-strings
    included, their ``{…}`` fields verbatim) holding ``SELECT`` or
    ``WITH`` are read; each line is whitespace-normalized, and blank
    and quote-only lines are dropped."""
    import ast
    from collections import defaultdict

    strings = [
        node
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.JoinedStr)
        or (isinstance(node, ast.Constant) and isinstance(node.value, str))
    ]
    inner = {  # an f-string's literal parts and fields are read with it
        id(c)
        for s in strings
        if isinstance(s, ast.JoinedStr)
        for c in ast.walk(s)
        if c is not s
    }
    sites = defaultdict(list)
    for node in strings:
        text = ast.get_source_segment(source, node)
        if id(node) in inner or node.lineno == node.end_lineno:
            continue
        if not re.search(r"\b(SELECT|WITH)\b", text):
            continue
        lines = [
            (node.lineno + i, " ".join(ln.split()))
            for i, ln in enumerate(text.splitlines())
        ]
        lines = [
            (i, ln) for i, ln in lines if not re.fullmatch(r"(?:[rbfuRBFU]*[\"']+)?", ln)
        ]
        for k in range(len(lines) - n + 1):
            sites[tuple(ln for _, ln in lines[k : k + n])].append(lines[k][0])
    return {w: sorted(at) for w, at in sites.items() if len(at) > 1}


#: The 3-line SQL windows that two registry literals may share, each
#: with the reason the repeat is not one decision spelled twice.
SHARED_SQL_WINDOWS = {
    (
        "FROM lineitem",
        "JOIN part ON l_partkey = p_partkey",
        "JOIN supplier ON l_suppkey = s_suppkey",
    ): "TPC-H q8 and q9 each spell their own spec's join chain",
    ('f"""WITH {_TOKS_CTE},', "hashed AS (", "SELECT doc_id,"): (
        "simhash and the fingerprint hash the tokens differently; only the"
        " CTE name and its key column match"
    ),
}


def test_oracle_sql_is_spelled_once():
    """No three consecutive SQL lines of ``registry.py`` are spelled at
    two source positions: a decision both oracles need gets one builder
    (``_tri_sql``, ``_MIXTURE_WEIGHT_CTES``, ``_GOPHER_FLAGS_CTES`` …)
    that each oracle composes.  The scan reads the source, not the
    rendered oracles, since composing a builder rightly repeats its
    output.  A repeat that is not a copied decision goes in
    ``SHARED_SQL_WINDOWS`` with its reason."""
    # negative control: a shared 3-line window is flagged, a 2-line one is not
    twice = 'q = f"""\nSELECT a,\n  b\nFROM t"""\nr = f"""\nSELECT a,\n  b\nFROM t"""\n'
    assert _repeated_sql_windows(twice) == {("SELECT a,", "b", 'FROM t"""'): [2, 6]}
    assert _repeated_sql_windows(twice.replace("FROM t", "FROM u", 1)) == {}

    import storm_data_etl_service_spark.operators as ops

    registry = Path(ops.__file__).parent / "registry.py"
    repeats = _repeated_sql_windows(registry.read_text())
    unexplained = {w: at for w, at in repeats.items() if w not in SHARED_SQL_WINDOWS}
    assert not unexplained, "\n".join(
        f"{at}: {' | '.join(w)}" for w, at in sorted(unexplained.items(), key=lambda i: i[1])
    )
    assert set(repeats) == set(SHARED_SQL_WINDOWS), set(SHARED_SQL_WINDOWS) - set(repeats)


@contextmanager
def _job_count(spark, group):
    """Run the block under job group ``group``; yields a callable that
    counts the jobs the block has submitted so far (the status tracker
    answers with the UI off)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_stage_is_lazy(spark):
    """``stage`` defers the materialization of a shuffle-free frame to
    its first consumer: creating it submits no job, and its plan reads
    the staged RDD instead of the upstream operators."""
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.operators import stage

    with _job_count(spark, "test_stage_is_lazy") as jobs:
        staged = stage(spark.range(1000).select((F.col("id") * 2).alias("x")))
        assert jobs() == 0
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert staged.agg(F.sum("x")).first()[0] == 999 * 1000


def test_triangle_stats_contracts_once(spark, sf_dir):
    """``triangle_stats`` stages its candidate pairs once and builds
    one twin-class quotient for both the wedge probe and the exact
    census, so its build plus collect stays within the job count
    measured for that shape on the sf_dir fixture (20-21).  Contracting
    twice, once for the probe and once for the census, submitted 27
    (18 in build + 9 in collect)."""
    with _job_count(spark, "test_triangle_stats_contracts_once") as jobs:
        rows = REGISTRY["triangle_stats"].build(spark, sf_dir).collect()
        n = jobs()
    assert rows[0]["branch"] == "exact_census", rows
    assert n <= 21, n


#: Spark jobs submitted by (build, build + collect) at sf0.001, each
#: equal over three warm runs when its budget was set.  A change may
#: lower a budget; raising one needs a CHANGES.md line that says why.
JOB_BUDGETS = {
    "ann_ivf_auto": (6, 14),
    "ann_ivf_search": (7, 15),
    "ann_lsh_buckets": (3, 4),
    "ann_lsh_search": (3, 6),
    "ann_pq_search": (25, 46),
    "ccnet_perplexity_buckets": (12, 16),
    "dedup_containment": (4, 9),
    "dedup_jaccard_prefix_join": (4, 8),
    "dedup_ladder_report": (13, 31),
    "dsir_importance_weights": (2, 14),
    "eval_semantic_contamination": (3, 10),
    "fuzzy_neardup_distance": (4, 9),
    "knn_graph_lsh": (3, 6),
    "matryoshka_truncation_audit": (3, 6),
    "minhash_accuracy_report": (1, 7),
    "minhash_band_calibration": (4, 9),
    "quality_gate_agreement": (12, 18),
    "semdedup": (7, 13),
    "semdedup_auto": (9, 15),
    "semdedup_pairs": (7, 11),
    "triangle_stats": (12, 21),
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_job_budget(spark, sf_dir, name):
    """At this scale a query's time goes to its jobs, not to compute, so
    the staged queries' job counts are held to a budget."""
    with _job_count(spark, f"test_job_budget_{name}") as jobs:
        df = REGISTRY[name].build(spark, sf_dir)
        build = jobs()
        df.collect()
        total = jobs()
    build_budget, total_budget = JOB_BUDGETS[name]
    assert build <= build_budget and total <= total_budget, (build, total)


def test_topk_windows_are_limit_bounded(spark, sf_dir):
    """The three single-partition ranking windows the bench tail warns
    about (zipf_slope_fit, bpe_first_merges, join_skew_report) must
    take their input from a TakeOrderedAndProject limit — K rows at
    any corpus size — never from the unbounded vocabulary/pair/key
    table.  In the plan string the Window node must sit ABOVE the
    TakeOrdered (parents print before children), proving the window
    consumes the limit output, not the other way round."""
    for q in ["zipf_slope_fit", "bpe_first_merges", "join_skew_report"]:
        plan = plan_of(q, spark, sf_dir)
        w = plan.find("Window")
        tk = plan.find("TakeOrderedAndProject")
        assert w != -1 and tk != -1, f"{q}: missing node:\n{plan[:1500]}"
        assert w < tk, (
            f"{q}: Window is not fed by the TakeOrdered limit:\n{plan[:1500]}"
        )


def test_lloyd_round_is_one_cid_exchange(spark, sf_dir):
    """One Lloyd round — the broadcast ``array_min`` assignment plus the
    vector-wise, vec_id-ordered mean — plans as a single grouped pass
    over cid: no Generate (posexplode) node and exactly one hash
    exchange keyed on cid."""
    import re

    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.operators.similarity import (
        KMEANS_K,
        _assign_cells,
        _update_centroids,
    )
    from storm_data_etl_service_spark.schemas import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seed = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
    )
    df = _update_centroids(_assign_cells(emb, seed))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan
    hashed = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashed) == 1 and hashed[0].startswith("cid#"), hashed
