#!/usr/bin/env python
"""Headline-query benchmark.

Runs the engine's representative queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``

Each query is materialized through the noop sink — full computation,
no driver collect overhead.  A tiny warmup query first amortizes JVM /
codegen startup so timings reflect steady-state engine throughput.
Timings are best-of-3; the full per-query [min, med, max] spread is
written to ``$SPARK_GRAFT_BENCH_SPREAD_FILE`` (default
``BENCH_SPREAD.json`` next to this script) rather than inlined in the
stdout line, which must stay short enough for the driver's tail
capture.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

BENCH_QUERIES = [
    "enrich_events",            # full P1-P14 enrichment chain at scale
    "tpch_q1_pricing_summary",  # scan-heavy 8-aggregate rollup
    "tpch_q6_forecast_revenue",  # pure pushdown filter + sum
    "tpch_q3_top_revenue_orders",  # selective join + top-k
    "tpch_q5_regional_revenue",  # 5-table star join
    "tpch_q4_priority_semijoin",  # EXISTS → left-semi join
    "tpch_q17_small_quantity_revenue",  # decorrelated scalar subquery
    "tpch_q19_disjunctive_filter",  # OR-branch predicate join
    "tpch_q8_market_share",     # 7-table broadcast-chain join
    "tpch_q13_customer_distribution",  # outer join + double aggregate
    "tpch_q21_waiting_suppliers",  # EXISTS/NOT-EXISTS fact self-join
    "corpus_curation_pipeline",  # gate → dedup → split → stats
    "p13_hourly_rollup",        # tumbling-window agg
    "session_window_agg",       # session windows (stateful-sort agg)
    "q9_grouped_topk",          # ranking window
    "q13_anti_join",            # large anti-join
    "q12_dedup_first_wins",     # first-wins dedup window
    "p5_deterministic_id",      # sha256 content IDs
    "dedup_minhash_lsh",        # MinHash signature + LSH band join
    "dedup_containment",        # directed near-superset shingle join
    "dedup_jaccard_prefix_join",  # exact PPJoin-style prefix filter
    "dedup_incremental_minhash",  # new-batch vs persisted LSH index
    "duplicated_span_report",   # rolling 10-token span dedup
    "semdedup",                 # k-means cells + per-cell pair scan
    "ann_ivf_search",           # broadcast-centroid IVF probe
    "heavy_hitter_bigrams",     # Misra-Gries sketch + exact recount
    "cms_token_frequencies",    # count-min sketch table build + probe
    "embedding_quantize_int8",  # dimension-parallel int8 audit
    "tfidf_top_terms",          # explode → dual agg → broadcast-back → window top-k
    "bigram_surprisal_scores",  # corpus-self-trained bigram LM scoring
    "geo_neighbor_search",      # grid-cell spatial join + exact refine
    "cep_click_error_pattern",  # range-frame CEP sequence detection
    "ann_cosine_topk",          # brute-force cosine top-k
    "multimodal_decode_stats",  # Arrow-batched mapInPandas path
    "mad_outlier_stats",        # two percentile windows, one shuffle
    "linear_interpolate",       # fused two-frame window interpolation
    "cohort_retention",         # unbounded MIN window + distinct agg
    "rare_token_share",         # explode + broadcast doc-frequency join
    # shuffle-heavy registered plans (per-entry exchange counts in
    # plans/manifest.json) — benched so the most network-bound
    # shapes have a tracked number
    "revenue_pareto_curve",     # deciled pareto: chained window aggs
    "dedup_ladder_report",      # exact→minhash→containment rungs union
    "vocab_growth_curve",       # per-decile first-seen vocab accumulation
    "bm25_doc_ranking",         # tf/df join + per-query score + top-k
    # round-3 session-4 additions
    "bloom_dedup_report",       # mergeable Bloom bit-set probe + exact audit
    "quality_linear_score",     # zero-shuffle hashed-feature linear gate
    "gopher_quality_flags",     # map-only Gopher rule suite + 1 source agg
    "ccnet_perplexity_buckets",  # per-lang perplexity terciles, histogram cutoffs
    "knn_graph_lsh",            # bucketed Arrow top-k kNN graph build
    # round-3 session-5 additions
    "global_shuffle_order",     # two-level deterministic global ordering
    "length_bucket_batches",    # bucketed batch layout + padding audit
    "stratified_sample",        # salted two-level per-stratum top-k
    "curriculum_order",         # equi-depth difficulty bands, in-band shuffle
    "epoch_stream_order",       # mixture copies expanded into one epoch layout
    # round-4 additions
    "triangle_stats",           # wedge probe + density-dispatched census
    "semdedup_auto",            # K ∝ n semantic dedup (production knob)
    "eval_semantic_contamination",  # auto-width LSH nearest-train search
    # round-5 additions
    "ann_lsh_search",           # auto-width multi-probe bucketed ANN
    "neardup_triangle_estimate",  # DOULION branch alone (same-branch scaling pair)
    "ann_ivf_auto",             # K ∝ n IVF coarse quantizer (production knob)
    # round-6 additions
    "dsir_importance_weights",  # hashed-bigram DSIR logits, staged model
    "bpe_first_merges",         # vocab-table char-pair merge statistics
    "source_divergence_matrix",  # staged (source,token) counts → vocab-sized JSD grid
    "minhash_band_calibration",  # banding S-curve over the shared PPJoin pairs
    "quality_gate_agreement",   # CCNet × Gopher × linear-gate calibration cells
    # round-7 additions
    "matryoshka_truncation_audit",  # bucketed pair set × 4 prefix-width cosines
    "label_embedding_fid",      # dimension-exploded diagonal-Fréchet label grid
    "context_fill_efficiency",  # doc token counts × 3 context-length layouts
]


def main():
    from storm_data_etl_service_spark.operators.registry import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # optional subset (comma-separated) — used by scaling_curve.py to
    # re-time just the dedup family on the natural-density corpus
    bench_queries = BENCH_QUERIES
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        bench_queries = [q.strip() for q in subset.split(",") if q.strip()]
    spark = bench_session("bench", sf_dir)

    # The timer covers build() + the noop write, because build() is
    # NOT metadata-cheap — under AQE even a LAZY localCheckpoint
    # materializes every upstream query stage (Dataset.checkpoint calls
    # queryExecution.toRdd, and AdaptiveSparkPlanExec.doExecute executes
    # the stages), so timing the write alone would leave the staged
    # pipelines' map/shuffle work, auto-K count()s and probe scalars
    # untimed (the r1-r7 region; VERDICT r7 item 3/4).
    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = REGISTRY[name].build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run(name: str) -> list[float]:
        # best-of-3: single-shot timings on a shared host swing 2-3x
        # from GC pauses / neighbor noise; the min is the steady-state
        # engine cost and is stable run-to-run.  All three samples are
        # kept (sorted = [min, med, max]) so the round-over-round diff
        # can demand a MEDIAN regression before flagging — r2→r3
        # produced a spurious flag on byte-identical code from a
        # single tail sample.
        samples = sorted(run_once(name) for _ in range(3))
        # Measurement hygiene, OUTSIDE the timed region: the staged
        # pipelines' localCheckpoint blocks are cleaned by Spark's
        # ContextCleaner only after a JVM GC collects their weak refs;
        # a 32g heap can go the whole 66-query run without a full GC,
        # so storage accumulates and late-list queries measure eviction
        # + GC pressure instead of their plans (r8 baseline:
        # dsir_importance_weights min 0.65→1.78 s on identical code).
        spark.sparkContext._jvm.System.gc()
        return samples

    # Warm up every plan shape at the smallest SF first: whole-stage
    # codegen compiles per unique generated source, so the sf-target
    # timing below measures engine throughput, not javac.
    for name in bench_queries:
        REGISTRY[name].build(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    samples = {name: [round(s, 4) for s in run(name)] for name in bench_queries}
    timings = {name: s[0] for name, s in samples.items()}
    total = round(sum(timings.values()), 4)
    doc = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "max_query": max(timings, key=timings.get) if timings else None,
        # Run protocol, recorded IN the artifact so cross-session
        # diffs aren't misread (r5: driver 40.79 s vs local best-of-3
        # 33.23 s vs a second local run's 39.57 s — host/session
        # variance, not a regression).  Headline value = sum of
        # per-query MINIMA over n_samples runs after a full sf0.001
        # codegen warmup; [min, med, max] per query in the spread
        # sidecar.  Compare artifacts min-AND-median (bench_diff.py),
        # never across hosts/sessions by headline alone.
        "protocol": {
            "samples_per_query": 3,
            "statistic": "min",
            "warmup": "all plans once at sf0.001",
            "timed_action": "build() + noop write (no driver collect); r8 change: timer covers build-time Spark jobs (staged-pipeline stages, auto-K counts, probe scalars) that r1-r7 excluded",
            "fanout_layout": "key",
            "fanout_note": "bench-mode fact-table fan-out: 'key' = hash-clustered on each table's natural key (assumes production tables are written key-clustered)",
            "caveat": "cross-session totals drift 1.2-1.7x with host load; same-session diffs only",
        },
    }
    # The full per-query [min, med, max] spread goes to a sidecar file
    # only: inlining it in the stdout line once outgrew the grading
    # driver's tail capture (BENCH_r04 recorded "parsed": null).  The
    # stdout line stays the compact driver contract.
    spread_file = os.environ.get(
        "SPARK_GRAFT_BENCH_SPREAD_FILE",
        str(Path(__file__).resolve().parent / "BENCH_SPREAD.json"),
    )
    Path(spread_file).write_text(json.dumps({**doc, "spread": samples}, indent=1))
    # The grading driver captures only the LAST 2000 stdout chars; the
    # full 60+-entry per-query map outgrew that window in r6 (BENCH_r06
    # "parsed": null, tail started mid-JSON).  The stdout line therefore
    # carries only the headline + the top-8 slowest queries; the full
    # map and [min, med, max] spread live in the sidecar above.
    top8 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    compact = {**doc, "queries": top8, "queries_note": "top-8 of n_queries; full map in BENCH_SPREAD.json"}
    line = json.dumps(compact)
    assert len(line) < 1800, f"stdout bench line too long for driver tail capture: {len(line)}"
    print(line)
    spark.stop()


def bench_session(app_name: str, sf_dir: str):
    """The session the benched closures run in, sized for ``sf_dir``;
    ``scripts/explain_dump.py`` uses it too, so committed plans show
    the benched partition counts."""
    from storm_data_etl_service_spark.session import get_spark

    # single-row-group local files: fan the scan out to all cores
    os.environ.setdefault(
        "SPARK_GRAFT_SCAN_PARTITIONS", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    # Size shuffle parallelism to the DATA, not the core count: at
    # bench scale 32 reducers per stage are pure task-launch overhead
    # (measured ~20% of wall), while at 1000x the same bytes//2MiB
    # rule grows partitions right back past the core count.  AQE still
    # re-coalesces at runtime; this only seeds the initial plan.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    data_bytes = sum(
        f.stat().st_size for f in Path(sf_dir).rglob("*.parquet") if f.is_file()
    )
    return get_spark(
        app_name=app_name,
        shuffle_partitions=max(8, min(4 * int(cpus), data_bytes // (2 << 20))),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


if __name__ == "__main__":
    main()
