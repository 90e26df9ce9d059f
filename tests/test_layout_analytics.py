"""Semantic tests for the sequence/cohort/interpolation/statistics and
data-layout operators (oracle value-parity is separately enforced by
scripts/check_correctness.py at sf0.01)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from storm_data_etl_service_spark.operators import analytics as A
from storm_data_etl_service_spark.operators import pipeline_ops as P
from storm_data_etl_service_spark.schemas import load_tables


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return load_tables(spark, sf_dir)


def test_transition_matrix_pair_accounting(t):
    """Each user with k events contributes exactly k-1 transitions."""
    out = A.event_transition_matrix(t)
    total_pairs = out.agg(F.sum("n")).first()[0]
    per_user = t["events"].groupBy("user_id").count()
    expected = per_user.agg(F.sum(F.col("count") - 1)).first()[0]
    assert total_pairs == expected
    assert out.filter(F.col("n") <= 0).count() == 0


def test_cohort_retention_week_zero_covers_cohort(t):
    """Week offset 0 exists for every cohort and counts every user of
    that cohort (everyone is active in their own first week)."""
    out = A.cohort_retention(t).cache()
    try:
        week0 = {
            r["cohort_week"]: r["n_users"] for r in out.filter("week_offset = 0").collect()
        }
        cohort_sizes = (
            t["events"]
            .groupBy("user_id")
            .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
            .groupBy("cohort_week")
            .agg(F.countDistinct("user_id").alias("size"))
        )
        for r in cohort_sizes.collect():
            assert week0[r["cohort_week"]] == r["size"]
        assert out.filter("week_offset < 0").count() == 0
    finally:
        out.unpersist()


def test_linear_interpolate_bounds_and_passthrough(t):
    out = A.linear_interpolate(t)
    ev = t["events"]
    assert out.count() == ev.count()
    # non-error rows pass through untouched
    joined = out.join(ev, ["user_id", "event_id"])
    mismatch = joined.filter(
        (F.col("event_type") != "error") & (F.col("interp_value") != F.col("value"))
    ).count()
    assert mismatch == 0
    # interpolated rows lie within their user's value envelope
    env = ev.filter("event_type <> 'error'").groupBy("user_id").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    out_err = joined.filter(F.col("event_type") == "error").join(env, "user_id")
    bad = out_err.filter(
        (F.col("interp_value") < F.col("lo") - 1e-9)
        | (F.col("interp_value") > F.col("hi") + 1e-9)
    ).count()
    assert bad == 0


def test_correlation_matches_numpy(t):
    import numpy as np

    rows = (
        t["lineitem"]
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    flags = {}
    for r in rows:
        flags.setdefault(r["l_returnflag"], []).append(
            (r["l_quantity"], r["l_extendedprice"])
        )
    out = {r["l_returnflag"]: r for r in A.correlation_stats(t).collect()}
    for flag, pts in flags.items():
        x, y = np.array(pts).T
        ref = np.corrcoef(x, y)[0, 1]
        got = out[flag]["corr_qty_price"]
        assert abs(got - ref) < 1e-6
        assert abs(got) <= 1.0 + 1e-12
        assert out[flag]["n"] == len(pts)


def test_incremental_merge_equals_direct(t):
    direct = (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("total"),
        )
    )
    merged = P.incremental_agg_merge(t)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def _py_interleave(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_value_matches_python_reference(spark):
    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (123, 4567), (40000, 1)]
    df = spark.createDataFrame(pts, "x long, y long").withColumn(
        "z", P.zorder_value(F.col("x"), F.col("y"))
    )
    for r in df.collect():
        assert r["z"] == _py_interleave(r["x"], r["y"])


def test_zorder_cluster_accounts_all_rows(t):
    out = P.zorder_cluster(t).cache()
    try:
        assert out.agg(F.sum("n")).first()[0] == t["events"].count()
        # prefix ranges are disjoint and ordered: prefix = z >> shift
        for r in out.collect():
            assert r["min_z"] >> P.ZORDER_PREFIX_SHIFT == r["z_prefix"]
            assert r["max_z"] >> P.ZORDER_PREFIX_SHIFT == r["z_prefix"]
    finally:
        out.unpersist()


def test_mad_outliers_match_numpy(t):
    import numpy as np

    rows = t["events"].select("event_type", "value").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    out = {r["event_type"]: r for r in A.mad_outlier_stats(t).collect()}
    for et, vals in by_type.items():
        v = np.array(vals)
        med = np.percentile(v, 50)
        mad = np.percentile(np.abs(v - med), 50)
        assert abs(out[et]["median_value"] - med) < 1e-9
        assert abs(out[et]["mad"] - mad) < 1e-9
        expected = int((np.abs(v - med) > 3.0 * 1.4826 * mad).sum())
        assert out[et]["n_outliers"] == expected


def test_ratio_to_report_shares_sum_to_one(t):
    out = A.ratio_to_report(t).cache()
    try:
        per_region = out.groupBy("r_name").agg(F.sum("region_share").alias("s"))
        for r in per_region.collect():
            assert abs(r["s"] - 1.0) < 1e-9
        assert out.filter("region_share < 0 OR region_share > 1").count() == 0
    finally:
        out.unpersist()


def test_equi_depth_bins_are_balanced(t):
    out = A.equi_depth_histogram(t).orderBy("bin").collect()
    total = sum(r["n"] for r in out)
    assert total == t["lineitem"].count()
    assert [r["bin"] for r in out] == [0, 1, 2, 3]
    for r in out:
        # exact quartiles: each bin within one row-tie cluster of 25%
        assert abs(r["n"] - total / 4) / total < 0.01
    # bins tile the value range in order
    for lo_r, hi_r in zip(out, out[1:]):
        assert lo_r["hi"] <= hi_r["lo"]


def test_centroid_similarity_pair_coverage(t):
    from storm_data_etl_service_spark.operators import similarity as S

    n_labels = t["embeddings"].select("label").distinct().count()
    out = S.centroid_similarity_matrix(t).cache()
    try:
        assert out.count() == n_labels * (n_labels - 1) // 2
        assert out.filter("cosine < -1.0 OR cosine > 1.0").count() == 0
        assert out.filter("label_a >= label_b").count() == 0
    finally:
        out.unpersist()


def test_pagerank_matches_python_model(spark):
    """Triangle {0,1,2} plus a pendant 3-2: Spark ranks equal a pure
    Python replica with identical 1e-9 floor quantization, and mass
    stays ~1."""
    import math

    from storm_data_etl_service_spark.operators.graph import (
        PR_DAMPING,
        PR_ITERS,
        pagerank,
    )

    edge_list = [(0, 1), (1, 2), (0, 2), (3, 2)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r for r in pagerank(edges).collect()}

    adj, deg = {}, {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(vs) for n, vs in adj.items()}
    n = len(deg)
    base = (1.0 - PR_DAMPING) / n
    q = lambda x: math.floor(x * 1e9) / 1e9
    rank = {v: q(1.0 / n) for v in deg}
    for _ in range(PR_ITERS):
        incoming = {v: 0 for v in deg}
        for v in deg:
            for u in adj[v]:
                incoming[v] += math.floor((rank[u] / deg[u]) * 1e9)
        rank = {v: q(base + PR_DAMPING * (incoming[v] / 1e9)) for v in deg}

    assert set(got) == set(rank)
    for v in rank:
        assert got[v]["rank"] == rank[v], v
        assert got[v]["deg"] == deg[v]
    assert abs(sum(r["rank"] for r in got.values()) - 1.0) < 1e-6
    # pendant node has the lowest centrality
    assert min(got, key=lambda v: got[v]["rank"]) == 3


def test_rare_token_share_matches_python(t):
    from storm_data_etl_service_spark.operators import text as X

    docs = {r["doc_id"]: r["text"].split() for r in t["documents"].collect()}
    dfreq = {}
    for did, toks in docs.items():
        for tok in set(toks):
            dfreq[tok] = dfreq.get(tok, 0) + 1
    out = {r["doc_id"]: r for r in X.rare_token_share(t).collect()}
    assert set(out) == {d for d, toks in docs.items() if toks}
    for did, toks in docs.items():
        if not toks:
            continue
        n_rare = sum(1 for tok in toks if dfreq[tok] <= X.RARE_DOC_FREQ)
        assert out[did]["n_tokens"] == len(toks)
        assert out[did]["n_rare"] == n_rare
        assert abs(out[did]["rare_share"] - n_rare / len(toks)) < 1e-12


def test_drift_chi2_nonnegative_and_total(t):
    out = A.distribution_drift_chi2(t).collect()
    types = {r["event_type"] for r in out}
    assert types == {r["event_type"] for r in t["events"].select("event_type").distinct().collect()}
    for r in out:
        assert r["chi2"] >= 0.0
        assert r["n_bins"] >= 1


def test_zorder_range_write_produces_disjoint_file_stats(spark, t, tmp_path):
    """The production z-order layout claim, proved on disk: range
    partition + sort by the Morton value, write parquet, then read
    each file's footer min/max — file z-ranges must be pairwise
    disjoint (that disjointness IS the 2-D data-skipping property)."""
    import pyarrow.parquet as pq

    x = (F.col("user_id") % 65536).cast("long")
    y = F.floor(F.col("value") * 10) % 65536
    df = t["events"].select("event_id", P.zorder_value(x, y).alias("zval"))
    out = str(tmp_path / "zsorted")
    (
        df.repartitionByRange(4, "zval")
        .sortWithinPartitions("zval")
        .write.parquet(out)
    )
    ranges = []
    from pathlib import Path

    for f in sorted(Path(out).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        lo = min(
            md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) == 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file z-ranges overlap: {ranges}"


def test_minhash_accuracy_report_bounds(t):
    from storm_data_etl_service_spark.operators import dedup as D

    out = D.minhash_accuracy_report(t).cache()
    try:
        assert out.count() == D.dedup_minhash_lsh(t).count()
        bad = out.filter(
            "est_jaccard < 0 OR est_jaccard > 1 OR exact_jaccard < 0 "
            "OR exact_jaccard > 1 OR abs_error < 0 OR abs_error > 1"
        ).count()
        assert bad == 0
        # LSH candidates at threshold 0.8 should estimate high similarity
        assert out.agg(F.min("est_jaccard")).first()[0] >= 0.5
    finally:
        out.unpersist()


def test_weekly_active_users_dominates_daily(t):
    ev = t["events"].select(F.to_date("ts").alias("day"), "user_id")
    dau = ev.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    wau = A.weekly_active_users(t)
    joined = {r["day"]: r for r in wau.join(dau, "day").collect()}
    assert joined  # overlap exists
    for day, r in joined.items():
        assert r["wau"] >= r["dau"], day
    # span: first event day .. last event day + 6
    lo, hi = ev.agg(F.min("day"), F.max("day")).first()
    days = {r["day"] for r in wau.collect()}
    assert min(days) == lo and (max(days) - hi).days == 6


def test_cooccurrence_support_matches_python(t):
    rows = t["events"].select("user_id", "event_type").distinct().collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], set()).add(r["event_type"])
    from itertools import combinations

    want = {}
    for types in by_user.values():
        for a, b in combinations(sorted(types), 2):
            want[(a, b)] = want.get((a, b), 0) + 1
    out = {(r["type_a"], r["type_b"]): r for r in A.event_cooccurrence_support(t).collect()}
    assert {k: v["n_users"] for k, v in out.items()} == want
    n_total = len(by_user)
    for k, r in out.items():
        assert abs(r["support"] - want[k] / n_total) < 1e-12
        assert 0 < r["support"] <= 1


def test_conversion_latency_consistent_with_funnel(t):
    out = A.conversion_latency_quantiles(t).first()
    funnel = A.funnel_conversion(t).first()
    assert out["n_converted"] == funnel["n_converted"]
    assert 0 < out["p25_us"] <= out["p50_us"] <= out["p75_us"]


def test_rfm_segments_cover_all_customers(t):
    out = A.rfm_segment_counts(t).cache()
    try:
        n_cust = t["orders"].select("o_custkey").distinct().count()
        assert out.agg(F.sum("n_customers")).first()[0] == n_cust
        bad = out.filter(
            "r_score NOT BETWEEN 1 AND 4 OR f_score NOT BETWEEN 1 AND 4 "
            "OR m_score NOT BETWEEN 1 AND 4"
        ).count()
        assert bad == 0
    finally:
        out.unpersist()


def _brute_triangles(edges):
    """Reference per-node triangle counts by direct wedge closure."""
    import itertools

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for u in adj:
        c = sum(1 for x, y in itertools.combinations(adj[u], 2) if y in adj[x])
        if c:
            out[u] = c
    return out


def test_triangle_census_on_hand_graphs(spark, t):
    """The twin-contraction census must equal brute-force wedge
    closure on graphs exercising every formula term: within-class
    pairs (cliques), class-to-neighbor pairs, pairs inside one
    neighbor class, and genuine three-class quotient triangles."""
    from storm_data_etl_service_spark.operators import graph as G

    cases = {
        "k4_minus_edge": [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)],
        "k5_single_class": [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],
        "k4_plus_pendant": [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)],
        "two_cliques_bridge": [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "triangle_free_path": [(1, 2), (2, 3), (3, 4), (4, 5)],
    }
    import random

    rng = random.Random(7)
    cases["random_50"] = sorted(
        {
            (min(a, b), max(a, b))
            for _ in range(300)
            for a, b in [(rng.randint(1, 50), rng.randint(1, 50))]
            if a != b
        }
    )
    for name, edges in cases.items():
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r["doc_id"]: r["n_triangles"] for r in G.triangle_census(df).collect()}
        assert got == _brute_triangles(edges), name
    # and the registry op runs end-to-end on real tables
    out = G.neardup_triangle_count(t)
    assert out.filter("n_triangles <= 0").count() == 0


def test_triangle_census_property_batch(spark):
    """Property check over 12 structurally varied seeded graphs —
    sparse/medium/dense random, wheels, shared-vertex cliques,
    triangle-free bipartite — censused in ONE Spark pass (disjoint
    node-id ranges keep the per-graph counts independent) and each
    compared to brute-force wedge closure."""
    import random

    from storm_data_etl_service_spark.operators import graph as G

    graphs = {}
    for gi, (n, p) in enumerate(
        [(12, 0.1), (20, 0.2), (30, 0.3), (15, 0.6), (25, 0.9), (40, 0.15)]
    ):
        rng = random.Random(100 + gi)
        graphs[gi] = [
            (a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < p
        ]
    # wheel: hub 0 + rim cycle (every rim edge closes with the hub)
    graphs[6] = [(0, r) for r in range(1, 9)] + [
        (min(r, r % 8 + 1), max(r, r % 8 + 1)) for r in range(1, 9)
    ]
    # two K5s sharing vertex 0
    graphs[7] = [(a, b) for a in range(5) for b in range(a + 1, 5)] + [
        (0, b) for b in range(5, 9)
    ] + [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    # complete bipartite K4,4 — many wedges, zero triangles
    graphs[8] = [(a, b) for a in range(4) for b in range(4, 8)]
    # path + pendant cliques at both ends
    graphs[9] = [(0, 1), (1, 2), (2, 3)] + [(3, 4), (3, 5), (4, 5)] + [
        (0, 6), (0, 7), (6, 7)
    ]
    # perfect twins: 3 groups of 4 identical-role nodes, groups fully joined
    graphs[10] = [
        (a, b)
        for a in range(12)
        for b in range(a + 1, 12)
        if a // 4 != b // 4 or a // 4 == 0
    ]
    # empty-ish: single edge, no triangles
    graphs[11] = [(0, 1)]

    off = 1000
    rows = [
        (gi * off + a, gi * off + b) for gi, es in graphs.items() for a, b in es
    ]
    df = spark.createDataFrame(rows, "doc_a long, doc_b long")
    got = {}
    for r in G.triangle_census(df).collect():
        got.setdefault(r["doc_id"] // off, {})[r["doc_id"] % off] = r["n_triangles"]
    for gi, es in graphs.items():
        assert got.get(gi, {}) == _brute_triangles(es), f"graph {gi}"


def test_quotient_wedge_probe_matches_brute_force(spark):
    """The dispatcher's pre-probe must equal the quotient graph's true
    wedge count (Σ over quotient nodes of C(deg,2)) on graphs with and
    without twins, and 0 on the empty graph."""
    import itertools

    from storm_data_etl_service_spark.operators import graph as G

    def brute_quotient_wedges(edges):
        adj = {}
        nodes = set()
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
            nodes |= {a, b}
        cls = {}
        for n in nodes:
            cls.setdefault(frozenset(adj[n] | {n}), []).append(n)
        rep = {n: min(ms) for ms in cls.values() for n in ms}
        qadj = {}
        for a, b in edges:
            ca, cb = rep[a], rep[b]
            if ca != cb:
                qadj.setdefault(ca, set()).add(cb)
                qadj.setdefault(cb, set()).add(ca)
        return sum(len(v) * (len(v) - 1) // 2 for v in qadj.values())

    cases = [
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],  # K5: 1 class
        [(1, 2), (2, 3), (3, 4), (4, 5)],  # path: no twins
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        [],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges or [], "doc_a long, doc_b long")
        got = G.quotient_wedge_probe(df).first()["quotient_wedges"]
        assert got == brute_quotient_wedges(edges), edges


def test_triangle_stats_dispatch_both_branches(spark, t, sf_dir):
    """triangle_stats must (a) pick the exact branch at gate density
    and equal the mod=1 estimate, and (b) with a forced cutover of -1,
    pick the DOULION branch and STILL hash-match the parameterized
    DuckDB oracle — the dispatch CASE replays in SQL on both sides."""
    import duckdb

    from storm_data_etl_service_spark.operators import graph as G
    from storm_data_etl_service_spark.operators.registry import (
        _triangle_stats_oracle,
    )

    exact = G.triangle_stats(t).first()
    assert exact["branch"] == "exact_census" and exact["sample_mod"] == 1
    truth = G.neardup_triangle_estimate(t, sample_mod=1).first()
    assert exact["est_triangles"] == truth["est_triangles"]
    assert exact["n_edges_kept"] == truth["n_edges_kept"]

    forced = G.triangle_stats(t, wedge_cutover=-1).first()
    assert forced["branch"] == "doulion_estimate" and forced["sample_mod"] == 4
    assert forced["quotient_wedges"] == exact["quotient_wedges"]

    con = duckdb.connect()
    for tbl in ("documents",):
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet')"
        )
    want = con.execute(_triangle_stats_oracle(cutover=-1)).fetchone()
    got = tuple(forced[c] for c in (
        "branch", "quotient_wedges", "sample_mod",
        "n_edges_kept", "n_tri_sampled", "est_triangles",
    ))
    assert got == want


def test_graph_ops_on_empty_and_multigraph_input(spark):
    """pagerank must return an empty frame (not ZeroDivisionError) on
    an empty edge list, and the census must be immune to duplicate /
    doubly-oriented edges and self-loops."""
    from storm_data_etl_service_spark.operators import graph as G

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = G.pagerank(empty, src="doc_a", dst="doc_b")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "deg", "rank"]
    assert G.triangle_census(empty).count() == 0

    clean = [(1, 2), (1, 3), (2, 3), (3, 4)]
    messy = clean + [(2, 1), (1, 2), (3, 3), (4, 3)]
    expected = _brute_triangles(clean)
    df = spark.createDataFrame(messy, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["n_triangles"] for r in G.triangle_census(df).collect()}
    assert got == expected


def test_triangle_estimate_unbiased_on_planted_clique(spark):
    """A K60 has C(60,3)=34220 triangles; the deterministic md5-nibble
    sample must land the 1/p³-scaled estimate within 2x of truth.
    This is the test that catches residue-rule degeneracy: any linear
    keep rule makes triangle survival ~p² and the estimate ~4x high."""
    import hashlib

    from storm_data_etl_service_spark.operators import graph as G

    n = 60
    edges = [(a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1)]
    kept = [
        (a, b)
        for a, b in edges
        if hashlib.md5(f"{a}|{b}".encode()).hexdigest()[0] in "0123"
    ]
    truth = n * (n - 1) * (n - 2) // 6
    df = spark.createDataFrame(kept, "doc_a long, doc_b long")
    sampled_tri = sum(_brute_triangles(kept).values()) // 3
    census_tri = (
        G.triangle_census(df).agg(F.sum("n_triangles")).first()[0] or 0
    ) // 3
    assert census_tri == sampled_tri
    est = sampled_tri * 64
    assert truth / 2 < est < truth * 2, (est, truth)


def test_triangle_estimate_doulion_contract(t):
    """sample_mod=1 keeps every edge, so the 'estimate' must equal the
    exact census total; the default sampled form must reproduce the
    deterministic residue sample's exact sampled count times 1/p^3."""
    from storm_data_etl_service_spark.operators import graph as G
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    exact_total = (
        G.neardup_triangle_count(t).agg(F.sum("n_triangles")).first()[0] or 0
    ) // 3
    full = G.neardup_triangle_estimate(t, sample_mod=1).first()
    assert full["est_triangles"] == exact_total
    assert full["n_edges_kept"] == dedup_minhash_lsh(t).count()

    import hashlib

    sampled = G.neardup_triangle_estimate(t).first()
    edges = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(t).collect()
        if hashlib.md5(f'{r["doc_a"]}|{r["doc_b"]}'.encode()).hexdigest()[0]
        in "0123"
    ]
    brute_total = sum(_brute_triangles(edges).values()) // 3
    assert sampled["n_edges_kept"] == len(edges)
    assert sampled["n_tri_sampled"] == brute_total
    assert sampled["est_triangles"] == brute_total * 64


def test_power_iteration_aligns_with_numpy(t):
    import numpy as np

    from storm_data_etl_service_spark.operators import similarity as S

    row = S.embedding_power_iteration(t).first()
    v = np.array(row["eigenvector"])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-6
    assert row["eigenvalue"] > 0
    # the spectrum of near-isotropic embeddings is flat, so a fixed
    # round count cannot fully align — assert the honest invariants:
    # the Rayleigh quotient improved over the start and sits near σ1
    A = np.array([r["embedding"] for r in t["embeddings"].collect()], dtype=np.float64)
    sigma1 = np.linalg.svd(A, compute_uv=False)[0]
    v0 = np.full(A.shape[1], 0.125)
    v0 /= np.linalg.norm(v0)
    r_start = np.linalg.norm(A @ v0)
    r_out = np.linalg.norm(A @ v)
    assert r_out > r_start
    assert r_out >= 0.9 * sigma1, (r_out, sigma1)


def test_crossmodal_agreement_accounts_for_both_signals(t):
    from storm_data_etl_service_spark.operators import dedup as D
    from storm_data_etl_service_spark.operators import similarity as S

    out = {r["signal"]: r["n_pairs"] for r in D.crossmodal_dedup_agreement(t).collect()}
    assert set(out) <= {"both", "text_only", "embedding_only"}
    # text side = prefix join (bit-identical to the naive all-pairs
    # set); embedding side = SemDeDup within-cell pairs, a subset of
    # the exact n^2 scan
    n_text = D.dedup_ngram_jaccard(t).count()
    n_emb = S.semdedup_pairs(t).count()
    assert out.get("both", 0) + out.get("text_only", 0) == n_text
    assert out.get("both", 0) + out.get("embedding_only", 0) == n_emb
    assert n_emb <= S.embedding_near_dup(t).count()


def test_segmented_running_total_resets_at_signup(t):
    out = A.segmented_running_total(t)
    ev = t["events"]
    assert out.count() == ev.count()
    # within each (user, segment), running_value is the prefix sum of
    # values in (ts, event_id) order — check one user end-to-end
    uid = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()["user_id"]
    rows = (
        out.join(ev.select("user_id", "event_id", "ts", "event_type", "value"),
                 ["user_id", "event_id"])
        .filter(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .collect()
    )
    seg, acc = None, 0.0
    for r in rows:
        if r["event_type"] == "signup" and r["segment"] != seg:
            pass  # signup row starts its own segment below
        if r["segment"] != seg:
            seg, acc = r["segment"], 0.0
        acc += r["value"]
        assert abs(r["running_value"] - acc) < 1e-6, r


def test_weekly_churn_rate_bounds(t):
    out = A.weekly_churn_rate(t).collect()
    assert out  # at least one observable week
    for r in out:
        assert 0 <= r["n_churned"] <= r["n_active"]
        assert abs(r["churn_rate"] - r["n_churned"] / r["n_active"]) < 1e-12


FLOAT_HEAVY = [
    "correlation_stats",
    "centroid_similarity_matrix",
    "linear_interpolate",
    "ratio_to_report",
    "mad_outlier_stats",
    "distribution_drift_chi2",
    "embedding_power_iteration",
    "pagerank_neardup",
]


def test_float_results_are_partition_count_independent(spark, sf_dir):
    """The repo's central determinism claim, tested directly: the
    float-heavy queries must return BIT-IDENTICAL values when the
    shuffle partitioning (and therefore partial-aggregation order)
    changes.  Plain double sums would fail this; the decimal routes /
    fixed-point folds are what make it pass."""
    from storm_data_etl_service_spark.operators.registry import REGISTRY

    def run_all(n_part):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        try:
            out = {}
            for name in FLOAT_HEAVY:
                rows = REGISTRY[name].build(spark, sf_dir).collect()
                out[name] = sorted(tuple(r) for r in rows)
            return out
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    a, b = run_all(3), run_all(29)
    for name in FLOAT_HEAVY:
        assert a[name] == b[name], f"{name} drifted with partition count"


def test_markov_eval_accounts_all_eval_transitions(t):
    out = A.markov_prediction_accuracy(t).cache()
    try:
        for r in out.collect():
            assert 0 <= r["n_correct"] <= r["n_eval"]
            assert abs(r["accuracy"] - r["n_correct"] / r["n_eval"]) < 1e-12
        # majority-class predictor must beat 1/|types| on average
        total_eval = out.agg(F.sum("n_eval")).first()[0]
        total_hit = out.agg(F.sum("n_correct")).first()[0]
        n_types = t["events"].select("event_type").distinct().count()
        assert total_hit / total_eval >= 1.0 / n_types * 0.8
    finally:
        out.unpersist()


def test_nearest_centroid_eval_accounting(t):
    """Synthetic embeddings carry no label signal, so accuracy sits
    near chance (1/K) — the eval must account every holdout vector
    and stay within [0, 1]; signal strength is a property of the
    data, not the operator."""
    from storm_data_etl_service_spark.operators import similarity as S

    out = S.nearest_centroid_accuracy(t).cache()
    try:
        n_odd = t["embeddings"].filter("vec_id % 2 = 1").count()
        assert out.agg(F.sum("n_test")).first()[0] == n_odd
        for r in out.collect():
            assert 0 <= r["n_correct"] <= r["n_test"]
            assert 0.0 <= r["accuracy"] <= 1.0
    finally:
        out.unpersist()


def test_seasonality_covers_full_grid_and_sums_to_one(t):
    out = A.seasonality_profile(t).cache()
    try:
        assert out.count() <= 7 * 24
        assert abs(out.agg(F.sum("share")).first()[0] - 1.0) < 1e-9
        bad = out.filter("dow_iso < 1 OR dow_iso > 7 OR hour < 0 OR hour > 23")
        assert bad.count() == 0
        assert out.agg(F.sum("n")).first()[0] == t["events"].count()
    finally:
        out.unpersist()


def test_jackknife_ci_contains_mean_and_is_calibrated(t):
    import numpy as np

    out = {r["event_type"]: r for r in A.jackknife_mean_ci(t).collect()}
    rows = t["events"].select("event_type", "value").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in by_type.items():
        r = out[et]
        v = np.array(vals)
        assert r["n"] == len(vals)
        assert abs(r["mean_value"] - v.mean()) < 1e-6
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"]
        # jackknife SE should be within a small factor of the CLT SE
        clt_se = v.std(ddof=1) / np.sqrt(len(v))
        assert 0.2 * clt_se < r["jackknife_se"] < 5 * clt_se, (et, r["jackknife_se"], clt_se)


def test_autocorrelation_detects_planted_daily_cycle(spark):
    """A square wave with a 24 h period (12 busy hours, 12 quiet) must
    produce ACF ≈ +1 at lag 24 and ≈ -1 at the anti-phase lag 12, and
    every coefficient must stay within [-1, 1]."""
    events = spark.sql(
        """SELECT h AS ts FROM (
             SELECT explode(sequence(
               timestamp'2024-01-01 00:00:00', timestamp'2024-01-14 23:00:00',
               interval 1 hour)) AS h)
           LATERAL VIEW explode(sequence(1, CASE WHEN hour(h) < 12 THEN 20 ELSE 5 END)) r AS i"""
    )
    acf = {
        r["lag_hours"]: r["acf"]
        for r in A.hourly_autocorrelation({"events": events}).collect()
    }
    assert set(acf) == set(range(1, 25))
    assert acf[24] > 0.95
    assert acf[12] < -0.95
    assert all(-1.0 - 1e-9 <= v <= 1.0 + 1e-9 for v in acf.values())


def test_seasonal_anomaly_flags_planted_spike_and_outage(spark):
    """Four weeks of a flat 10-events/hour baseline, plus one planted
    100-event spike and one planted zero-event outage (in different
    weekday/hour cells, so each cell's MAD stays 0): exactly those two
    hours must be flagged, the outage proving the spine makes missing
    hours visible."""
    from datetime import datetime

    outage, spike_at = datetime(2024, 1, 10, 7), datetime(2024, 1, 19, 15)
    base = spark.sql(
        """SELECT h AS ts FROM (
             SELECT explode(sequence(
               timestamp'2024-01-01 00:00:00', timestamp'2024-01-28 23:00:00',
               interval 1 hour)) AS h)
           LATERAL VIEW explode(sequence(1, 10)) r AS i
           WHERE h <> timestamp'2024-01-10 07:00:00'"""
    )
    spike = spark.sql(
        """SELECT timestamp'2024-01-19 15:00:00' AS ts
           FROM (SELECT explode(sequence(1, 90)))"""
    )
    out = A.seasonal_anomaly_hours({"events": base.union(spike)}).collect()
    flagged = {r["hour_ts"]: r for r in out}
    assert set(flagged) == {outage, spike_at}
    assert flagged[outage]["n"] == 0
    assert flagged[spike_at]["n"] == 100
    for r in out:
        assert r["deviation"] == abs(r["n"] - r["med"])
        assert 1 <= r["dow_iso"] <= 7 and 0 <= r["hour"] <= 23


def test_range_sorted_write_disjoint_ts_files(spark, t, tmp_path):
    """write_range_sorted_parquet: file footer min/max on the sort key
    must be pairwise disjoint — the 1-D data-skipping layout for
    time-ordered tables, produced without a global sort."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from storm_data_etl_service_spark.sources.files import (
        write_range_sorted_parquet,
    )

    out = str(tmp_path / "ts_sorted")
    # gotcha, encoded: Spark's default INT96 timestamps write NO
    # parquet min/max stats — the sorted layout would be unprunable
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        write_range_sorted_parquet(
            t["events"].select("event_id", "ts", "user_id"), out, ["ts"], 4
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    ranges = []
    for f in sorted(Path(out).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(md.schema.to_arrow_schema().names.__len__())
            if md.schema.to_arrow_schema().names[i] == "ts"
        )
        lo = min(md.row_group(i).column(idx).statistics.min
                 for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max
                 for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) == 4
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ts-ranges overlap: {ranges}"
    # content survives the relayout
    assert (
        spark.read.parquet(out).count() == t["events"].count()
    )


def test_codec_report_and_layout_advisor(spark, t, tmp_path):
    from storm_data_etl_service_spark.sources.files import (
        codec_size_report,
        layout_advisor,
    )

    report = codec_size_report(
        t["documents"].select("doc_id", "text"), str(tmp_path / "codecs")
    )
    assert set(report) == {"snappy", "zstd", "gzip"}
    assert all(v > 0 for v in report.values())
    # text compresses: the heavier codecs must beat snappy on this data
    assert report["zstd"] < report["snappy"]

    adv = layout_advisor("/root/testdata/sf0.001")
    assert adv["data_bytes_on_disk"] > 0
    assert adv["shuffle_partitions"] >= 32  # floor = core count
    assert adv["output_files"] >= 1
