"""Connected components over candidate-pair graphs.

Turns pairwise near-duplicate evidence (``dedup_minhash_lsh`` /
``dedup_ngram_jaccard`` output) into duplicate CLUSTERS — the step a
training-data pipeline actually needs: "keep one document per group",
not "here are some pairs".  Generalizes the reference's keyed
first-wins dedup (D8, reference docs/Architecture.md:99-102) from
equal-key groups to transitively-connected near-dup groups.

Algorithm: min-label propagation (hash-to-min).  Every node starts
labelled with its own id; each round every node takes the minimum
label among itself and its neighbours; at fixpoint the label is the
minimum node id reachable in the component — a deterministic,
partitioning-independent canonical representative.

Scale design:
* each round is one shuffle (join on src) + one partial-aggregated
  groupBy min — both key-partitioned, no driver data;
* rounds = graph diameter.  Near-dup graphs are dense clumps with
  tiny diameters (pairs all share shingles), so a handful of rounds
  converge; the cap + convergence check make termination explicit;
* every round's labels are staged (``operators.stage``), so the plan
  does not grow with iterations;
* the convergence test is a single count(*) over changed labels —
  the only driver-side value per round.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storm_data_etl_service_spark.operators import stage


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both orientations of an undirected edge list as (u, v), deduped
    — the shared adjacency form every graph op here starts from.
    Staged because every consumer iterates or multi-references it."""
    return stage(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Component label (min reachable id) per node of an undirected
    graph given as an edge list.  Returns (node, component_id).

    Raises if the propagation has not converged within ``max_rounds``
    — for near-dup clustering that means the candidate graph has a
    pathological diameter and the caller should switch to the
    large-star/small-star variant rather than silently mislabel.
    """
    sym = _symmetrize(edges, src, dst)
    labels = stage(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )

    for _ in range(max_rounds):
        neighbor_min = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = stage(
            labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def neardup_components(t) -> DataFrame:
    """Near-duplicate clusters: MinHash/LSH candidate pairs →
    connected components → (doc_id, component_id, is_canonical).

    ``is_canonical`` marks the keeper (min doc_id per component) —
    filtering on it is the "drop the duplicates" action.  Documents
    with no near-dup edge are absent (they are trivially canonical).
    """
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(t)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        (F.col("node") == F.col("component_id")).alias("is_canonical"),
    )


PR_ITERS = 5
PR_DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list —
    (node, deg, rank) after ``iters`` synchronous rounds.

    Deterministic by construction: every per-node contribution sum is
    a floor-quantized (1e-9) decimal reduction and each round's rank
    is re-quantized, so the result is bit-identical across partition
    counts, engines, and runs — an iterative-algorithm twin of the
    _dsum rule (a plain double fold would drift with partition order
    and never oracle-hash).

    Scale: one join (edges ⨝ ranks on src) + one keyed aggregation
    per round — the textbook distributed PageRank shape; each round is
    staged like connected_components.  The
    symmetric edge list has no dangling nodes, so no dangling-mass
    redistribution term is needed.
    """
    import math

    sym = _symmetrize(edges, src, dst)
    # every round re-reads deg
    deg = stage(sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg")))
    n_nodes = deg.count()
    if n_nodes == 0:
        # empty candidate graph: no ranks to compute (1/n is undefined)
        return deg.select("node", "deg", F.lit(0.0).alias("rank"))
    base = (1.0 - damping) / n_nodes
    init = math.floor((1.0 / n_nodes) * 1e9) / 1e9
    ranks = deg.select("node", "deg", F.lit(init).alias("rank"))
    for _ in range(iters):
        contrib = sym.join(ranks, sym["u"] == ranks["node"]).select(
            F.col("v"), (F.col("rank") / F.col("deg")).alias("c")
        )
        agg = contrib.groupBy("v").agg(
            (
                F.sum(F.floor(F.col("c") * 1e9).cast("decimal(25,0)")).cast("double")
                / F.lit(1e9)
            ).alias("s")
        )
        ranks = stage(
            deg.join(agg, deg["node"] == agg["v"]).select(
                "node",
                "deg",
                (
                    F.floor((F.lit(base) + F.lit(damping) * F.col("s")) * 1e9) / 1e9
                ).alias("rank"),
            )
        )
    return ranks


def pagerank_neardup(t) -> DataFrame:
    """PageRank centrality over the MinHash/LSH near-dup candidate
    graph: which documents sit at the center of duplication clusters
    (high rank = copied often / hub of a template family) — the
    prioritization signal for manual curation on top of
    neardup_components' flat clusters."""
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(t).select("doc_a", "doc_b")
    return pagerank(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "deg", "rank"
    )


def triangle_census(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Exact per-node triangle counts of an undirected simple graph,
    via TWIN-CLASS CONTRACTION.  Returns (doc_id, n_triangles) for
    every node in at least one triangle.

    Near-dup candidate graphs are clique-heavy: a template family of k
    copies is a k-clique, and wedge-join triangle enumeration on it
    materializes Θ(k³) rows — measured 4.7e9 wedges on the sf1.6
    shuffled corpus (13.9M LSH pairs, 65k nodes), a >420 s timeout,
    with degree-ordered orientation WORSE (6.6e9) because the cliques
    are near-regular.  But those cliques are exactly "true twins":
    nodes with identical CLOSED neighborhoods N[v].  Twins are pairwise
    adjacent and see the same outside world, so the census factors
    through the quotient graph of twin classes with weight
    multiplicities — every node in a class has the SAME count:

        T(u∈A) = C(w_A−1, 2)                      (both in A)
               + (w_A−1)·Σ_{B~A} w_B              (one in A, one out)
               + Σ_{B~A} C(w_B, 2)                (both in one B)
               + Σ_{B,C: A~B~C~A, B<C} w_B·w_C    (quotient triangles)

    Wedge enumeration runs only on the quotient, whose size is the
    number of DISTINCT similarity roles, not documents — the k-clique
    collapses to one weighted super-node.  On a graph with no twins
    the quotient equals the input and this degrades gracefully to the
    classic two-join census.

    Distributed shape: one groupBy to build closed neighborhoods, one
    groupBy on the (exact, not hashed) neighborhood array to form
    classes, equi-joins to map edges onto classes, then the x<y<z
    two-join enumeration on the quotient.  The neighborhood-array
    shuffle is NOT a blowup: the arrays total 2E+V elements — the same
    order as the pair list that produced them.  The node→class and
    class-weight relations are node-cardinality, so they carry no
    broadcast hints — AQE broadcasts them when they fit (it does at
    every tested scale) and falls back to shuffle joins when a
    billion-node pair graph wouldn't; no step carries more than O(E)
    rows except quotient wedges, which is the quantity contraction
    minimizes.  Robust to duplicate or doubly-oriented input edges
    (``collect_set`` builds the neighborhoods and the quotient edge
    list is ``distinct``) and to self-loops (a node is in its own
    CLOSED neighborhood by definition, and same-class pairs are
    filtered) — no pre-dedup pass is needed on multigraph-ish pair
    sources.  The probe and the census share one quotient
    (``_twin_quotient``), so ``triangle_stats`` contracts once for
    both."""
    # the contraction reads the edge list three times
    e = stage(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    return _census(*_twin_quotient(e))


def _twin_quotient(e: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Twin-class contraction of an ``(a, b)`` edge list (see
    ``triangle_census``): (node_cls, weights, qe).  cls_map feeds
    node_cls+weights (consumed 3x/4x by the census) and qe feeds the
    probe, qsym and the x<y<z enumeration, so both are staged:
    unstaged, every reference re-inlines the whole upstream subtree —
    for the LSH candidate graph the full MinHash pair build, measured
    4+ copies and a >250-codegen-unit plan."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    closed = (
        sym.groupBy(F.col("a").alias("n"))
        .agg(F.collect_set("b").alias("nb"))
        .select("n", F.sort_array(F.array_union("nb", F.array("n"))).alias("nbh"))
    )
    cls_map = stage(
        closed.groupBy("nbh").agg(
            F.min("n").alias("cls"),
            F.collect_list("n").alias("members"),
            F.count("*").alias("w"),
        )
    )
    node_cls = cls_map.select(F.explode("members").alias("node"), "cls")
    qe = stage(
        e.join(node_cls.select(F.col("node").alias("a"), F.col("cls").alias("ca")), "a")
        .join(node_cls.select(F.col("node").alias("b"), F.col("cls").alias("cb")), "b")
        .filter(F.col("ca") != F.col("cb"))
        .select(F.least("ca", "cb").alias("qa"), F.greatest("ca", "cb").alias("qb"))
        .distinct()
    )
    return node_cls, cls_map.select("cls", "w"), qe


def _quotient_wedges(qe: DataFrame) -> DataFrame:
    """Σ d·(d−1)/2 over quotient degrees: one row (quotient_wedges)."""
    qsym = qe.union(qe.select(F.col("qb").alias("qa"), F.col("qa").alias("qb")))
    return (
        qsym.groupBy("qa")
        .agg(F.count("*").alias("d"))
        .agg(
            F.coalesce(F.sum(F.expr("(d * (d - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("quotient_wedges")
        )
    )


def _census(node_cls: DataFrame, weights: DataFrame, qe: DataFrame) -> DataFrame:
    """``triangle_census``'s arithmetic over a given twin quotient."""
    # weighted neighbor sums over the quotient: s = Σ w_B, s2 = Σ C(w_B, 2)
    qsym = qe.union(qe.select(F.col("qb").alias("qa"), F.col("qa").alias("qb")))
    nbr_sums = (
        qsym.join(weights.select(F.col("cls").alias("qb"), "w"), "qb")
        .groupBy(F.col("qa").alias("cls"))
        .agg(
            F.sum("w").alias("s"),
            F.sum(F.expr("(w * (w - 1)) div 2")).alias("s2"),
        )
    )

    # quotient triangles, x<y<z two-join enumeration
    ab = qe.select(F.col("qa").alias("x"), F.col("qb").alias("y"))
    bc = qe.select(F.col("qa").alias("y2"), F.col("qb").alias("z"))
    tri = (
        ab.join(bc, F.col("y") == F.col("y2"))
        .join(
            qe.select(F.col("qa").alias("x3"), F.col("qb").alias("z3")),
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
            "left_semi",
        )
        .select("x", "y", "z")
    )
    wj = (
        tri.join(weights.select(F.col("cls").alias("x"), F.col("w").alias("wx")), "x")
        .join(weights.select(F.col("cls").alias("y"), F.col("w").alias("wy")), "y")
        .join(weights.select(F.col("cls").alias("z"), F.col("w").alias("wz")), "z")
    )
    tri3 = (
        wj.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("cls"), (F.col("wy") * F.col("wz")).alias("c")),
                    F.struct(F.col("y").alias("cls"), (F.col("wx") * F.col("wz")).alias("c")),
                    F.struct(F.col("z").alias("cls"), (F.col("wx") * F.col("wy")).alias("c")),
                )
            ).alias("p")
        )
        .select("p.cls", "p.c")
        .groupBy("cls")
        .agg(F.sum("c").alias("t3"))
    )

    per_cls = (
        weights.join(nbr_sums, "cls", "left")
        .join(tri3, "cls", "left")
        .select(
            "cls",
            (
                F.expr("((w - 1) * (w - 2)) div 2")
                + (F.col("w") - 1) * F.coalesce(F.col("s"), F.lit(0))
                + F.coalesce(F.col("s2"), F.lit(0))
                + F.coalesce(F.col("t3"), F.lit(0))
            )
            .cast("long")
            .alias("n_triangles"),
        )
        .filter(F.col("n_triangles") > 0)
    )
    return node_cls.join(per_cls, "cls").select(
        F.col("node").alias("doc_id"), "n_triangles"
    )


def neardup_triangle_estimate(t, sample_mod: int = 4) -> DataFrame:
    """DOULION-style sampled triangle estimate of the near-dup
    candidate graph (Tsourakakis et al., KDD'09): keep each candidate
    edge with probability p = 1/sample_mod, census the sampled graph
    EXACTLY (twin contraction, see ``triangle_census``), scale the
    closed-triple total by 1/p³.  Each triangle survives with p³, so
    the estimate is unbiased; one row out:
    (sample_mod, n_edges_kept, n_tri_sampled, est_triangles).

    This is the documented scale path for DEGENERATE pair densities
    where even the contracted exact census is wedge-bound (the
    shuffled sf1.6 corpus: 2.7e9 quotient wedges) — sampling cuts
    wedge work by p², so mod=4 is a 16× cheaper census with a
    variance bound from the paper.  The "sampling" is deterministic —
    keep an edge iff the first hex nibble of ``md5("a|b")`` falls in
    the lowest ``16/sample_mod`` values — so the same edges are kept
    on every engine (Spark and DuckDB emit identical md5 hex) and the
    estimate is oracle-checkable end-to-end, while md5's PRF quality
    makes the per-edge keep events independent, which p³ triangle
    survival REQUIRES.  A linear residue over the pair ids does NOT
    work: for any α·a+β·b ≡ 0 (mod m) rule, two of a triangle's keep
    events force β·(y−z) ≡ 0 for the third, so survival degenerates
    to ~p² and the 1/p³ scale-up overestimates by ~m× — a bias the
    oracle would mirror and never catch (caught in review, verified
    by the mod-4 arithmetic: 40503+69061 ≡ 0 (mod 4))."""
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    e = dedup_minhash_lsh(t).select("doc_a", "doc_b").toDF("a", "b")
    return _triangle_estimate_edges(e, sample_mod)


def _triangle_estimate_edges(e: DataFrame, sample_mod: int) -> DataFrame:
    """``neardup_triangle_estimate`` body over a precomputed ``(a, b)``
    edge set — shared with ``triangle_stats``, whose DOULION branch
    samples the pair list it already staged for the probe."""
    if sample_mod not in (1, 2, 4, 8, 16):
        raise ValueError("sample_mod must divide 16 (one md5 hex nibble)")
    allowed = "0123456789abcdef"[: 16 // sample_mod]
    nibble = F.substring(
        F.md5(F.concat_ws("|", F.col("a").cast("string"), F.col("b").cast("string"))),
        1,
        1,
    )
    # the contraction AND the n_edges_kept count both consume the kept edges
    kept = stage(e.filter(nibble.isin(*allowed)))
    return _census_estimate(kept, _twin_quotient(kept), sample_mod)


def _census_estimate(kept: DataFrame, quotient: tuple, sample_mod: int) -> DataFrame:
    """The estimate row from ``quotient``, the twin quotient of ``kept``."""
    totals = _census(*quotient).agg(
        F.coalesce((F.sum("n_triangles") / 3).cast("long"), F.lit(0).cast("long")).alias(
            "n_tri_sampled"
        )
    )
    return (
        kept.agg(F.count("*").alias("n_edges_kept"))
        .crossJoin(totals)  # 1-row x 1-row
        .select(
            F.lit(sample_mod).cast("long").alias("sample_mod"),
            "n_edges_kept",
            "n_tri_sampled",
            (F.col("n_tri_sampled") * F.lit(sample_mod**3).cast("long")).alias(
                "est_triangles"
            ),
        )
    )


def neardup_triangle_count(t) -> DataFrame:
    """Triangle census of the near-dup candidate graph: the number of
    closed triples through each document — triangles mean mutually-
    similar groups (a template family), open wedges mean chained
    similarity (drifted copies), so the census grades cluster density
    beyond what connected components can see.

    Exact, via twin-class contraction (see ``triangle_census``) — the
    k-clique a template family produces collapses to one weighted
    super-node, so the census costs quotient-wedges, not Θ(k³).  The
    candidate graph is pair-scale (pruned by LSH), so this never
    touches the corpus itself."""
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    e = dedup_minhash_lsh(t)  # doc_a < doc_b by construction
    return triangle_census(e, "doc_a", "doc_b")


#: Quotient-wedge count above which the exact twin-contracted census
#: hands off to the DOULION mod-4 estimate.  Calibrated from the
#: SCALE_PROBE measurements: the census is wedge-bound at ~475 s for
#: 2.7e9 quotient wedges on this host (≈ linear in wedges past the
#: O(E) prep), while the mod-4 estimate cuts wedge work 16× and ran
#: 14–38 s on the same corpora — so at 2e8 wedges the exact census
#: still lands in the tens of seconds and stays the default, and past
#: it the sampled rung wins by an order of magnitude.
WEDGE_CUTOVER = 200_000_000


def quotient_wedge_probe(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Cheap pre-probe for the census/estimate dispatch: the number of
    WEDGES (open triples) in the twin-class quotient graph — the exact
    quantity the contracted census's two-join enumeration materializes,
    computed in closed form from quotient degrees (Σ d·(d−1)/2) with
    zero wedge rows built, off the twin quotient the census consumes
    (``_twin_quotient``).  ``triangle_stats`` contracts once for both,
    so its probe adds one quotient-degree aggregate, not a second O(E)
    prep, while saving the potentially-quadratic enumeration on
    degenerate densities.  One row out: (quotient_wedges)."""
    return _quotient_wedges(_twin_quotient(edges.select(src, dst).toDF("a", "b"))[2])


def triangle_stats(t, wedge_cutover: int = WEDGE_CUTOVER) -> DataFrame:
    """Density-dispatched triangle statistics of the near-dup candidate
    graph: probe the quotient wedge count (closed form, no enumeration),
    then run the rung the density affords — the exact twin-contracted
    census when wedges ≤ ``wedge_cutover``, the DOULION mod-4 estimate
    past it (degenerate near-clique densities where even the contracted
    census is wedge-bound; see WEDGE_CUTOVER for the measured cutover).
    The exact branch is the estimate machinery at sample_mod=1 over
    the probe's own quotient — every edge kept, 1³ scale-up; only the
    DOULION branch contracts again, over its sample — so both branches
    share one output contract: (branch, quotient_wedges, sample_mod,
    n_edges_kept, n_tri_sampled, est_triangles); on the exact branch
    est_triangles IS the exact global triangle count.

    The probe scalar crosses the driver once (a single aggregate row —
    the documented agg-cardinality exception), because the branch
    decision changes the physical plan, exactly like AQE's runtime
    re-planning but keyed on a graph statistic Spark doesn't track.
    The DuckDB oracle replays the SAME probe and CASE, so the dispatch
    logic itself — not just each rung — is oracle-checked."""
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    # the contraction, n_edges_kept and the DOULION sample read the pairs
    edges = stage(dedup_minhash_lsh(t).select("doc_a", "doc_b").toDF("a", "b"))
    quotient = _twin_quotient(edges)
    wedges = int(_quotient_wedges(quotient[2]).first()["quotient_wedges"])
    exact = wedges <= wedge_cutover
    out = _census_estimate(edges, quotient, 1) if exact else _triangle_estimate_edges(edges, 4)
    return out.select(
        F.lit("exact_census" if exact else "doulion_estimate").alias("branch"),
        F.lit(wedges).cast("long").alias("quotient_wedges"),
        "*",
    )


def neardup_cluster_representative(t) -> DataFrame:
    """Resolve near-dup clusters to one kept document by QUALITY:
    per component keep the longest text (doc_id tiebreak) — the
    curation step after clustering, where "canonical = min id" is the
    wrong policy because the best copy should survive, not the first.

    Sort-free argmax: ``max(struct(n_chars, -doc_id))`` folds in the
    map-side partial aggregate, so the shuffle carries one row per
    (partition, component) — no ranking window, no per-cluster sort.
    """
    comp = neardup_components(t).select("doc_id", "component_id")
    docs = t["documents"].select("doc_id", "n_chars")
    members = comp.join(docs, "doc_id")
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("_b")
    return (
        members.groupBy("component_id")
        .agg(
            best,
            F.count("*").alias("n_members"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "component_id",
            (-F.col("_b.neg_id")).alias("kept_doc_id"),
            F.col("_b.n_chars").alias("kept_n_chars"),
            "n_members",
            "total_chars",
        )
    )


#: Recursion bound for the SQL-surface components twin.  Must exceed
#: the longest SHORTEST-path from any component's min node (its
#: eccentricity); LSH near-dup clusters are near-cliques (diameter
#: ≤ 3 in practice), so 12 gives ~4x headroom for chain-shaped
#: clusters at larger scale factors.  ``sql_cc_depth_headroom``
#: PROVES sufficiency per dataset — see its docstring for the
#: fixpoint argument (raw max depth is NOT the right probe: downhill
#: walks revisit nodes through cycles, so the frontier only empties
#: at the cap by construction).
SQL_CC_MAX_DEPTH = 12


def _sql_cc_reach_cte(depth_bound: int) -> str:
    """Shared recursive-CTE body: symmetric edge closure + downhill
    min-label walks (label < next node), depth-bounded.  The
    recursive member is DISTINCT so each step's frontier is bounded
    by the (node, label) closure — without it, path multiplicity in
    near-cliques multiplies the frontier exponentially with depth."""
    return f"""
WITH RECURSIVE sym AS (
  SELECT doc_a AS u, doc_b AS v FROM lsh_pairs_for_sql_cc
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs_for_sql_cc),
reach (node, label, depth) AS (
  SELECT u, u, 0 FROM (SELECT DISTINCT u FROM sym)
  UNION ALL
  SELECT DISTINCT s.v, r.label, r.depth + 1
  FROM reach r JOIN sym s ON s.u = r.node
  WHERE r.depth < {depth_bound} AND r.label < s.v
)"""


@contextmanager
def _raised_recursion_limit(spark, limit: int = 50_000_000):
    """Temporarily raise ``spark.sql.cteRecursionRowLimit``, restoring
    the prior value (or unsetting) on exit so the loosened
    runaway-recursion guard never outlives the recursive query."""
    key = "spark.sql.cteRecursionRowLimit"
    prev = spark.conf.get(key, None)
    if prev is not None and int(prev) >= limit:
        yield
        return
    spark.conf.set(key, str(limit))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def neardup_components_sql(spark, t, depth_bound: int = SQL_CC_MAX_DEPTH) -> DataFrame:
    """Connected components via Spark 4's RECURSIVE CTE — the SQL
    twin of ``neardup_components`` (same output contract, same DuckDB
    oracle), demonstrating the engine's recursive-query surface.

    Spark's recursion supports UNION ALL only, so cycles are broken
    semantically: a label propagates only downhill (label < next
    node), which is lossless for min-label components (the component
    min is below every node on its paths), and walk growth is bounded
    by ``depth_bound``.  A component whose min-label eccentricity
    exceeds the bound would get silently wrong labels — which is why
    ``sql_cc_depth_headroom`` exposes the deepest depth actually used
    (strictly below the bound ⇒ natural termination ⇒ exact result;
    tests assert this at every SF).  The iterative DataFrame loop
    (``connected_components``) remains the 100 TB path — it dedups
    labels every round and checkpoints lineage; this entry is
    API-surface parity, correct for the near-clique graphs near-dup
    detection produces.

    Engine boundary measured at the synthesized x16 scale step
    (components averaging ~50 near-clique nodes): UNION ALL
    recursion cannot dedup (node, label) pairs between rounds, so
    the downhill-walk table grows combinatorially with component
    density — first tripping Spark's default
    ``spark.sql.cteRecursionRowLimit`` (1M; raised here to 50M for
    mid-density graphs) and, denser still, becoming infeasible
    outright.  The iterative loop (``neardup_components``), which
    min-aggregates labels every round, handles the same sf1.6 graph
    in ~37 s — it is the only 100 TB path; this entry is API-surface
    parity at moderate density."""
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    dedup_minhash_lsh(t).createOrReplaceTempView("lsh_pairs_for_sql_cc")
    df = spark.sql(
        _sql_cc_reach_cte(depth_bound)
        + """
SELECT node AS doc_id, min(label) AS component_id,
       node = min(label) AS is_canonical
FROM reach GROUP BY node"""
    )
    # The recursion needs a higher cteRecursionRowLimit than the 1M
    # default, but the limit is a session-global runaway-recursion
    # safety valve — raising it must not leak to other queries on the
    # shared session.  The conf is read at EXECUTION time, so restore
    # it only after eagerly materializing the (small, #docs-bounded)
    # component table — the one eager stage in the package (see
    # ``operators.stage``): it truncates lineage so later actions never
    # re-run the recursion under the restored limit.
    with _raised_recursion_limit(spark):
        return df.localCheckpoint(eager=True)


def sql_cc_depth_headroom(spark, t, depth_bound: int = SQL_CC_MAX_DEPTH) -> int:
    """Deepest FIRST discovery of any (node, label) pair — the sound
    convergence probe for the bounded recursion.

    Raw ``max(depth)`` is always the cap on any cyclic graph (downhill
    walks revisit nodes through different paths forever), so the
    fixpoint argument uses first discoveries instead: every pair first
    seen at depth d < bound had its successors expanded (at d+1 ≤
    bound), so if NO pair is first discovered at the cap itself, the
    (node, label) closure is complete and the component labels are
    exact.  Assert ``headroom < depth_bound`` in tests at each SF.
    An empty pair graph converges trivially — returns 0 (max over
    zero rows binds SQL NULL, which would break the assertion)."""
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    dedup_minhash_lsh(t).createOrReplaceTempView("lsh_pairs_for_sql_cc")
    with _raised_recursion_limit(spark):
        row = spark.sql(
            _sql_cc_reach_cte(depth_bound)
            + """
SELECT coalesce(max(first_depth), 0) AS max_first_depth FROM (
  SELECT node, label, min(depth) AS first_depth
  FROM reach GROUP BY node, label)"""
        ).first()
    return row["max_first_depth"]
