"""Deduplication operators: exact (raw + normalized), n-gram Jaccard
(naive + prefix-filtered), MinHash/LSH (batch + incremental-index),
SimHash, cross-source overlap, and the ladder synthesis report.

Beyond-reference surface (BASELINE.json north star): the dedup suite a
large-scale training-data pipeline needs, generalizing the reference's
idempotent-ID first-wins dedup (D8, reference
docs/Architecture.md:99-102, cmd/validate/main.go:357-391) to content-
level near-duplicate detection.

Scale design:
* exact dedup is a hash-groupBy — one shuffle on the content hash,
  map-side partial agg;
* n-gram Jaccard is the exact method: explode shingles → self-join on
  shingle → count intersections.  At 100 TB the shingle join dominates
  — that's what MinHash/LSH is for: signatures are a map-only stage,
  the only shuffle is on (band, key), and candidate pairs are a tiny
  fraction of the n² space;
* all hashing is sha256-based and lexicographic-min, so signatures are
  engine-portable (the DuckDB oracle reproduces them bit-for-bit) and
  cluster-reproducible (no JVM-hash dependence).
"""

from __future__ import annotations

import operator
from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storm_data_etl_service_spark.operators import stage
from storm_data_etl_service_spark.operators.text import (
    min_tokens_pred,
    sha_int,
    tokens_col,
)

#: MinHash configuration: 12 permutations in 4 bands of 3.
MINHASH_SEEDS = 12
LSH_BANDS = 4
LSH_ROWS = 3
#: Every (rows, bands) banding of the signature, r·b = MINHASH_SEEDS —
#: the configurations ``minhash_band_calibration`` prices.
BAND_LAYOUTS = [
    (r, MINHASH_SEEDS // r)
    for r in range(1, MINHASH_SEEDS + 1)
    if MINHASH_SEEDS % r == 0
]
if LSH_BANDS * LSH_ROWS > MINHASH_SEEDS:
    # band i reads signature slots i*LSH_ROWS+1 .. i*LSH_ROWS+LSH_ROWS:
    # a wider layout would index past the signature
    raise ValueError(
        f"LSH_BANDS * LSH_ROWS = {LSH_BANDS * LSH_ROWS} exceeds "
        f"MINHASH_SEEDS = {MINHASH_SEEDS}"
    )

#: Thresholds of the exact shingle-similarity family: Jaccard for the
#: symmetric pairs, containment (the default of ``dedup_containment``)
#: for the directed ones.
JACCARD_THRESHOLD = 0.8
CONTAINMENT_THRESHOLD = 0.9


def threshold_ratio(theta: float) -> tuple[int, int]:
    """θ as the exact rational p/q (0.8 → 4/5, 0.9 → 9/10), so prefix
    lengths and size gates stay integer-exact: ``ceil(θ·n)`` on binary
    floats is off by one at exact multiples (0.9·10 binds as
    9.000000000000002).  The DuckDB oracles take the same (p, q)."""
    frac = Fraction(theta).limit_denominator(1_000_000)
    return frac.numerator, frac.denominator


def shingles_col(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (empty array when < n tokens).

    Built by zipping n shifted ``slice`` views of the token array
    rather than ``element_at`` over a ``sequence``: higher-order
    functions are interpreted, and Catalyst inlines a staged token
    column back into every consumer (CollapseProject runs even across
    a pushed-down filter), so each ``element_at`` access re-evaluated
    the whole tokenize tree — O(tokens²) regex splits per document.
    ``zip_with`` evaluates its array children exactly once per row, so
    this form does O(n) evaluations of ``toks`` per document no matter
    what the optimizer inlines (measured 8× on the shingle table at
    sf0.1: 15.8 s → 1.9 s)."""
    size = F.size(toks)
    m = size - (n - 1)  # number of shingles; only used under size >= n
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, k + 1, m), lambda acc, x: F.concat_ws(" ", acc, x)
        )
    return F.array_distinct(F.when(size >= n, grams).otherwise(F.array().cast("array<string>")))


def dedup_exact(t) -> DataFrame:
    """Exact dedup by content sha256: one group per distinct text,
    first-wins keeper = min doc_id (deterministic under any
    partitioning — the reference's file-order 'first' does not exist
    on a cluster)."""
    return (
        t["documents"]
        .groupBy(F.sha2(F.col("text"), 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def _doc_shingles(t) -> DataFrame:
    # Filter on the pushdown-cheap token-count predicate
    # (``min_tokens_pred``), NOT on the staged ``_toks`` (or on
    # size(shingles) > 0): Catalyst pushes the staging filter below
    # the post-scan repartition, so a predicate referencing the staged
    # column gets the whole interpreted tokenize tree inlined into the
    # SERIAL single-row-group scan task (measured 1.4–2 s of
    # single-task CPU per scan branch at sf0.1; 20× for the shingle
    # form).  < 3 tokens ⇔ no shingles, so the predicates are
    # equivalent.
    return (
        t["documents"]
        .filter(min_tokens_pred(F.col("text"), 3))
        .select("doc_id", tokens_col(F.col("text")).alias("_toks"))
        .select("doc_id", shingles_col(F.col("_toks")).alias("shingles"))
    )


def dedup_ngram_jaccard(t) -> DataFrame:
    """Exact near-dup pairs by word-3-gram Jaccard ≥ 0.8.

    explode → self-join on shingle → |intersection| per pair → join
    per-doc shingle counts → J = c/(na+nb-c).  Exact but O(sum df²) in
    the shingle join; the scale path is ``dedup_minhash_lsh`` below.
    """
    sh = _doc_shingles(t)
    counts = sh.select("doc_id", F.size("shingles").alias("ns"))
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nb"))
    jaccard = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_containment(t, threshold: float = CONTAINMENT_THRESHOLD) -> DataFrame:
    """Near-SUPERSET pairs by word-3-gram containment
    C(sub→super) = |sub ∩ super| / |sub| ≥ ``threshold`` (default 0.9).

    The dedup-ladder rung Jaccard misses: a short document embedded
    verbatim inside a much longer one (quote farms, boilerplate
    wrappers, scrape-of-a-scrape expansions) has near-1.0 containment
    but LOW Jaccard — |A∩B|/|A∪B| is diluted by the superset's extra
    shingles, so a J ≥ 0.8 gate never fires.  Emits one row per
    DIRECTED pair (doc_sub contained in doc_super) with both scores so
    downstream keep-policies can drop the subset and keep the superset.

    Scale: ASYMMETRIC prefix filtering.  The symmetric PPJoin prefix
    (``dedup_jaccard_prefix_join``) does not carry over as-is, but a
    directed variant is sound for ANY threshold θ: with
    ``t_min = ceil(θ·n_sub)``, C(sub→super) = c/n_sub ≥ θ forces
    c ≥ t_min, so every qualifying pair shares at least one of the
    sub's first ``n_sub - t_min + 1`` shingles under the global
    rarest-first order (if the intersection missed that whole prefix,
    c ≤ t_min - 1 < θ·n_sub).  θ is converted to an exact rational
    p/q up front so t_min and the directed size gate
    (``q·n_super ≥ p·n_sub``, i.e. n_super ≥ t_min — a super smaller
    than the required intersection cannot cover it) stay INTEGER-exact;
    ``ceil(θ·n)`` on binary floats is off-by-one at exact multiples
    (0.9·10 binds as 9.000000000000002).  Candidates come from joining
    each doc's rarest-shingle PREFIX (sub role) against the full
    exploded shingle table (super role) — the df² blowup of the naive
    all-shingles self-join lives precisely in the high-frequency
    shingles the prefix excludes (measured 8× at sf0.1 at θ=0.9:
    27 s → 3.4 s, identical output).  Exact verification runs
    ``array_intersect`` on the candidate pairs only.  100% recall at
    every threshold, no knobs.  Generalizes the reference's duplicate
    detection (cmd/validate/main.go:357-391) to asymmetric content
    containment."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"containment threshold must be in (0, 1], got {threshold}")
    p, q = threshold_ratio(threshold)
    ranked = _ranked_shingles(_doc_shingles(t))
    sub_prefix = _prefix_rows(ranked, threshold).select(
        F.col("doc_id").alias("doc_sub"), F.col("ns").alias("n_sub"), "s"
    )
    # every downstream relation (super side, verification arrays)
    # derives from `ranked` — one shared exchange, computed once and
    # ReusedExchange'd into the other consumers, instead of re-running
    # the tokenize/shingle map work per plan occurrence.
    # MERGE hint: left to estimates the planner broadcast THIS side —
    # the full exploded shingle table (260 k rows / 40 MB at sf0.1,
    # built single-threaded on the driver), and at corpus scale the
    # candidate join cannot be a broadcast at all (both sides are
    # shingle-stream-sized).  Sort-merge is the spill-safe at-scale
    # strategy and measured 0.9× locally vs the serial broadcast build.
    sup_full = ranked.select(
        F.col("doc_id").alias("doc_super"),
        F.size("ordered").alias("n_super"),
        F.explode(_shingle_strings(F.col("ordered"))).alias("s"),
    ).hint("merge")
    cand = (
        sub_prefix.join(
            sup_full,
            (sub_prefix["s"] == sup_full["s"])
            & (F.col("doc_sub") != F.col("doc_super"))
            & (q * F.col("n_super") >= p * F.col("n_sub")),
        )
        .select("doc_sub", "doc_super")
        .distinct()
    )
    pairs, c, na, nb = _with_overlap(cand, _ranked_sets(ranked), "doc_sub", "doc_super")
    c = c.cast("double")
    return pairs.select(
        "doc_sub",
        "doc_super",
        na.cast("long").alias("n_sub"),
        nb.cast("long").alias("n_super"),
        (c / na).alias("containment"),
        _jaccard(c, na, nb).alias("jaccard"),
    ).filter(F.col("containment") >= threshold)


def dedup_jaccard_prefix_join(t) -> DataFrame:
    """Exact near-dup pairs by word-3-gram Jaccard ≥ 0.8 via PREFIX
    FILTERING (Chaudhuri et al. / PPJoin) — same output contract as
    ``dedup_ngram_jaccard`` (the oracle is literally the same SQL),
    but the exact-at-scale plan:

    * rank every shingle by global document frequency (rarest first —
      one aggregation + one annotate join);
    * per doc, only the first ``|s| - ceil(0.8|s|) + 1`` rarest
      shingles (~20%) enter the candidate self-join.  J ≥ 0.8 pairs
      MUST share a prefix token under a consistent global order, so
      recall is exactly 100% — and the quadratic df² blowup of the
      naive shingle join lives precisely in the high-frequency tokens
      the prefix excludes;
    * a size filter (0.8·|a| ≤ |b| ≤ |a|/0.8, integer-exact as
      4·max ≤ 5·min) prunes length-incompatible candidates;
    * exact verification only on surviving candidates via
      ``array_intersect`` on the full shingle arrays.

    Unlike MinHash/LSH this is exact with no recall knob; unlike the
    naive join it never explodes common shingles into the join.

    The verification arrays are re-derived from the same post-exchange
    ``ranked`` relation the prefix comes from (``transform`` strips the
    df rank), NOT from a fresh ``_doc_shingles`` scan: all three
    consumers then share ONE exchange, so the tokenize/shingle/df-join
    map work runs once and the planner wires the other two in as
    ReusedExchange (measured 1.2× at sf0.1, identical pairs —
    ``array_intersect`` is order-insensitive, so the rarest-first
    element order is immaterial).
    """
    return _jaccard_pairs_from_ranked(_ranked_shingles(_doc_shingles(t)))


def _jaccard_pairs_from_ranked(ranked: DataFrame) -> DataFrame:
    """``dedup_jaccard_prefix_join`` body over a precomputed ranked
    relation — shared with ``dedup_ladder_report``, whose rungs 2 and 3
    both consume the same exchange (see ``_ranked_shingles``)."""
    pairs, c, na, nb = _with_overlap(
        _prefix_candidates(ranked), _ranked_sets(ranked), "doc_a", "doc_b"
    )
    return (
        pairs.withColumn("jaccard", _jaccard(c, na, nb))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ranked_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, ordered) with ``ordered`` = the doc's distinct shingles
    as (df, s) structs sorted rarest-first under the global document-
    frequency order.  This is the shared staging relation of the whole
    prefix-filter family: it ENDS IN AN EXCHANGE (the groupBy on
    doc_id), so when a query references it several times — prefix
    candidates, the super side, verification arrays — the physical
    planner computes the expensive map side (tokenize → shingle →
    explode → df annotate) once and replaces every other occurrence
    with a ReusedExchange over the same shuffle files.

    The document frequency is a COUNT WINDOW over the exploded table,
    not a groupBy + join back: the aggregate's column pruning dropped
    ``doc_id`` from its branch, which de-canonicalized the two scan
    subtrees and made the planner run the scan → tokenize → shingle →
    explode map work TWICE (plus broadcast the full exploded relation
    back for the annotate join — 40 MB at sf0.1).  The window keeps
    one scan subtree and turns the annotate into the same single
    shuffle on ``s`` the aggregate needed anyway (plan: 2 Generate ×
    260 k rows + BroadcastExchange 40 MB → 1 Generate, no broadcast;
    identical (df, s) output — the window count equals the joined
    groupBy count row-for-row)."""
    # The df annotate is an explicit repartition("s") consumed TWICE —
    # once by the count aggregate, once as the probe side of a
    # shuffled-hash annotate join — so the expensive map side
    # (tokenize → shingle → explode) runs once and the second consumer
    # is a ReusedExchange (the dedup_minhash_lsh trick).  Versus the
    # previous count-window form this removes the SORT of the full
    # exploded shingle stream (sort-based WindowExec) that ran inside
    # the same stage: the aggregate hashes, the join probes a
    # per-partition hash table of the (distinct-shingle)-sized counts,
    # and nothing orders the stream until the per-doc sort_array —
    # identical (df, s) values row-for-row.
    ex = sh.select("doc_id", F.explode("shingles").alias("s")).repartition("s")
    counts = ex.groupBy("s").agg(F.count("*").alias("df")).hint("shuffle_hash")
    # Staged: the shared exchange dedups the SHUFFLE, but each of the
    # 3-5 consumers would still re-run the post-shuffle collect_list +
    # sort_array aggregate (~150 ms each at sf0.1) and add an AQE stage.
    return stage(
        ex.join(counts, "s")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("ordered"))
    )


def _shingle_strings(ordered: Column) -> Column:
    """The shingle texts of a (df, s) struct array, in its order."""
    return F.transform(ordered, lambda x: x["s"])


def _ranked_sets(ranked: DataFrame) -> DataFrame:
    """(doc_id, shingles) re-derived from the ranked relation, so the
    verification arrays and the MinHash rung read the same exchange as
    the prefix (element order is rarest-first, which neither an
    intersection nor a min-hash can see)."""
    return ranked.select("doc_id", _shingle_strings(F.col("ordered")).alias("shingles"))


def _prefix_rows(ranked: DataFrame, theta: float) -> DataFrame:
    """(doc_id, ns, s) rows of each doc's rarest-first PREFIX: its first
    ``ns - ceil(θ·ns) + 1`` shingles.  Any pair whose overlap must
    reach ``ceil(θ·ns)`` of this doc's shingles shares one of them under
    the global order (PPJoin, Xiao et al. 2008) — the bound behind both
    the symmetric Jaccard and the directed containment candidates; each
    caller adds its own size gate."""
    p, q = threshold_ratio(theta)
    ns = F.size("ordered")
    # ceil(p*ns/q) = floor((p*ns + q - 1)/q), integer-exact
    plen = (ns - F.floor((p * ns + (q - 1)) / F.lit(q)) + 1).cast("int")
    return ranked.select(
        "doc_id",
        ns.alias("ns"),
        F.explode(_shingle_strings(F.slice("ordered", F.lit(1), plen))).alias("s"),
    )


def _prefix_candidates(ranked: DataFrame) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the rarest-first prefix
    self-join + integer-exact size filter: a 100%-recall superset of
    the J ≥ 0.8 pairs, strictly smaller than the all-shingles join."""
    p, q = threshold_ratio(JACCARD_THRESHOLD)
    # SHUFFLE_HASH hint: the planner broadcast this exploded prefix
    # relation (55 k rows / 34 MB at sf0.1) and built the hash table
    # single-threaded on the driver; a shuffled hash join partitions
    # both sides on ``s`` (the self-join canonicalizes to ONE exchange
    # + ReusedExchange) and builds per-partition tables in parallel —
    # measured 0.79× locally.  At scale the build side per partition
    # is the ~20% rarest-prefix stream slice, the "moderately small
    # per partition" case shuffled hash is meant for.
    prefix = _prefix_rows(ranked, JACCARD_THRESHOLD).hint("shuffle_hash")
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                p * F.greatest(F.col("a.ns"), F.col("b.ns"))
                <= q * F.least(F.col("a.ns"), F.col("b.ns"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _with_overlap(
    pairs: DataFrame, sets: DataFrame, a: str, b: str
) -> tuple[DataFrame, Column, Column, Column]:
    """``pairs`` joined to the shingle sets (``sets``: doc_id,
    shingles) of its id columns ``a`` and ``b``, and the exact overlap
    columns over them: c = |A ∩ B|, na = |A|, nb = |B| — the one
    verify step of the prefix-filter family.  Each array is named after
    its key (doc_a → sh_a)."""
    sa, sb = a.replace("doc", "sh"), b.replace("doc", "sh")

    def side(key: str, arr: str) -> DataFrame:
        return sets.select(F.col("doc_id").alias(key), F.col("shingles").alias(arr))

    joined = pairs.join(side(a, sa), a).join(side(b, sb), b)
    return joined, F.size(F.array_intersect(sa, sb)), F.size(sa), F.size(sb)


def _jaccard(c: Column, na: Column, nb: Column) -> Column:
    """|A ∩ B| / |A ∪ B| of two distinct sets, as c / (na + nb − c)."""
    return c / (na + nb - c)


def _power(x: Column, n: int) -> Column:
    """``x**n`` as a fixed IEEE multiply chain, never ``pow`` (libm and
    the JVM differ in ulps): x·x·x for n ≤ 3, the square of x^(n/2) for
    even n — the chain ``registry._power_sql`` spells in DuckDB."""
    if n <= 3:
        return reduce(operator.mul, [x] * n)
    if n % 2:
        raise ValueError(f"no multiply chain for x^{n}")
    half = _power(x, n // 2)
    return half * half


#: Window length (tokens) for exact duplicated-span detection.
SPAN_TOKENS = 10


def duplicated_span_report(t) -> DataFrame:
    """Exact duplicated-SPAN detection: every 10-token window that
    occurs in ≥ 2 distinct documents, with occurrence counts and the
    canonical first occurrence (min (doc_id, pos)).

    Span-granular exact substring dedup (the signal behind
    suffix-array corpus dedup): doc-level Jaccard misses a quoted
    paragraph inside two otherwise-different documents; this catches
    it.  Plan: staged tokens → rolling windows via ``posexplode``
    (map-only) → one partial-agg'd shuffle keyed on the span itself.
    The first-occurrence argmin travels through the aggregation as a
    single packed BIGINT ``doc_id*1e6 + pos`` (integer-exact in both
    engines), never as a sort.
    """
    # zip-of-slices, not element_at-over-sequence: the optimizer can
    # inline the token tree into every element access (see
    # shingles_col), which made this window builder O(tokens²) per doc
    # — measured 13× at sf0.1 (25.8 s → 2.0 s), identical rows.
    # arrays_zip of the 10 shifted slices + ONE transform, not a
    # 9-round zip_with fold: zip_with is interpreted, so the fold paid
    # 9 lambda invocations and 54 token-copies per output span (2+3+
    # ...+10 progressive concats); the single-pass form pays 1 and 10.
    # Each slice child is evaluated exactly once per row, same as
    # zip_with children — no per-element re-evaluation risk.
    size = F.size("_toks")
    m = size - (SPAN_TOKENS - 1)
    zipped = F.arrays_zip(
        *[F.slice(F.col("_toks"), k + 1, m) for k in range(SPAN_TOKENS)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(SPAN_TOKENS)])
    )
    staged = (
        t["documents"]
        .filter(min_tokens_pred(F.col("text"), SPAN_TOKENS))
        .select("doc_id", tokens_col(F.col("text")).alias("_toks"))
        .select("doc_id", grams.alias("spans"))
    )
    # posexplode_OUTER, deliberately: plain posexplode makes Catalyst
    # infer `size(spans) > 0 AND isnotnull(spans)` and push it below
    # the repartition exchange into the serial scan stage, where the
    # condition re-evaluates the ENTIRE tokenize+zip+transform span
    # pipeline one-task (measured 2.9 s of the query's 3.5 s at
    # sf0.1).  The min_tokens_pred staging filter already guarantees
    # size(spans) = size(_toks) - 9 >= 1 and spans non-null, so the
    # outer form emits the identical row set with no inferred filter.
    ex = staged.select("doc_id", F.posexplode_outer("spans").alias("pos", "span"))
    first_key = F.min(F.col("doc_id") * 1000000 + F.col("pos") + 1).alias("first_key")
    return (
        ex.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            first_key,
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "span",
            "n_docs",
            "n_occurrences",
            F.expr("first_key div 1000000").alias("first_doc_id"),
            (F.col("first_key") % 1000000).alias("first_pos"),
        )
    )


#: Universal-hash modulus for MinHash permutations (2^31 - 1, prime).
MINHASH_P = 2147483647


def minhash_params(n_seeds: int = MINHASH_SEEDS) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) permutation coefficients derived from
    sha256 — computed driver-side, embedded as literals in both the
    Spark plan and the DuckDB oracle."""
    import hashlib

    def h(tag: str) -> int:
        return int(hashlib.sha256(tag.encode()).hexdigest()[:8], 16)

    return [(h(f"a|{j}") % (MINHASH_P - 1) + 1, h(f"b|{j}") % MINHASH_P) for j in range(n_seeds)]


def shingle_base_hashes(shingles: Column) -> Column:
    """One sha256-derived integer hash per shingle, reduced mod p —
    computed ONCE and staged as a column (inlining it into every
    permutation would re-run the sha256 per seed: 12× the work)."""
    return F.transform(shingles, lambda s: sha_int(s, width=15) % MINHASH_P)


def minhash_signature(base_hashes: Column, n_seeds: int = MINHASH_SEEDS) -> Column:
    """MinHash signature via n_seeds cheap universal-hash permutations
    ``(a_j*h + b_j) mod p`` over the staged base hashes.

    Integer-only and int64-safe (h < p < 2^31, a < 2^31 ⇒ a*h < 2^62),
    so the DuckDB oracle reproduces it exactly.  Min over a set is
    permutation-invariant — shingle order never matters.
    """

    def perm_min(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(base_hashes, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)
        )

    return F.array(*[perm_min(a, b) for a, b in minhash_params(n_seeds)])


def lsh_band_keys(t, sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, key) LSH index rows — the map-only half of
    MinHash/LSH dedup, and exactly what a PERSISTED dedup index
    stores (see dedup_incremental_minhash).

    ``sh`` optionally supplies a precomputed (doc_id, shingles)
    relation: min-over-a-set is order-invariant, so ANY element order
    (positional, rarest-first) yields the same signature —
    ``dedup_ladder_report`` passes the shingle arrays re-derived from
    its rung-2 ``_ranked_shingles`` exchange so the tokenize/shingle
    map work runs once across both rungs."""
    sig = (
        (_doc_shingles(t) if sh is None else sh)
        .withColumn("_base", shingle_base_hashes(F.col("shingles")))
        .select("doc_id", minhash_signature(F.col("_base")).alias("mh"))
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.sha2(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(F.col("mh"), i * LSH_ROWS + k + 1).cast(
                                    "string"
                                )
                                for k in range(LSH_ROWS)
                            ],
                        ),
                        256,
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def dedup_minhash_lsh(t, sh: DataFrame | None = None) -> DataFrame:
    """MinHash + LSH candidate pairs: signature (map-only) → band keys
    → shuffle on (band, key) → pairs within a bucket.

    With J≈threshold pairs, P(candidate) = 1-(1-J^r)^b; r=3, b=4
    catches J≥0.8 with ≥99.7% probability.  The only shuffle is the
    band-bucket join — this is the 100 TB dedup path.

    The band table is explicitly repartitioned on the join key BEFORE
    the self-join: both join inputs then canonicalize to the same
    exchange, so the planner replaces the second side with a
    ReusedExchange and the signature map work (sha256 per shingle +
    12 permutations — the dominant cost) runs ONCE instead of once
    per side (measured 1.5× at sf0.1: 2.0 s → 1.3 s, identical
    pairs).  Same byte volume over the wire as the join's own
    shuffles; strictly fewer map-side evaluations, at any cluster
    size.
    """
    bands = lsh_band_keys(t, sh).repartition("band", "key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


#: Documents with id >= t0 = floor((max(doc_id) + 1) * this) are "the
#: new batch" in the incremental registry entries; below it, "the
#: already-indexed corpus".
INCREMENTAL_SPLIT = 0.8


def with_id_split(
    df: DataFrame, id_col: str = "doc_id", ids: DataFrame | None = None
) -> DataFrame:
    """``df`` plus the batch/index boundary column ``t0`` =
    floor((max(id) + 1) * INCREMENTAL_SPLIT), taken over ``ids``
    (default ``df``) and broadcast as one row: ids below ``t0`` are
    the indexed corpus, ids at or above it the new batch.  The twin of
    ``registry._split_sql``."""
    ids = df if ids is None else ids
    split = ids.agg(F.floor((F.max(id_col) + 1) * INCREMENTAL_SPLIT).alias("t0"))
    return df.crossJoin(F.broadcast(split))


def lsh_matches(probers: DataFrame, partners: DataFrame) -> DataFrame:
    """The one incremental LSH match rule, over ``(doc_id, band, key,
    batch_id)`` band rows: a partner matches a prober when they share
    a (band, key), their doc_ids differ, and the partner comes first
    in (batch_id, doc_id) order.  Returns the distinct (doc_id,
    matched_doc_id) pairs, doc_id being the prober's.

    ``dedup_incremental_minhash`` passes the id split as batch_id;
    the streaming ``incremental_dedup_batch_fn`` passes its micro-batch
    id, with the earlier batches' index rows among the partners."""
    p = probers.select(
        F.col("doc_id").alias("new_id"),
        F.col("band").alias("nband"),
        F.col("key").alias("nkey"),
        F.col("batch_id").alias("nbatch"),
    )
    return (
        partners.join(
            p,
            (F.col("band") == F.col("nband"))
            & (F.col("key") == F.col("nkey"))
            & (F.col("doc_id") != F.col("new_id"))
            & (
                (F.col("batch_id") < F.col("nbatch"))
                | (
                    (F.col("batch_id") == F.col("nbatch"))
                    & (F.col("doc_id") < F.col("new_id"))
                )
            ),
        )
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("doc_id").alias("matched_doc_id"),
        )
        .distinct()
    )


def dedup_incremental_minhash(t) -> DataFrame:
    """Incremental near-dup: match a NEW document batch (ids at or
    above the id split) against the LSH index of the existing corpus
    plus the batch itself, WITHOUT re-pairing the corpus — the
    nightly-ingest shape, whose cost scales with the batch, not the
    corpus.  ``lsh_band_keys`` is exactly what a deployment persists
    (a table bucketed on (band, key)); ``incremental_dedup_batch_fn``
    is the streaming loop around the same ``lsh_matches`` rule.

    Output: (doc_id, matched_doc_id) — every candidate partner (old
    or earlier-in-batch) for each new document; equal to the full
    ``dedup_minhash_lsh`` pair set restricted to pairs whose higher
    id is in the new batch (asserted in tests).

    The band table is repartitioned on the probe key BEFORE the split,
    so both join sides canonicalize to one exchange: the signature map
    work runs once and the batch side is a ReusedExchange (measured
    1.65x at sf0.1, identical pairs) — the ``dedup_minhash_lsh`` trick.
    """
    bands = with_id_split(
        lsh_band_keys(t).repartition("band", "key"), ids=t["documents"]
    ).withColumn("batch_id", (F.col("doc_id") >= F.col("t0")).cast("int"))
    return lsh_matches(bands.filter(F.col("batch_id") == 1), bands)


def dedup_simhash(t) -> DataFrame:
    """Per-document 64-bit SimHash as a 16-char hex string.

    Per-token sha256 → two portable 32-bit halves → per-bit ±1 votes
    summed over tokens → sign bits → hex.  All integer arithmetic, so
    the DuckDB oracle reproduces it exactly.  Near-dup candidates
    follow by banding the 4 16-bit chunks (hamming ≤ 3 ⇒ some chunk
    equal); the signature itself is the oracle-checked contract.

    The token-hash arrays are staged as real columns: inlining them
    would duplicate the sha256 transform into all 64 per-bit
    aggregates (64× the hashing work).
    """
    def token_half(offset: int):
        # factory closure: see the lambda-default-arg note above
        return F.transform(F.col("_toks"), lambda x: sha_int(x, offset))

    def bit_vote(half: Column, shift: int) -> Column:
        return F.aggregate(
            half,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.shiftright(x, shift).bitwiseAND(F.lit(1)) * 2 - 1,
        )

    staged = (
        t["documents"]
        .filter(min_tokens_pred(F.col("text"), 1))
        .select("doc_id", tokens_col(F.col("text")).alias("_toks"))
        .withColumns({"_h1": token_half(1), "_h2": token_half(9)})
    )
    nibbles = []
    for half in (F.col("_h1"), F.col("_h2")):
        for nib in range(8):  # 8 nibbles per 32-bit half, MSB first
            bits = []
            for bit in range(4):
                vote = bit_vote(half, 31 - (nib * 4 + bit))
                bits.append(F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)))
            val = bits[0] * 8 + bits[1] * 4 + bits[2] * 2 + bits[3]
            nibbles.append(F.lit("0123456789abcdef").substr(val + 1, F.lit(1)))
    return staged.select("doc_id", F.concat(*nibbles).alias("simhash"))


def minhash_accuracy_report(t) -> DataFrame:
    """Sketch-quality readout for the MinHash path: for every LSH
    candidate pair, the signature-estimated Jaccard (matching
    components / seeds) next to the exact shingle Jaccard and the
    absolute error — the number that tells you whether
    MINHASH_SEEDS/LSH_BANDS are tuned right BEFORE you trust the
    sketch on 100 TB (where the exact join is unaffordable; here it
    runs only on the tiny candidate set)."""
    sh = _doc_shingles(t)
    sig = (
        sh.withColumn("_base", shingle_base_hashes(F.col("shingles")))
        .select("doc_id", minhash_signature(F.col("_base")).alias("mh"))
    )
    pairs = dedup_minhash_lsh(t)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"))
    est = F.size(
        F.filter(
            F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: x == y),
            lambda m: m,
        )
    ) / F.lit(float(MINHASH_SEEDS))
    joined, c, na, nb = _with_overlap(
        pairs.join(sa, "doc_a").join(sb, "doc_b"), sh, "doc_a", "doc_b"
    )
    return joined.select(
        "doc_a",
        "doc_b",
        est.alias("est_jaccard"),
        _jaccard(c, na, nb).alias("exact_jaccard"),
    ).withColumn("abs_error", F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))


def crossmodal_dedup_agreement(t) -> DataFrame:
    """Multi-signal dedup agreement: near-dup pairs flagged by text
    3-gram Jaccard vs by embedding cosine, full-outer reconciled into
    'both' / 'text_only' / 'embedding_only' counts.

    The calibration readout of a real curation stack — text shingles
    catch verbatim/templated copies, embeddings catch paraphrase;
    'both' measures signal overlap, the *_only buckets are each
    signal's unique contribution.  Both pair sets are tiny (pruned),
    so the reconciliation join is trivial; the heavy lifting stays in
    the underlying operators — and both sides are the SCALE-PATH
    forms: the text pairs come from the PPJoin prefix filter (exactly
    the all-pairs Jaccard set) and the embedding pairs from SemDeDup's
    within-cell kernel (the production semantic signal), so the
    readout itself runs at corpus scale."""
    from storm_data_etl_service_spark.operators.similarity import semdedup_pairs

    txt = dedup_jaccard_prefix_join(t).select(
        "doc_a", "doc_b", F.lit(True).alias("in_text")
    )
    emb = semdedup_pairs(t).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(True).alias("in_emb"),
    )
    joined = txt.join(emb, ["doc_a", "doc_b"], "full_outer")
    signal = (
        F.when(F.col("in_text").isNotNull() & F.col("in_emb").isNotNull(), "both")
        .when(F.col("in_text").isNotNull(), "text_only")
        .otherwise("embedding_only")
    )
    return joined.groupBy(signal.alias("signal")).agg(
        F.count("*").alias("n_pairs")
    )


def neardup_source_overlap(t) -> DataFrame:
    """Cross-source near-duplicate overlap matrix: for each unordered
    source pair, how many MinHash/LSH candidate pairs connect them —
    the "is source B a scrape of source A?" corpus diagnosis (exact
    content hashing finds nothing across sources once mutation/
    formatting differs; near-dup evidence is the real signal).

    The pair list is orders of magnitude smaller than the corpus, and
    the doc->source side is a slim two-column projection joined on the
    pair endpoints; the final matrix is at most |sources|^2 rows.
    """
    pairs = dedup_minhash_lsh(t)
    src = t["documents"].select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
    )
    return (
        labeled.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def normalized_text_col(text: Column) -> Column:
    """Dedup normalization: casefold, collapse whitespace runs, THEN
    trim — the cheap canonicalization that catches re-encoded copies
    exact hashing misses (trailing newlines, tab/space drift, case).
    Collapse-before-trim matters: ``trim`` strips spaces only, so a
    leading tab must first become a space to be strippable."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def dedup_exact_normalized(t) -> DataFrame:
    """Exact dedup on NORMALIZED content: one group per distinct
    canonical form, keeper = min doc_id, plus how many raw variants
    the group collapses — the first rung of the dedup ladder
    (normalized-exact < n-gram Jaccard < MinHash < embedding).

    Same single partial-aggregated shuffle as ``dedup_exact``; the
    normalization is codegen string ops on the scan."""
    return (
        t["documents"]
        .groupBy(
            F.sha2(normalized_text_col(F.col("text")), 256).alias("content_hash")
        )
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct("text").alias("n_raw_variants"),
        )
    )


def dedup_ladder_report(t) -> DataFrame:
    """The dedup ladder in one readout: how many documents each rung
    flags — (1) normalized-exact, (2) exact 3-gram Jaccard ≥ 0.8,
    (3) MinHash/LSH candidates, (4) SemDeDup within-cell embedding
    cosine — the coverage-vs-cost table a curation run consults to
    decide how far down the ladder to pay.  Rung 3 ⊇ rung 2 up to
    LSH's miss probability; rung 4 flags semantic (non-lexical)
    duplicates the others cannot see.

    Every rung is the SCALE-PATH operator, not the quadratic
    correctness baseline (the report exists to be run on the full
    corpus): rung 2 is the PPJoin prefix-filtered join — exactly the
    same pair set as the all-pairs ``dedup_ngram_jaccard``, so the
    oracle contract is unchanged — and rung 4 is ``semdedup_pairs``
    with the K ∝ n auto-knob (within-cell pairs only; the published
    SemDeDup recall trade, matching rung 3's candidates-not-certainty
    character.  Sign-LSH is NOT a viable rung-4 plan at this
    threshold: measured on the fixture corpus, ≥ 0.95 recall at
    cos ≥ 0.40 (θ ≈ 66°) needs a candidate set ≈ 0.7× of all pairs).
    An earlier form composed the two O(n²) baselines and measured
    exponent 2.0 over the 16× scaling span — 1204 s at sf1.6 vs 4.5 s
    at sf0.1; this form keeps every rung's work near-linear.

    Each rung's doc set is collapsed to one count — the synthesis is
    unions of tiny pair sets, nothing rescans the corpus.
    """
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.operators.similarity import (
        semdedup_pairs,
    )

    def pair_docs(pairs: DataFrame, a: str, b: str) -> DataFrame:
        return (
            pairs.select(F.col(a).alias("doc_id"))
            .union(pairs.select(F.col(b).alias("doc_id")))
            .distinct()
        )

    # Rung 1 needs only the COUNT of docs in duplicated normalized-hash
    # groups.  doc_id is unique per row, so that count is Σ n over hash
    # groups with n > 1 — a map-side-combined groupBy(h) + filter + sum
    # (guide §2.3 "aggregate before you shuffle").  The previous form
    # ran a count window partitioned by h over the WHOLE document table
    # (a sort-based window shuffling every doc row) followed by a
    # distinct on doc_id — two corpus-sized exchanges for one number.
    norm_count = (
        t["documents"]
        .groupBy(F.sha2(normalized_text_col(F.col("text")), 256).alias("h"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_docs_flagged")
        )
    )
    # Rungs 2 and 3 both start from the tokenize→shingle map work.
    # Rung 2 consumes it through the `_ranked_shingles` exchange; rung
    # 3's signatures are built from shingle arrays RE-DERIVED from that
    # same exchange (min-over-set is element-order-invariant), so the
    # physical plan computes the expensive map side once and wires the
    # other rung in as a ReusedExchange instead of re-tokenizing the
    # corpus per rung.
    ranked = _ranked_shingles(_doc_shingles(t))
    rungs = [
        ("1_exact_normalized", norm_count),
        (
            "2_ngram_jaccard",
            pair_docs(_jaccard_pairs_from_ranked(ranked), "doc_a", "doc_b").agg(
                F.count("*").alias("n_docs_flagged")
            ),
        ),
        (
            "3_minhash_lsh",
            pair_docs(
                dedup_minhash_lsh(t, sh=_ranked_sets(ranked)), "doc_a", "doc_b"
            ).agg(F.count("*").alias("n_docs_flagged")),
        ),
        (
            "4_semdedup_cosine",
            pair_docs(semdedup_pairs(t), "id_a", "id_b").agg(
                F.count("*").alias("n_docs_flagged")
            ),
        ),
    ]
    out = None
    for name, counted in rungs:
        row = counted.select(F.lit(name).alias("rung"), "n_docs_flagged")
        out = row if out is None else out.unionByName(row)
    return out


#: Bloom membership filter: m bits, k sha256-derived hash functions.
#: Sized for the test SFs (n ≈ 1e5 set keys → kn/m ≈ 0.4, fp ≈ 1%);
#: the production rule is m ≈ 14.4·n bits for ~0.35% fp at k = 4, or
#: k = (m/n)·ln 2 when k is free.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 4


def bloom_auto_bits(n: int) -> int:
    """Filter width holding the false-positive rate near 0.35% at
    k = 4: m = next power of two ≥ 14.4·n, floored at BLOOM_BITS (the
    oracle width — auto equals the pin for every n ≤ BLOOM_BITS/14.4,
    i.e. all driver-gate scales).  The same one-cheap-count knob
    pattern as ``semdedup_auto_k``/``knn_auto_bits``: the knob, not
    the plan shape, is what changes at scale."""
    m = BLOOM_BITS
    while m < 14.4 * n:
        m *= 2
    return m


def bloom_bit_positions(h: Column, m: int = BLOOM_BITS) -> Column:
    """The k Bloom bit positions of a content key, as an array —
    sha256-prefix hashes (the cms_token_frequencies idiom), so the
    DuckDB oracle reproduces every position bit-for-bit."""
    return F.array(
        *[sha_int(F.concat(F.lit(f"bloom{i}|"), h)) % m for i in range(BLOOM_HASHES)]
    )


def content_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h): each document's sha256 content key."""
    return docs.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))


def bloom_bits(hashed: DataFrame, m: int = BLOOM_BITS) -> DataFrame:
    """The Bloom index of a ``content_hashes`` relation: the distinct
    (bit) positions of its keys.  Held as a relation rather than a
    blob, so bit sets merge by plain DISTINCT union (the
    ``cms_token_frequencies`` trade); a deployment folds it into a
    bitmap via ``bit_or`` partials and broadcasts m/8 bytes."""
    return hashed.select(
        F.explode(bloom_bit_positions(F.col("h"), m)).alias("bit")
    ).distinct()


def bloom_probe(hashed: DataFrame, bits: DataFrame, m: int = BLOOM_BITS) -> DataFrame:
    """The one Bloom probe: per (doc_id, h) of ``hashed``,
    ``bloom_hit`` = every one of its probe bits is in ``bits`` (any
    relation with a ``bit`` column; repeated bits, as in a union of
    batches' bit sets, count once).  "Every bit set", not "k bits
    set": a doc_id carried twice by one micro-batch (a replay) makes
    2·k probe rows, and a key's k positions may repeat."""
    idx = bits.select("bit").distinct().withColumn("_set", F.lit(1))
    return (
        hashed.select(
            "doc_id", "h", F.explode(bloom_bit_positions(F.col("h"), m)).alias("bit")
        )
        .join(idx, "bit", "left")
        .groupBy("doc_id", "h")
        .agg(F.bool_and(F.col("_set").isNotNull()).alias("bloom_hit"))
    )


def bloom_dedup_report(t, m: int | None = None) -> DataFrame:
    """Bloom-filter membership pre-screen for incremental ingest: the
    new batch (the id split of ``dedup_incremental_minhash``) goes
    through ``bloom_probe`` against the ``bloom_bits`` of the existing
    corpus, then is audited against exact membership.  Per batch
    document: ``bloom_hit`` (all k bits set), ``exact_hit`` (content
    hash truly present), the reconciled ``verdict``
    (dup / false_positive / new), and the Bloom invariant
    ``no_false_negative`` (exact_hit ⇒ bloom_hit — structurally true,
    emitted so the oracle re-derives rather than trusts it).

    Why a third incremental rung beside the LSH index: the Bloom set
    is O(m bits) regardless of corpus size, vs the LSH index's
    O(corpus × bands) rows.  It answers only EXACT membership, but
    with a map-side broadcast test and zero shuffle on the corpus —
    the cheap first gate before the near-dup machinery pays its
    band-key shuffle.  Batch-internal duplicates are out of scope by
    construction (the index covers the corpus as of the batch
    boundary); they are the first rung of ``dedup_ladder_report``,
    and the streaming ``bloom_gate_batch_fn`` adds them on top of the
    same probe.

    ``m=None`` (production default) derives the filter width from one
    cheap count via ``bloom_auto_bits`` so the fill ratio — and with
    it the false-positive rate — stays constant as the corpus grows;
    the registry entry pins ``m=BLOOM_BITS`` because the oracle
    enumerates those exact positions.
    """
    docs = content_hashes(t["documents"])
    if m is None:
        m = bloom_auto_bits(docs.count())
    staged = with_id_split(docs)
    existing = staged.filter(F.col("doc_id") < F.col("t0"))
    hits = bloom_probe(
        staged.filter(F.col("doc_id") >= F.col("t0")), bloom_bits(existing, m), m
    )
    seen = existing.select("h").distinct().withColumn("_seen", F.lit(True))
    bloom_hit = F.col("bloom_hit")
    exact_hit = F.coalesce(F.col("_seen"), F.lit(False))
    return (
        hits.join(seen, "h", "left")
        .select(
            "doc_id",
            bloom_hit,
            exact_hit.alias("exact_hit"),
            F.when(bloom_hit & exact_hit, F.lit("dup"))
            .when(bloom_hit, F.lit("false_positive"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            (bloom_hit | ~exact_hit).alias("no_false_negative"),
        )
    )


def minhash_band_calibration(t) -> DataFrame:
    """MinHash banding S-curve calibration against EXACT Jaccard ground
    truth — the "which (bands, rows-per-band) config catches our actual
    near-dup population?" readout run before trusting an LSH index at
    corpus scale (Leskovec/Rajaraman/Ullman, MMDS ch. 3).

    For every factorization r·b = MINHASH_SEEDS (12) and every 0.05
    Jaccard bucket of the exact near-dup pairs (PPJoin prefix-filtered,
    J ≥ 0.8 — the same shared-exchange pipeline as
    ``dedup_jaccard_prefix_join``), the expected detection probability
    1 − (1 − s^r)^b is evaluated per pair and aggregated.  A config
    whose detect_rate sags in the buckets the corpus actually occupies
    needs more bands (or fewer rows) BEFORE the index is built — this
    table prices that trade without re-hashing anything.

    Determinism: s^r and (1−s^r)^b are expanded as explicit IEEE
    multiply chains (never ``pow``, whose libm vs JVM results differ in
    ulps), each pair's probability floor-quantized to 1e-9 and summed
    as BIGINT — partition-order exact, oracle-bit-identical.

    Scale: cost is the prefix-join pair table (the exact-at-scale
    path) × 6 config rows — output is ≤ 6 configs · 5 buckets rows.
    """
    pairs = _jaccard_pairs_from_ranked(_ranked_shingles(_doc_shingles(t)))
    s = F.col("jaccard")
    entries = F.array(
        *[
            F.struct(
                F.lit(r).cast("integer").alias("r_rows"),
                F.lit(b).cast("integer").alias("n_bands"),
                F.floor((F.lit(1.0) - _power(F.lit(1.0) - _power(s, r), b)) * 1e9)
                .cast("long")
                .alias("pq"),
            )
            for r, b in BAND_LAYOUTS
        ]
    )
    exploded = pairs.select(
        (F.floor(s * 20) / 20.0).alias("jaccard_bucket"), F.inline(entries)
    )
    return (
        exploded.groupBy("r_rows", "n_bands", "jaccard_bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            (F.sum("pq").cast("double") / 1e9).alias("expected_detected"),
            (F.sum("pq").cast("double") / (F.lit(1e9) * F.count("*"))).alias(
                "detect_rate"
            ),
        )
    )
