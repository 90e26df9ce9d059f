"""Training-data pipeline utilities: deterministic dataset splits,
PII scrubbing, n-gram statistics, semi-structured extraction.

Everyday operators of a 100 TB corpus pipeline, all expression-only
(map-side, no Python) and engine-portable for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storm_data_etl_service_spark.operators.text import bigrams_col, sha_int, tokens_col

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
LONG_DIGITS_RE = r"\b\d{9,}\b"


def dataset_split_assign(t) -> DataFrame:
    """Deterministic train/valid/test assignment by content-free key
    hash: sha256("split|<doc_id>") mod 100 → <80 train, <90 valid,
    else test.  Hash-based splits are reproducible across runs,
    clusters, and engines — the property a shuffled random split
    loses the moment the data moves."""
    h = _sha_key("split|", F.col("doc_id")) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    )
    return t["documents"].select("doc_id", h.alias("bucket"), split.alias("split"))


def text_scrub_pii(t) -> DataFrame:
    """PII scrubbing: emails, phone numbers, and long digit runs
    replaced with typed placeholders.  The synthetic corpus contains
    no PII, so the query plants a deterministic specimen per row
    (derived from doc_id) and proves the scrubber removes it —
    exercising the replacement chain on every row."""
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567 ref 1234567890123"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
        LONG_DIGITS_RE,
        "<ID>",
    )
    return t["documents"].select("doc_id", scrubbed.alias("scrubbed"))


def ngram_counts(t, min_count: int = 40) -> DataFrame:
    """Corpus bigram frequencies above a support threshold — the
    n-gram statistics pass of a data pipeline (explode → one shuffle
    on the bigram, map-side combine first)."""
    return (
        t["documents"]
        .select(tokens_col(F.col("text")).alias("_toks"))
        .select(F.explode(bigrams_col(F.col("_toks"))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def upsert_merge(t) -> DataFrame:
    """CDC-style merge (upsert) without a table format: new/changed
    rows win over the base snapshot via a keyed full-outer join +
    column coalesce.  The change set here is derived deterministically
    (every 10th doc re-sourced, plus appended fresh ids) so the merge
    semantics — update wins, inserts appear, untouched rows survive —
    are oracle-checkable.  One shuffle on the merge key; at scale this
    is the incremental-backfill primitive under Delta/Iceberg MERGE."""
    docs = t["documents"]
    updates = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.col("text"),
        F.col("lang"),
        F.lit("updated").alias("source"),
        F.col("n_chars"),
    )
    inserts = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("text"),
        F.col("lang"),
        F.lit("inserted").alias("source"),
        F.col("n_chars"),
    )
    changes = updates.unionByName(inserts)
    base = docs.select([F.col(c).alias(f"b_{c}") for c in docs.columns])
    chg = changes.select([F.col(c).alias(f"c_{c}") for c in changes.columns])
    merged = base.join(chg, base["b_doc_id"] == chg["c_doc_id"], "full_outer")
    return merged.select(
        F.coalesce("c_doc_id", "b_doc_id").alias("doc_id"),
        F.coalesce("c_text", "b_text").alias("text"),
        F.coalesce("c_lang", "b_lang").alias("lang"),
        F.coalesce("c_source", "b_source").alias("source"),
        F.coalesce("c_n_chars", "b_n_chars").alias("n_chars"),
    )


def outlier_filter_count(t) -> DataFrame:
    """Quantile-based outlier pass: count events above the exact p99 of
    value.  Two aggregations — the percentile scalar broadcasts to the
    filter pass; no sort of the full data."""
    p99 = t["events"].agg(
        F.expr("percentile(value, 0.99D)").alias("q")
    )
    return (
        t["events"]
        .crossJoin(F.broadcast(p99))
        .filter(F.col("value") > F.col("q"))
        .agg(F.count("*").alias("n_outliers"), F.max("value").alias("max_value"))
    )


def props_extract(t) -> DataFrame:
    """Semi-structured extraction: pull the integer ``k`` out of the
    JSON props column and histogram it — JSON path extraction stays
    JVM-side (no UDF), pushdown-friendly."""
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        t["events"]
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


def per_source_cap_sample(t, cap: int = 10) -> DataFrame:
    """Domain balancing: keep at most ``cap`` documents per source,
    chosen by a deterministic content-free hash order (so the sample
    is reproducible across runs/engines, unlike rand()).  One window
    per source partition — the shuffle is on the low-cardinality
    source key; at scale skewed mega-domains are exactly the rows this
    operator is there to cut."""
    h = _sha_key("cap|", F.col("doc_id"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.col("_h"), F.col("doc_id"))
    return (
        t["documents"]
        .select("doc_id", "source", h.alias("_h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= cap)
        .select("doc_id", "source", "sample_rank")
    )


def sequence_pack_assign(t, budget: int = 2000, n_buckets: int = 8) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are hashed into
    ``n_buckets`` independent streams, laid out in deterministic hash
    order, and every ``budget`` characters starts a new training
    sequence (docs may straddle a boundary — standard LLM concat
    packing).  Each bucket packs in parallel with one window; at 100 TB
    you raise n_buckets to O(cores) and packing stays embarrassingly
    parallel with reproducible layout."""
    from pyspark.sql.window import Window

    h = _sha_key("pack|", F.col("doc_id"))
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("_h"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["documents"]
        .select("doc_id", "n_chars", h.alias("_h"), (h % n_buckets).alias("bucket"))
        .withColumn("stream_end", F.sum("n_chars").over(w))
        .select(
            "doc_id",
            "bucket",
            (F.col("stream_end") - F.col("n_chars")).alias("stream_offset"),
            F.floor((F.col("stream_end") - F.col("n_chars")) / budget).alias("seq_id"),
        )
    )


def source_blocklist_filter(t, min_avg_chars: float = 290.0) -> DataFrame:
    """Blocklist filtering with a DERIVED blocklist: sources whose
    average document length falls below a floor (a stand-in for any
    per-domain quality signal) are dropped via a broadcast anti-join.
    The blocklist aggregate is tiny (one row per source) so the fact
    scan never shuffles; survivors are counted per language."""
    bad = (
        t["documents"]
        .groupBy(F.col("source").alias("bad_source"))
        .agg(
            (
                F.sum(F.col("n_chars").cast("decimal(25,6)")).cast("double")
                / F.count("*")
            ).alias("avg_chars")
        )
        .filter(F.col("avg_chars") < min_avg_chars)
    )
    return (
        t["documents"]
        .join(
            F.broadcast(bad), F.col("source") == F.col("bad_source"), "left_anti"
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


def eval_decontamination(t, eval_mod: int = 20) -> DataFrame:
    """Eval-set n-gram decontamination: flag training documents that
    share any word-3-gram shingle with a held-out eval slice
    (``doc_id % eval_mod == 0`` stands in for a real benchmark set).

    The cross-dataset contamination check of an LLM data pipeline —
    distinct from intra-corpus dedup (reference D8,
    docs/Architecture.md:99-102, is within-stream): the comparison is
    train x eval, and the eval side is tiny by construction, so its
    exploded shingle set BROADCASTS.  The 100 TB train scan therefore
    never shuffles for the match; the only exchange is the per-doc hit
    rollup on doc_id, map-side combined.  Per contaminated train doc:
    distinct shingles also present in the eval set, distinct eval docs
    hit, and the contaminated share of the doc's shingles.
    """
    from storm_data_etl_service_spark.operators.dedup import _doc_shingles

    sh = _doc_shingles(t)
    is_eval = (F.col("doc_id") % eval_mod) == 0
    # shingles_col is already array_distinct, so (eval_doc_id, s) pairs
    # are distinct without an extra aggregation.
    eval_grams = sh.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc_id"), F.explode("shingles").alias("s")
    )
    train = sh.filter(~is_eval)
    hits = (
        train.select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(eval_grams), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("hit_grams"),
            F.countDistinct("eval_doc_id").alias("eval_docs_hit"),
        )
    )
    counts = train.select("doc_id", F.size("shingles").alias("ns"))
    return hits.join(counts, "doc_id").select(
        "doc_id",
        "hit_grams",
        "eval_docs_hit",
        (F.col("hit_grams").cast("double") / F.col("ns")).alias("contaminated_share"),
    )


def curation_attrition_report(t) -> DataFrame:
    """Per-gate attrition funnel for the curation rules of
    ``corpus_curation_pipeline``: every document is attributed to the
    FIRST stage that drops it (too_short → lang_excluded →
    exact_duplicate) or to 'retained', with per-stage doc counts and
    the number of docs entering each stage (reverse cumulative sum).

    The operational "where did my data go" readout of a corpus
    pipeline.  Cost: one map-only labeling pass for the scalar gates,
    the same content-hash window as the dedup stage for duplicates,
    then a window over stage cardinality (4 rows).  All-integer
    outputs — hash-stable under any partitioning.
    """
    from pyspark.sql.window import Window

    docs = t["documents"]
    scalar_fail = F.when(F.col("n_chars") < 150, "too_short").when(
        F.col("lang") == "zh", "lang_excluded"
    )
    failed = (
        docs.withColumn("stage", scalar_fail)
        .filter(F.col("stage").isNotNull())
        .select("doc_id", "stage")
    )
    wdedup = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy(F.col("doc_id"))
    survivors = (
        docs.filter(scalar_fail.isNull())
        .withColumn("_rn", F.row_number().over(wdedup))
        .select(
            "doc_id",
            F.when(F.col("_rn") > 1, "exact_duplicate")
            .otherwise("retained")
            .alias("stage"),
        )
    )
    counts = failed.unionByName(survivors).groupBy("stage").agg(
        F.count("*").alias("n_docs")
    )
    stage_no = (
        F.when(F.col("stage") == "too_short", 1)
        .when(F.col("stage") == "lang_excluded", 2)
        .when(F.col("stage") == "exact_duplicate", 3)
        .otherwise(4)
    )
    entering = F.sum("n_docs").over(
        Window.orderBy(F.desc("stage_no")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return (
        counts.withColumn("stage_no", stage_no)
        .select("stage_no", "stage", "n_docs", entering.alias("n_entering"))
    )


def source_mixture_weights(t) -> DataFrame:
    """Temperature-scaled training-mixture weights per source:
    w ∝ n^T with T = 0.5 (the sqrt temperature used to up-sample rare
    sources/languages in multilingual corpus mixes).  Per source:
    docs, normalized sampling share, and the boost factor vs natural
    (proportional) sampling — boost > 1 means the source is
    up-sampled.

    Determinism at scale: sqrt is IEEE correctly-rounded in both
    engines, but SUMS of irrational doubles are partition-order
    dependent — so weights are floor-quantized to integer 1e-9 units
    first and the normalizer is an exact BIGINT sum (the repo-wide
    fixed-point pattern).  The whole query runs at source cardinality:
    one partial-agg'd count shuffle, then a global window over a
    handful of rows (documented agg-cardinality exception).
    """
    from pyspark.sql.window import Window

    counts = t["documents"].groupBy("source").agg(F.count("*").alias("n_docs"))
    wint = F.floor(F.sqrt(F.col("n_docs")) * F.lit(1000000000.0)).cast("long")
    staged = counts.select("source", "n_docs", wint.alias("_w"))
    glob = Window.partitionBy()
    share = F.col("_w").cast("double") / F.sum("_w").over(glob).cast("double")
    natural = F.col("n_docs").cast("double") / F.sum("n_docs").over(glob).cast(
        "double"
    )
    return staged.select(
        "source",
        "n_docs",
        (F.col("_w") / F.lit(1000000000.0)).alias("weight"),
        share.alias("share"),
        (share / natural).alias("boost"),
    )


def corpus_curation_pipeline(t) -> DataFrame:
    """End-to-end corpus curation: length/quality gate → exact dedup
    (canonical = min doc_id per content hash) → deterministic split
    assignment → per (lang, split) corpus stats.  The whole pipeline
    is one scan, one dedup shuffle on the content hash, and one
    aggregation — the minimal-shuffle shape of a real curation job."""
    from pyspark.sql.window import Window

    gated = t["documents"].filter(
        (F.col("n_chars") >= 150) & (F.col("lang") != "zh")
    )
    wdedup = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy(F.col("doc_id"))
    canonical = (
        gated.withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    split_h = _sha_key("split|", F.col("doc_id")) % 100
    split = F.when(split_h < 80, "train").when(split_h < 90, "valid").otherwise("test")
    return (
        canonical.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def incremental_agg_merge(t, cutoff: str = "1997-01-01") -> DataFrame:
    """Incremental materialized-view refresh: partial aggregates from
    a base partition (orders before ``cutoff``) and a delta partition
    (orders since) are merged by a second-level aggregation — the
    MERGE-on-read pattern that lets a 100 TB rollup absorb a day's
    delta without rescanning history.

    Exactness: the partial sums stay DECIMAL through the merge and
    only the merged total is cast back to double, so the result is
    bit-identical to the single-pass GROUP BY the oracle runs —
    count/sum moments are mergeable, which is precisely why this
    refresh is safe (contrast medians: see approx_quantile_summary).
    """
    orders = t["orders"]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("s"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").cast("double").alias("total"),
        )
    )


# --- Z-order clustering -----------------------------------------------------

ZORDER_BITS = 16
ZORDER_PREFIX_SHIFT = 22  # group stats by the top 10 bits of the curve


def zorder_value(x, y):
    """Morton (Z-order) interleave of two non-negative 16-bit
    dimensions into one curve position — the multi-dimensional
    clustering key behind Delta/Iceberg OPTIMIZE ZORDER: rows close
    in (x, y) land close on the curve, so range-partitioned files
    carry tight min/max stats on BOTH dimensions and 2-D predicates
    prune files that a 1-D sort could not skip."""
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_oracle_expr(xs: str, ys: str) -> str:
    """The same interleave as ``zorder_value`` in portable SQL
    (DuckDB `>>`/`<<`/`&`), kept adjacent so the two dialects can't
    drift."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({xs} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ys} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_cluster(t) -> DataFrame:
    """Z-order layout report over events: curve position from
    (user_id, quantized value), then per curve-prefix file stats
    (row count, z range, distinct users).

    In production the curve value feeds
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` before a
    parquet write; this query surfaces the layout itself.  The
    prefix grouping is a plain shifted-key aggregation — NOT an
    ntile window, whose global ORDER BY would funnel every row
    through one task."""
    x = (F.col("user_id") % 65536).cast("long")
    y = F.floor(F.col("value") * 10) % 65536
    z = zorder_value(x, y)
    return (
        t["events"]
        .select("user_id", "event_id", z.alias("zval"))
        .groupBy(F.shiftright(F.col("zval"), ZORDER_PREFIX_SHIFT).alias("z_prefix"))
        .agg(
            F.count("*").alias("n"),
            F.min("zval").alias("min_z"),
            F.max("zval").alias("max_z"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def user_resequence_pandas(t) -> DataFrame:
    """Per-user event re-sequencing (ordinal + inter-event gap) via
    grouped-map ``applyInPandas`` — the third Pandas API surface next
    to mapInPandas (multimodal) and applyInPandasWithState
    (streaming/stateful).

    Where window expressions express this for free (see
    user_gap_stats), a grouped map is the escape hatch for per-key
    logic Catalyst can't express (per-key dynamic programming,
    model scoring).  Contract demonstrated here: one shuffle on the
    group key, Arrow-batched transfer, deterministic integer output
    (timestamps are pre-converted to epoch micros Spark-side so the
    kernel never touches float time arithmetic), and group size
    bounded by the hottest key — salt first if a key exceeds executor
    memory."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tus", "event_id"])
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "seq": range(1, len(pdf) + 1),
                "gap_us": pdf["tus"].diff().astype("Int64"),
            }
        )

    return (
        t["events"]
        .select("user_id", "event_id", F.unix_micros(F.col("ts")).alias("tus"))
        .groupBy("user_id")
        .applyInPandas(kernel, "user_id long, event_id long, seq int, gap_us long")
    )


def props_extract_variant(t) -> DataFrame:
    """Semi-structured extraction through the VARIANT type —
    ``parse_json`` once into Spark's binary-encoded variant, then
    typed ``variant_get`` paths.  The scale upgrade over repeated
    ``get_json_object`` string parsing (props_extract): the document
    parses once per row, downstream paths read the binary encoding,
    and columnar readers can shred frequent paths.  Same histogram
    contract as props_extract, so either can serve the query."""
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return (
        t["events"]
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


def corpus_dataset_card(t) -> DataFrame:
    """One-row dataset datasheet: the numbers a training-data consumer
    reads before touching the corpus — size, composition, duplication
    burden, and length profile.  The capstone over the curation
    surface (each column is a headline from one operator family).

    Every input is a 1-row aggregate (or a pair-count over the pruned
    LSH candidate set), crossJoined broadcast-style — no wide joins,
    no collects; at 100 TB each leg is one partial-aggregated pass.
    """
    from storm_data_etl_service_spark.operators.dedup import dedup_minhash_lsh

    docs = t["documents"]
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(tokens_col(F.col("text"))).cast("long")).alias(
            "total_tokens"
        ),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.min(F.length("text").cast("long")).alias("min_chars"),
        F.max(F.length("text").cast("long")).alias("max_chars"),
    )
    dup = docs.agg(
        (F.count("*") - F.countDistinct(F.sha2("text", 256))).alias(
            "n_exact_dup_docs"
        )
    )
    pairs = dedup_minhash_lsh(t)
    neardup = pairs.agg(F.count("*").alias("n_neardup_pairs"))
    in_cluster = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .agg(F.count("*").alias("n_docs_in_neardup_pairs"))
    )
    return (
        base.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(neardup))
        .crossJoin(F.broadcast(in_cluster))
        .withColumn(
            "mean_doc_tokens",
            F.col("total_tokens").cast("double") / F.col("n_docs"),
        )
    )


def pii_incidence_report(t) -> DataFrame:
    """Per-source PII incidence audit — the measurement companion to
    ``text_scrub_pii``: how many documents (and total hits) per
    source match each PII pattern class.  The compliance readout that
    decides which sources need scrubbing before release.  Same
    planted-specimen device as the scrubber (the synthetic corpus is
    clean): every third doc plants an email, every fifth a phone —
    so the report provably counts what is there, incl. zero rows.

    One projection computes all pattern counts in a single scan
    (regexp_count is codegen), one groupBy on source."""
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" u"), F.col("doc_id").cast("string"), F.lit("@ex.com")
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" 555-123-4567")).otherwise(
            F.lit("")
        ),
    )
    n_email = F.regexp_count(planted, F.lit(EMAIL_RE))
    n_phone = F.regexp_count(planted, F.lit(PHONE_RE))
    return (
        t["documents"]
        .select("source", "doc_id", n_email.alias("ne"), n_phone.alias("np"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("ne") > 0, 1).otherwise(0)).alias(
                "docs_with_email"
            ),
            F.sum("ne").cast("long").alias("email_hits"),
            F.sum(F.when(F.col("np") > 0, 1).otherwise(0)).alias(
                "docs_with_phone"
            ),
            F.sum("np").cast("long").alias("phone_hits"),
        )
    )


def mixture_sample_assign(t) -> DataFrame:
    """Materialize ``source_mixture_weights`` into per-document epoch
    counts: each document receives ``floor(boost)`` guaranteed copies
    plus one more iff its deterministic [0,1) hash draw falls under
    ``frac(boost)`` — stochastic-rounding a real sampler runs so the
    expected resampled corpus is exactly N docs at the temperature
    mix (up-sampled sources repeat, down-sampled sources drop rows).
    Output per doc: source, boost, n_copies, kept.

    Scale: the rate table is source-cardinality and broadcast; the
    assignment itself is a map-only projection over the scan (the
    only shuffle is the per-source count inside the weights agg).
    The draw is a sha256 prefix of doc_id — reproducible across
    engines, runs, and partitionings, so a resample is re-creatable
    from the assignment spec alone, no stored RNG state.
    """
    rates = source_mixture_weights(t).select("source", "boost")
    u = (_sha_key("mix|", F.col("doc_id")) % 1000000000).cast("double") / F.lit(
        1000000000.0
    )
    extra = F.when(u < F.col("boost") - F.floor(F.col("boost")), 1).otherwise(0)
    n_copies = (F.floor(F.col("boost")) + extra).cast("long")
    return (
        t["documents"]
        .select("doc_id", "source")
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "boost",
            n_copies.alias("n_copies"),
            (n_copies > 0).alias("kept"),
        )
    )


def _sha_key(prefix: str, *cols) -> Column:
    """Pseudo-random BIGINT in [0, 2^32): the first 8 hex chars of
    sha256 over a prefixed '|'-joined key — the same bytes DuckDB's
    ``('0x' || substr(sha256(...), 1, 8))::BIGINT`` produces, so every
    layout built on it is oracle-checkable bit-for-bit."""
    parts: list[Column] = [F.lit(prefix)]
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("|"))
        parts.append(c.cast("string"))
    return sha_int(F.concat(*parts))


def _grouped_contiguous_pos(keyed: DataFrame, group_col: str, order_cols) -> DataFrame:
    """Two-level contiguous global position: a per-group row_number
    window (every group sorts in parallel) plus cumulative group-count
    offsets — a group-count-sized relation, cumulated in one tiny
    window and broadcast back.  When ``group_col`` is monotone in the
    global order (hash-shard top bits, curriculum band), ``_off +
    pos_in_group - 1`` reproduces ``row_number() OVER (ORDER BY
    group, order_cols)`` exactly with no data-sized single-partition
    exchange.  Adds ``pos_in_group`` (1-based) and ``_gpos``
    (0-based)."""
    from pyspark.sql.window import Window

    counts = keyed.groupBy(group_col).agg(F.count("*").alias("_n"))
    woff = Window.orderBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        group_col, (F.sum("_n").over(woff) - F.col("_n")).alias("_off")
    )
    wpos = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        keyed.withColumn("pos_in_group", F.row_number().over(wpos))
        .join(F.broadcast(offsets), group_col)
        .withColumn(
            "_gpos",
            (F.col("_off") + F.col("pos_in_group") - 1).cast("long"),
        )
        .drop("_off")
    )


def global_shuffle_order(t, n_shards: int = 16, seed: str = "r3") -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a pseudo-random sha256 key, a RANGE shard (the key's top bits, so
    shard index is monotone in key order), its rank within the shard,
    and a CONTIGUOUS global position — computed two-level
    (``_grouped_contiguous_pos``), never with a single-partition
    global window, so ``global_pos`` reproduces ``row_number() OVER
    (ORDER BY key)`` exactly while every shard sorts in parallel.  At
    100 TB you raise n_shards to O(tasks) and the layout — and
    therefore the training order — is bit-stable across cluster
    sizes.  Extends the reference's deterministic-ID discipline
    (internal/enrich/enrich.go:141-154) from identity to global
    ordering.
    """
    h = _sha_key(f"shuffle|{seed}|", F.col("doc_id"))
    # integer shard math: (h * n_shards) div 2^32 — monotone in h, no
    # float rounding at bucket boundaries
    keyed = t["documents"].select("doc_id", h.alias("_h")).withColumn(
        "shard", F.expr(f"CAST((_h * {n_shards}) DIV 4294967296 AS INT)")
    )
    return _grouped_contiguous_pos(
        keyed, "shard", [F.col("_h"), F.col("doc_id")]
    ).select(
        "doc_id",
        "shard",
        F.col("pos_in_group").alias("pos_in_shard"),
        F.col("_gpos").alias("global_pos"),
    )


def length_bucket_batches(
    t, batch_size: int = 16, n_streams: int = 4
) -> DataFrame:
    """Length-bucketed batching audit: documents are bucketed by
    bit-length of ``n_chars`` (power-of-two boundaries — map-only, no
    global sort; computed as ``length(bin(n)) - 1`` so both engines
    use exact integer math, never float ``log2``), fanned into ``n_streams`` deterministic hash streams per
    bucket so no bucket serializes on one task, laid out by
    (length, doc_id) within each stream, and grouped into batches of
    ``batch_size``.  A batch pads every member to its longest doc, so
    the report prices the padding waste of bucketed batching: per
    length bucket — docs, batches, payload chars, padded chars, and
    the padding fraction.  The two windows partition on
    (bucket, stream): parallelism n_buckets x n_streams, raised at
    scale by the knob; batch shape is reproducible across cluster
    sizes.
    """
    from pyspark.sql.window import Window

    s = _sha_key("lbb|", F.col("doc_id"))
    laid = t["documents"].select(
        "doc_id",
        "n_chars",
        (F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)) - 1)
        .cast("int")
        .alias("len_bucket"),
        (s % n_streams).alias("stream"),
    )
    wrow = Window.partitionBy("len_bucket", "stream").orderBy(
        F.col("n_chars"), F.col("doc_id")
    )
    batched = laid.withColumn(
        "batch", F.floor((F.row_number().over(wrow) - 1) / batch_size)
    )
    per_batch = batched.groupBy("len_bucket", "stream", "batch").agg(
        F.count("*").alias("n_in_batch"),
        F.max("n_chars").alias("max_len"),
        F.sum("n_chars").alias("sum_len"),
    )
    padded = F.col("n_in_batch") * F.col("max_len")
    return (
        per_batch.groupBy("len_bucket")
        .agg(
            F.sum("n_in_batch").alias("n_docs"),
            F.count("*").alias("n_batches"),
            F.sum("sum_len").alias("payload_chars"),
            F.sum(padded).alias("padded_chars"),
        )
        .select(
            "len_bucket",
            "n_docs",
            "n_batches",
            "payload_chars",
            "padded_chars",
            (
                (F.col("padded_chars") - F.col("payload_chars")).cast("double")
                / F.col("padded_chars")
            ).alias("pad_frac"),
        )
    )


def stratified_sample(t, k: int = 10, n_salts: int = 4) -> DataFrame:
    """Deterministic stratified sample: the k smallest sha256-keyed
    documents per source — the distributed equivalent of a seeded
    per-stratum reservoir sample.  Membership is a pure function of
    (doc_id, k): reproducible across runs, engines, and cluster
    sizes, and stable under corpus append except at the k-th-hash
    boundary.  Two-level top-k so a giant stratum never serializes
    into one task: each source is split into n_salts deterministic
    hash sub-strata, the k smallest survive per (source, salt)
    window — parallelism n_sources x n_salts — and a second window
    over the <= n_salts*k survivors per source keeps the k smallest
    overall, identical to a single per-source window by transitivity
    of min-k.  At 100 TB, n_salts rises with stratum skew and level
    two's input stays sample-sized (n_sources x n_salts x k rows).
    """
    from pyspark.sql.window import Window

    h = _sha_key("strat|", F.col("doc_id"))
    keyed = t["documents"].select(
        "doc_id", "source", h.alias("_h"), (h % n_salts).alias("_salt")
    )
    w1 = Window.partitionBy("source", "_salt").orderBy(
        F.col("_h"), F.col("doc_id")
    )
    survivors = keyed.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= k
    )
    w2 = Window.partitionBy("source").orderBy(F.col("_h"), F.col("doc_id"))
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= k)
        .select("source", "sample_rank", "doc_id")
    )


def curriculum_order(t, n_bands: int = 8) -> DataFrame:
    """Length-curriculum schedule: documents ordered easy→hard by
    equi-depth difficulty band (global rank on (n_chars, doc_id) —
    computed with the distributed ``global_row_number``, never an
    unpartitioned ntile window), pseudo-randomly shuffled WITHIN each
    band so a band is not served in length order, and laid into one
    contiguous ``curriculum_pos`` via the same two-level band-offset
    construction as ``global_shuffle_order`` (band is the leading
    sort key, so two-level ≡ the single global window).  The total
    doc count is a 1-row broadcast; band arithmetic is integer
    (``rank * n_bands DIV n``), so band edges are exact in both
    engines.  At 100 TB every band shuffles in parallel and the
    schedule is bit-stable across cluster sizes.
    """
    from storm_data_etl_service_spark.operators.analytics import (
        global_row_number,
    )

    docs = t["documents"].select("doc_id", "n_chars")
    ranked = global_row_number(
        docs, [F.asc("n_chars"), F.asc("doc_id")], "_rn"
    )
    n = docs.agg(F.count("*").alias("_total"))
    banded = ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        F.expr(f"CAST(((_rn - 1) * {n_bands}) DIV _total AS INT)").alias(
            "band"
        ),
        _sha_key("curr|", F.col("doc_id")).alias("_h"),
    )
    return _grouped_contiguous_pos(
        banded, "band", [F.col("_h"), F.col("doc_id")]
    ).select(
        "doc_id",
        "band",
        F.col("pos_in_group").alias("band_pos"),
        F.col("_gpos").alias("curriculum_pos"),
    )


def epoch_stream_order(t, n_shards: int = 16) -> DataFrame:
    """Materialize the mixture into one epoch stream: every document's
    ``n_copies`` (``mixture_sample_assign`` — temperature-weighted
    stochastic rounding) expands into that many physical copies, each
    copy gets an INDEPENDENT sha256 position key (the copy index is
    in the key, so repeats of an up-sampled doc land far apart
    instead of adjacent), and the epoch is laid out with the same
    two-level hash-shard construction as ``global_shuffle_order``.
    The expansion is expression fan-out (explode over a sequence) —
    no Python, no driver loop; epoch size = sum(n_copies) ≈ N by the
    mixture's expected-size property.
    """
    m = mixture_sample_assign(t).filter(F.col("n_copies") > 0)
    copies = m.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0), (F.col("n_copies") - 1).cast("int")
            )
        ).alias("copy"),
    )
    h = _sha_key("epoch|", F.col("copy"), F.col("doc_id"))
    keyed = copies.withColumn("_h", h).withColumn(
        "shard", F.expr(f"CAST((_h * {n_shards}) DIV 4294967296 AS INT)")
    )
    return _grouped_contiguous_pos(
        keyed, "shard", [F.col("_h"), F.col("doc_id"), F.col("copy")]
    ).select(
        "doc_id",
        "copy",
        "shard",
        F.col("_gpos").alias("epoch_pos"),
    )


# --- Token-budget waterfilling: split a fixed training-token budget
# across sources so every source gets an equal share L, except sources
# whose epoch cap (policy: at most cap_mult epochs over their corpus)
# saturates first — the allocator behind "data-constrained scaling"
# mixes (Muennighoff et al. 2023).
WATERFILL_BUDGET_NUM = 3  # budget = floor(3/2 * total corpus tokens)
WATERFILL_BUDGET_DEN = 2


def token_budget_waterfill(t) -> DataFrame:
    """Exact-integer waterfill of a training-token budget across
    sources.  Each source i holds ``n_i`` corpus tokens and may
    contribute at most ``cap_i = cap_mult_i * n_i`` tokens (its epoch
    cap; the multiplier 1-3 stands in for a per-source licensing /
    quality policy lookup, derived here deterministically from the
    source name).  The budget ``B = floor(1.5 * total)`` is spread at
    a common level L with small sources saturating at their cap:
    sorting sources by cap ascending, source k saturates iff
    ``cap_k * (K - k + 1) + prefix_caps_{k-1} <= B``; unsaturated
    sources split the remainder evenly, with the integer leftover
    going one token each to the first sources in cap order.  The
    allocations sum to B exactly — all arithmetic is int64.

    Scale: one map-side-combined token-count shuffle; everything else
    is windows over the |sources|-row aggregate (the documented
    agg-cardinality exception).
    """
    from pyspark.sql.window import Window

    counts = (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .groupBy("source")
        .agg(F.sum(F.size("_toks").cast("long")).alias("n_tokens"))
    )
    cap_mult = sha_int(F.col("source")) % 3 + 1
    capped = counts.select(
        "source",
        "n_tokens",
        cap_mult.alias("cap_mult"),
        (cap_mult * F.col("n_tokens")).alias("cap_tokens"),
    )
    glob = Window.partitionBy()
    asc = Window.orderBy(F.asc("cap_tokens"), F.asc("source"))
    staged = (
        capped.withColumn("_total", F.sum("n_tokens").over(glob))
        .withColumn(
            "_budget",
            F.expr(
                f"_total * {WATERFILL_BUDGET_NUM} div {WATERFILL_BUDGET_DEN}"
            ),
        )
        .withColumn("_k", F.count("*").over(glob))
        .withColumn("_i", F.row_number().over(asc).cast("long"))
        .withColumn(
            "_prefix",
            F.coalesce(
                F.sum("cap_tokens").over(
                    asc.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    )
    sat = F.col("cap_tokens") * (F.col("_k") - F.col("_i") + 1) + F.col(
        "_prefix"
    ) <= F.col("_budget")
    staged = staged.withColumn("saturated", sat)
    # prefix over SATURATED caps only, and the count of saturated rows
    staged = staged.withColumn(
        "_sat_prefix",
        F.coalesce(
            F.sum(F.when(sat, F.col("cap_tokens"))).over(glob), F.lit(0)
        ).cast("long"),
    ).withColumn("_n_sat", F.sum(sat.cast("long")).over(glob))
    staged = staged.withColumn(
        "_rem", F.col("_budget") - F.col("_sat_prefix")
    ).withColumn("_n_unsat", F.col("_k") - F.col("_n_sat"))
    level = F.expr("_rem div _n_unsat")
    leftover = F.col("_rem") - level * F.col("_n_unsat")
    # unsaturated rank in cap order: _i minus saturated rows before it
    unsat_rank = F.col("_i") - F.coalesce(
        F.sum(sat.cast("long")).over(
            asc.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    alloc = F.when(sat, F.col("cap_tokens")).otherwise(
        level + (unsat_rank <= leftover).cast("long")
    )
    return staged.select(
        "source",
        "n_tokens",
        "cap_mult",
        "cap_tokens",
        "saturated",
        alloc.alias("alloc_tokens"),
        (alloc.cast("double") / F.col("n_tokens")).alias("epochs"),
    )


#: Candidate training context windows (tokens) audited by
#: ``context_fill_efficiency``.
CONTEXT_LENGTHS = (512, 2048, 8192)


def context_fill_efficiency(t) -> DataFrame:
    """Context-window sizing readout: for each candidate sequence
    length L, how efficiently the corpus fills L-token training rows
    under the three standard layouts — clip (truncate each doc to L),
    chunk (split each doc into ⌈len/L⌉ rows, padding only the last),
    and perfect packing (the ⌈Σlen/L⌉ lower bound that cross-doc
    packing approaches).  The chunk-vs-perfect padding gap is exactly
    what a packing stage (``pack_sequences``) can recover; the clip
    column is the tokens a no-packing pipeline silently discards.

    Per L: doc count, share of docs longer than L, total corpus
    tokens, clipped tokens lost, chunk rows + their padding + fill
    ratio, and the perfect-packing row count + fill ratio.

    Scale: one doc-level token count (map-only), one |L|-row
    aggregate — every sum is an exact BIGINT (counts, ceilings, and
    padding are integers; the two fill ratios are single double
    divisions of exact integers at the very end), so output is
    partition-order exact at any corpus size.  The |L|-row cross join
    is a 3-row broadcast BNLJ (the band-calibration pattern).
    """
    spark = t["documents"].sparkSession
    lens = spark.createDataFrame([(L,) for L in CONTEXT_LENGTHS], "context_len int")
    ntok = t["documents"].select(
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tok")
    )
    L = F.col("context_len").cast("long")
    chunks = F.floor((F.col("n_tok") + L - 1) / L).cast("long")
    graded = ntok.crossJoin(F.broadcast(lens)).select(
        "context_len",
        "n_tok",
        chunks.alias("chunks"),
        F.greatest(F.col("n_tok") - L, F.lit(0).cast("long")).alias("clipped"),
        (chunks * L - F.col("n_tok")).alias("chunk_pad"),
        (F.col("n_tok") > L).cast("long").alias("over"),
    )
    agg = graded.groupBy("context_len").agg(
        F.count("*").alias("n_docs"),
        F.sum("over").alias("n_docs_over"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("clipped").alias("clip_lost_tokens"),
        F.sum("chunks").alias("chunk_rows"),
        F.sum("chunk_pad").alias("chunk_pad_tokens"),
    )
    Lc = F.col("context_len").cast("long")
    perfect_rows = F.floor(
        (F.col("total_tokens") + Lc - 1) / Lc
    ).cast("long")
    return agg.select(
        "context_len",
        "n_docs",
        (F.col("n_docs_over").cast("double") / F.col("n_docs")).alias(
            "doc_over_share"
        ),
        "total_tokens",
        "clip_lost_tokens",
        "chunk_rows",
        "chunk_pad_tokens",
        (
            F.col("total_tokens").cast("double")
            / (F.col("chunk_rows") * Lc).cast("double")
        ).alias("chunk_fill_ratio"),
        perfect_rows.alias("perfect_rows"),
        (
            F.col("total_tokens").cast("double")
            / (perfect_rows * Lc).cast("double")
        ).alias("perfect_fill_ratio"),
    )
