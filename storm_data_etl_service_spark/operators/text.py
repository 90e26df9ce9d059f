"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, and document fingerprinting over the
``documents`` table.  These generalize the reference's scalar string
operators (regex extraction P11/P12, deterministic hashing P5 —
reference internal/domain/transform.go) to corpus scale.

Everything is built-in column expressions / higher-order functions —
no UDFs, so the hot path stays inside WholeStageCodegen and scales
linearly with partitions.  Each operator has an exactly-matching
DuckDB oracle in the registry; arithmetic is engine-portable
(integer counts, left-fold sums, IEEE double division).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from storm_data_etl_service_spark.operators import stage

#: Tiny per-language stopword probes for the n-gram heuristic.
LANG_PATTERNS = {
    "en": r"\b(the|and|of|to|is)\b",
    "es": r"\b(el|la|de|los|que)\b",
    "de": r"\b(der|die|das|und|nicht)\b",
    "fr": r"\b(le|les|des|et|est)\b",
}
#: CJK unified ideographs — literal codepoint range works in both
#: Java regex (Spark) and RE2 (DuckDB oracle).
CJK_PATTERN = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"

PUNCT_PATTERN = r"[.,!?;:]"
STOPWORD_PATTERN = r"\b(the|a|and|of|to|in|is|it)\b"

#: Fingerprint fold: h = (h*131 + tok_hash) mod (2^31-1).
FP_MOD = 2147483647


def _strip_ws(text: Column) -> Column:
    r"""Boundary whitespace removed.  Whitespace is Java's ``\s``,
    ``[ \t\n\x0B\f\r]`` — the class every tokenizer twin (the DuckDB
    oracle's ``registry._tokens_sql``, ``token_spans_udtf``) splits on;
    ``trim`` would remove only the space character."""
    return F.regexp_replace(text, r"^\s+|\s+$", "")


def tokens_col(text: Column) -> Column:
    """Whitespace tokens with empties dropped ('' → 0 tokens).

    Pure codegen, no higher-order function: boundary whitespace is
    stripped with one regexp_replace (unlike ``trim``, which removes
    only the space character), after which a ``\\s+`` split can emit
    no empty tokens — interior empties are impossible with a greedy
    whitespace class, and the only boundary case left is the lone
    ``['']`` of fully-empty text, mapped to ``array()`` explicitly.
    Provably element-identical to the previous
    ``filter(split(trim(text)), x != '')`` for every input (the HOF
    filter existed only to drop boundary empties), but the interpreted
    per-element lambda is gone: the old form cost ~0.7 s of a 1.2 s
    tokenize-and-explode bench query at sf0.1 on its own."""
    stripped = _strip_ws(text)
    return F.when(stripped == "", F.array().cast("array<string>")).otherwise(
        F.split(stripped, r"\s+")
    )


def min_tokens_pred(text: Column, n: int) -> Column:
    """Pushdown-CHEAP predicate equivalent to
    ``size(tokens_col(text)) >= n`` (n >= 1).

    Catalyst pushes staging filters below the post-scan repartition
    exchange — on the single-row-group bench files that stage is ONE
    task, so whatever the predicate references is evaluated serially
    for the whole table.  A filter phrased on the staged ``_toks``
    column used to get the full tokenize tree (then an INTERPRETED
    higher-order ``filter``) inlined into that serial scan — measured
    1.4–9 s of single-task CPU per scan branch at sf0.1.  This form is
    pure codegen and EXACTLY ``size(tokens_col(text)) >= n``: the same
    regexp boundary-strip as ``tokens_col`` (so non-space boundary
    whitespace cannot leave a counted empty token), then
    ``stripped != ''`` for n = 1 and ``size(split) >= n`` for n >= 2."""
    if n <= 0:
        return F.lit(True)
    stripped = _strip_ws(text)
    if n == 1:
        return stripped != ""
    return (stripped != "") & (F.size(F.split(stripped, r"\s+")) >= n)


def token_count_col(text: Column) -> Column:
    """Whitespace token count: ``size(tokens_col(text))``, and 0 for
    null text.  After the boundary strip the ``\\s+`` split emits no
    empty tokens, so its size is the count.  Pure codegen."""
    stripped = _strip_ws(text)
    return F.when(F.coalesce(stripped, F.lit("")) == "", F.lit(0)).otherwise(
        F.size(F.split(stripped, r"\s+"))
    )


def text_stats(t) -> DataFrame:
    """Quality-scoring metrics per document: token count, char count,
    average token length, punctuation ratio, stopword ratio.

    Pure projection over the scan — the 100 TB plan is a map-only
    stage with full column pruning (only ``doc_id``/``text`` read).
    """
    toks = F.col("_toks")  # staged: HOFs are interpreted, see shingles_col
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    sum_tok_len = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    n_punct = F.regexp_count("text", F.lit(PUNCT_PATTERN)).cast("long")
    n_stop = F.regexp_count(F.lower("text"), F.lit(STOPWORD_PATTERN)).cast("long")
    return (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            n_chars.alias("n_chars"),
            (sum_tok_len.cast("double") / F.greatest(n_tokens, F.lit(1))).alias("avg_token_len"),
            (n_punct.cast("double") / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
            (n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))).alias("stopword_ratio"),
        )
    )


def text_lang_id(t) -> DataFrame:
    """N-gram-heuristic language ID: stopword-probe hit counts per
    language + CJK character presence; argmax with a fixed tie-break
    order (zh > en > es > de > fr).  A deterministic heuristic — the
    oracle checks prediction equality, not accuracy."""
    lowered = F.lower("text")
    scores = {
        lang: F.regexp_count(lowered, F.lit(pat)).cast("long")
        for lang, pat in LANG_PATTERNS.items()
    }
    zh = F.regexp_count("text", F.lit(CJK_PATTERN)).cast("long")
    pred = (
        F.when(zh > 0, "zh")
        .when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]), "es")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return t["documents"].select(
        "doc_id",
        scores["en"].alias("en_score"),
        scores["es"].alias("es_score"),
        scores["de"].alias("de_score"),
        scores["fr"].alias("fr_score"),
        zh.alias("zh_score"),
        pred.alias("lang_pred"),
    )


def sha_int(col: Column, start: int = 1, width: int = 8) -> Column:
    """The reference's deterministic SHA-256 hashing read as an
    integer: ``width`` hex chars of ``sha256(col)`` from ``start``, as
    a BIGINT (``width <= 15`` keeps it non-negative).  DuckDB twin:
    ``registry._sha_int_sql``."""
    return F.conv(F.substring(F.sha2(col, 256), start, width), 16, 10).cast("long")


def token_hash(tok: Column) -> Column:
    """Portable 60-bit token hash: the first 15 hex chars of sha256."""
    return sha_int(tok, width=15)


#: BPE-ish pre-tokenizer regex (GPT-2 style, lookahead-free so it runs
#: under Java regex and RE2; the oracle widens RE2's ``\s`` to Java's):
#: contraction suffixes, space-prefixed letter runs, digit runs,
#: punctuation runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_count_col(text: Column) -> Column:
    """BPE-ish pre-token count: ``BPE_PATTERN`` matches that are not
    whitespace-only.  DuckDB twin: ``registry._bpe_count_sql``."""
    # idx=0: whole matches (Spark defaults to capture group 1, and the
    # pattern's only group is non-capturing)
    matches = F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)
    return F.size(F.filter(matches, lambda x: ~x.rlike(r"^\s+$"))).cast("long")


def text_token_count(t) -> DataFrame:
    """Token counting both ways a data pipeline needs it: whitespace
    tokens (word-ish budget) and BPE-ish regex pre-tokens (LLM token
    budget estimate).  Whitespace-only matches are excluded from the
    BPE count."""
    ws = F.size(F.col("_toks")).cast("long")
    bpe = bpe_count_col(F.col("text"))
    return (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .select(
            "doc_id",
            ws.alias("n_ws_tokens"),
            bpe.alias("n_bpe_tokens"),
        )
    )


def text_fingerprint(t) -> DataFrame:
    """Document fingerprint: left-fold rolling hash over per-token
    sha256-derived integers, ``h = (h*131 + tok_hash%M) % M``.

    Order-sensitive (unlike a content sha over the raw text, it is
    robust to formatting-only whitespace changes) and engine-portable:
    the fold emulates DuckDB's ``list_reduce`` (first element is the
    initial accumulator)."""
    hashes = F.col("_hs")  # staged: HOFs are interpreted, see shingles_col
    folded = F.aggregate(
        F.slice(hashes, 2, F.greatest(F.size(hashes) - 1, F.lit(0))),
        F.element_at(hashes, 1),
        lambda acc, x: (acc * 131 + x) % FP_MOD,
    )
    return (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .withColumn("_hs", F.transform(F.col("_toks"), lambda x: token_hash(x) % FP_MOD))
        .select("doc_id", F.coalesce(folded, F.lit(0).cast("long")).alias("fingerprint"))
    )


def text_repetition_stats(t) -> DataFrame:
    """Gopher-style repetition quality signals per document: top-token
    share (most frequent token / total), type-token ratio, and
    duplicate-bigram fraction.  High repetition ⇒ boilerplate/spam ⇒
    filtered before training.

    The token frequencies go through an explode + two keyed
    aggregations (shuffle on (doc_id, token) then doc_id) — the
    scalable shape; an array-expression nested count would be O(n²)
    interpreted per document.  Ratios are exact bigint divisions, so
    both engines agree bit-for-bit."""
    staged = (
        t["documents"]
        .filter(min_tokens_pred(F.col("text"), 1))
        .select("doc_id", tokens_col(F.col("text")).alias("_toks"))
    )
    freq = (
        staged.select("doc_id", F.explode("_toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("_top"),
            F.sum("c").alias("_total"),
            F.count("*").alias("_distinct"),
        )
    )
    bigrams = staged.select(
        "doc_id",
        (F.size("_toks") - 1).alias("_n_bi"),
        F.size(
            F.array_distinct(
                F.zip_with(
                    F.slice(F.col("_toks"), 1, F.size("_toks") - 1),
                    F.slice(F.col("_toks"), 2, F.size("_toks") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            )
        ).alias("_d_bi"),
    )
    return (
        freq.join(bigrams, "doc_id")
        .select(
            "doc_id",
            F.col("_total").alias("n_tokens"),
            (F.col("_top").cast("double") / F.col("_total")).alias("top_token_share"),
            (F.col("_distinct").cast("double") / F.col("_total")).alias(
                "type_token_ratio"
            ),
            F.when(F.col("_n_bi") > 0, 1 - F.col("_d_bi").cast("double") / F.col("_n_bi"))
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_frac"),
        )
    )


def vocab_top_tokens(t) -> DataFrame:
    """Corpus vocabulary: global term frequency + document frequency,
    top-100 tokens.  The training-data op behind tokenizer vocab
    audits and stopword derivation.

    Scale: explode pipelines into a partial (map-side) aggregate, so
    the shuffle carries one row per distinct (partition, token) — the
    reduce side sees vocabulary cardinality, not corpus cardinality.
    count(DISTINCT doc_id) expands per-token groups only after that
    first collapse.
    """
    toks = t["documents"].select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_freq"), F.asc("token"))
        .limit(100)
    )


def tfidf_top_terms(t) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    The IDF factor is the exact ratio (N+1)/(df+1) rather than its
    logarithm: libm log is not bit-identical across engines, but the
    ratio is pure integer arithmetic + one double division, so the
    score hash-matches the oracle — and ranking is monotone in the
    log, so top-k is unchanged.

    Scale: doc frequency derives FROM the (doc, term) count table —
    df(token) = rows of tf — so the df branch shuffles map-side
    pre-combined (doc, token) partials instead of running a
    countDistinct expansion over the raw exploded stream (measured
    ~30% faster at sf0.1).  The df table collapses to vocabulary size
    and broadcasts back; corpus size is a 1-row broadcast; the final
    top-k is a per-doc window over ≤ |doc| rows — no global sort.
    """
    toks = t["documents"].select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    ndocs = t["documents"].agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.col("tf") * ((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rk")
    )


#: Count-min sketch geometry: depth (independent hash rows) × width.
CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_token_frequencies(t, top_n: int = 20) -> DataFrame:
    """Count-min sketch token frequencies, as a TABLE — the mergeable
    fixed-memory path for per-item counts at 100 TB, completing the
    sketch family (HLL cardinality, KLL-style quantiles, Misra-Gries
    heavy hitters).

    The sketch is depth×width (4×256) COUNT cells keyed by
    (row, sha256-hash(token) mod width); estimate(token) = min over
    rows of its cell — never an undercount, over by at most the
    colliding mass.  Holding it as a (r, c, cell_n) relation instead
    of an opaque binary blob keeps every property Spark gives tables:
    cells merge across partitions/days/sources by SUM (the same
    incremental shape as daily_user_sketch_rollup), the build is one
    map-side-combined aggregation, and the probe is a broadcast join
    against ≤ depth×width rows.

    Emits the top-`top_n` exact tokens with their sketch estimates,
    plus the deterministic ``no_undercount``/``within_eps_bound``
    audit columns.  Everything is integer arithmetic on sha256 prefix
    hashes (the engine-portable trick of dataset_split_assign), so —
    unlike ``approx_distinct_counts``, whose HLL internals no oracle
    can reproduce — the DuckDB oracle rebuilds the ENTIRE sketch
    bit-for-bit and the estimates hash-match exactly.

    Scale: the sketch builds from the (token, count) aggregate —
    algebraically identical to sketching the raw stream, but the
    shuffle carries vocabulary cardinality, not corpus cardinality.
    At 100 TB you keep per-partition sketch partials and merge by
    cell; the exact side here is the test-scale correctness anchor."""
    toks = t["documents"].select(F.explode(tokens_col(F.col("text"))).alias("token"))
    tf = toks.groupBy("token").agg(F.count("*").alias("exact_n"))

    def cell(r: int) -> Column:
        h = sha_int(F.concat(F.lit(f"cms{r}|"), F.col("token")))
        return F.struct(F.lit(r).cast("int").alias("r"), (h % CMS_WIDTH).alias("c"))

    cells = tf.select(
        "token",
        "exact_n",
        F.explode(F.array(*[cell(r) for r in range(CMS_DEPTH)])).alias("cell"),
    ).select("token", "exact_n", F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
    sketch = cells.groupBy("r", "c").agg(F.sum("exact_n").alias("cell_n"))
    total = tf.agg(F.sum("exact_n").alias("stream_n"))

    probes = tf.orderBy(F.desc("exact_n"), F.asc("token")).limit(top_n)
    probe_cells = cells.join(F.broadcast(probes.select("token")), "token")
    est = (
        probe_cells.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell_n").alias("cms_estimate"))
        .crossJoin(F.broadcast(total))
    )
    # classic CMS guarantee: overcount <= e/width * N (w.h.p.); both
    # sides integer, so the bound column is engine-exact
    overcount = F.col("cms_estimate") - F.col("exact_n")
    return est.select(
        "token",
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_n")).alias("no_undercount"),
        (overcount * CMS_WIDTH <= F.lit(3) * F.col("stream_n")).alias(
            "within_eps_bound"
        ),
    )


RARE_DOC_FREQ = 2  # a token is "rare" if it appears in <= 2 documents


def rare_token_share(t) -> DataFrame:
    """Per-document rare-token share: the fraction of a document's
    tokens whose corpus document frequency is <= RARE_DOC_FREQ — the
    libm-free stand-in for unigram surprisal (high share = unusual
    vocabulary: OCR noise, boilerplate IDs, or genuinely novel text).
    A quality-gate signal alongside text_repetition_stats.

    Scale: everything runs over the (doc, token) count table — doc
    frequency is its per-token row count (see tfidf_top_terms) and
    the per-doc totals are sums of the counts, so the broadcast join
    probes one row per distinct (doc, token) instead of one per token
    occurrence (measured ~30% faster at sf0.1).  The share is a pure
    integer ratio — deterministic with no transcendental calls."""
    toks = t["documents"].select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.when(F.col("df") <= RARE_DOC_FREQ, F.col("c")).otherwise(0)).alias(
                "n_rare"
            ),
        )
        .withColumn(
            "rare_share",
            F.col("n_rare").cast("double") / F.col("n_tokens"),
        )
    )


def token_spans_udtf(spark, t) -> DataFrame:
    """Tokenize via a Python UDTF (lateral table function): each
    document expands to (pos, token, token_len) rows.

    API-surface demonstration with a real contract: the same rows as
    a ``posexplode`` of ``tokens_col`` (the oracle checks exactly
    that), so callers should prefer the expression form in hot paths
    — a UDTF is imperative Python, the right tool only when the
    expansion logic genuinely needs it (parsers, generators, per-row
    model calls).  ``useArrow=True`` keeps the boundary Arrow-batched
    (``ArrowEvalPythonUDTF``, not row-pickled ``BatchEvalPythonUDTF``).
    Runs distributed: the UDTF maps over partitions like any
    projection; no shuffle."""
    import re

    from pyspark.sql.functions import udtf

    # runs of non-whitespace under Java's \s, the class tokens_col
    # splits on (str.split() would also split on \xa0, \x1c-\x1f, \x85)
    token_re = re.compile(r"[^ \t\n\x0B\f\r]+")

    @udtf(returnType="pos int, token string, token_len int", useArrow=True)
    class TokenSpans:
        def eval(self, text: str):
            for i, tok in enumerate(token_re.findall(text or ""), 1):
                yield i, tok, len(tok)

    spark.udtf.register("token_spans", TokenSpans)
    t["documents"].createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.token, s.token_len
        FROM docs_udtf d, LATERAL token_spans(d.text) s
        """
    )


BOILERPLATE_PREFIX_TOKENS = 3


def boilerplate_prefix_report(t) -> DataFrame:
    """Per-source boilerplate detection: the most common leading
    token prefix within each source and the share of that source's
    documents carrying it — high share means a template header to
    strip before training (the C4/CCNet boilerplate heuristic at
    corpus scale).

    One groupBy on (source, prefix), then ranking + totals via
    windows over the source partition — cardinality is distinct
    prefixes per source, never documents."""
    prefix = F.concat_ws(
        " ", F.slice(tokens_col(F.col("text")), 1, BOILERPLATE_PREFIX_TOKENS)
    )
    per = (
        t["documents"]
        .select("source", prefix.alias("prefix"))
        .groupBy("source", "prefix")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source")
    wr = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("prefix"))
    return (
        per.withColumn("total", F.sum("n").over(w))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "source",
            F.col("prefix").alias("top_prefix"),
            F.col("n").alias("n_docs"),
            (F.col("n").cast("double") / F.col("total")).alias("share"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("join", "vector", "stream")


def bm25_doc_ranking(t, terms=BM25_QUERY_TERMS) -> DataFrame:
    r"""Top-10 documents for a fixed query by BM25 — the canonical
    retrieval scorer (k1=1.2, b=0.75) behind corpus search and
    RAG-style training-data selection.

    Determinism across engines: every IEEE +,*,/ step is written with
    the identical expression shape in Spark and the oracle (basic ops
    are correctly rounded, hence bit-identical), but libm ``ln`` is
    NOT — so the per-term idf is floor-quantized at 1e-6 immediately
    after the log, and per-doc term contributions are summed through a
    fixed-point DECIMAL (double addition is order-dependent; decimal
    addition is not).  Same recipe as correlation_stats / pagerank.

    Scale: scoring runs over the (doc, term) count table filtered to
    the query's terms BEFORE any join — at most |terms| rows per doc.
    df and corpus stats are 1-broadcast-each; the final top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort).

    ONE tokenize branch (was four): an earlier form derived dl (per-doc
    token count), tot_dl, and df each from their own
    explode→groupBy(doc_id, token) subtree, so the plan tokenized and
    aggregated the full corpus 4× (SQL-tab: four 270 k-row Generates,
    the tf hash builds costing 1.6–9.6 s of task time at sf0.1).  Now:
    dl ≡ size(tokens) is ``token_count_col``, a pure-codegen scan
    projection (docs with no tokens get dl = 0 where they previously
    had no dl row, which is value-identical in both uses: they can never
    match a query term, and they add 0 to tot_dl), carried THROUGH the
    explode so no doc_id join is needed; df for the query terms is
    counted from qtf itself (# of (doc, term) rows per term — the same
    number the full-vocabulary df table gave after its isin filter);
    and tot_dl/n_docs fold into one map-only aggregate over the scan."""
    dl_col = token_count_col(F.col("text")).cast("bigint")
    base = t["documents"].select("doc_id", dl_col.alias("dl"), "text")
    tot = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("tot_dl")
    ).select(
        "n_docs",
        (F.col("tot_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    qtf = (
        base.select("doc_id", "dl", F.explode(tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(*terms))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
    )
    dfreq = qtf.groupBy("token").agg(F.count("*").alias("df"))
    idf = (
        F.floor(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.lit(1e6)
        )
        / F.lit(1e6)
    )
    tf_part = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    contrib = idf * tf_part
    scored = (
        qtf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("matched_terms"),
            F.min("dl").alias("dl"),
            (
                F.sum(
                    F.floor(contrib * F.lit(1e6)).cast("decimal(25,0)")
                ).cast("double")
                / F.lit(1e6)
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# -- exact heavy hitters -----------------------------------------------------

#: Misra-Gries summary capacity per partition.  Guarantees every
#: bigram with global frequency > N/(HH_CAPACITY+1) survives candidate
#: generation, so the final exact-recount filter is lossless.
HH_CAPACITY = 640


def bigrams_col(toks: Column) -> Column:
    """Adjacent-token bigrams ("a b") from a token array; < 2 tokens
    → empty.  zip-of-slices, not element_at-over-sequence: the
    optimizer can inline the token tree into every element access
    (see dedup.shingles_col), making the sequence form O(tokens²)."""
    m = F.size(toks) - 1
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _mg_candidates(batches):
    """Streaming Misra-Gries over one partition's Arrow batches.

    Classic decrement generalized to batch merges (Agarwal et al.,
    "Mergeable Summaries"): fold each batch's exact counts in, then if
    more than HH_CAPACITY counters remain, subtract the (C+1)-th
    largest count from all and drop the non-positive.  Total subtracted
    mass is <= n_partition/(C+1), so any item with local count above
    that bound still holds a positive counter at the end.
    """
    import pandas as pd

    counts: dict = {}
    for pdf in batches:
        for tok, c in pdf["token"].value_counts().items():
            counts[tok] = counts.get(tok, 0) + int(c)
        if len(counts) > HH_CAPACITY:
            cut = sorted(counts.values(), reverse=True)[HH_CAPACITY]
            counts = {k: v - cut for k, v in counts.items() if v > cut}
    yield pd.DataFrame({"token": pd.Series(list(counts), dtype="object")})


def heavy_hitter_bigrams(t) -> DataFrame:
    """Exact corpus heavy hitters: every bigram whose frequency
    exceeds N/(HH_CAPACITY+1), with its exact count — boilerplate and
    template-phrase detection at corpus scale.

    Two passes, neither shuffling the token stream by value:
    1. candidate generation — per-partition Misra-Gries sketches via
       ``mapInPandas`` (map-only; each partition emits <= C candidate
       rows, so the driver-bound data is C x partitions, not the
       vocabulary);
    2. exact recount of candidates only — a broadcast semi-join gates
       the stream, then one partial-aggregated groupBy counts the
       survivors.

    At 100 TB the distinct-n-gram cardinality is billions; a plain
    groupBy(token) shuffles every distinct token, while this shuffles
    only the gated candidates.  The MG superset guarantee + exact
    recount + exact threshold make the result partitioning- and
    batch-order-independent (the intermediate candidate SET varies,
    the answer never does).
    """
    bigrams = (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .select(F.explode(bigrams_col(F.col("_toks"))).alias("token"))
    )
    candidates = bigrams.mapInPandas(_mg_candidates, schema="token string").distinct()
    # n_total ≡ Σ_doc max(n_tokens − 1, 0): counting bigram INSTANCES
    # needs no explode at all — the pure-codegen token count summed
    # map-only.  This removes the third Generate branch (265 k rows
    # re-tokenized and re-exploded just to be counted) from the plan.
    n_toks = token_count_col(F.col("text"))
    total = t["documents"].agg(
        F.sum(F.greatest(n_toks - 1, F.lit(0)).cast("bigint")).alias("n_total")
    )
    return (
        bigrams.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("term_freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("term_freq") * (HH_CAPACITY + 1) > F.col("n_total"))
        .select(F.col("token").alias("bigram"), "term_freq", "n_total")
    )


def langid_confusion_report(t) -> DataFrame:
    """Label-vs-prediction confusion matrix for the n-gram language
    heuristic against the corpus's ``lang`` labels — the calibration
    readout that decides whether the cheap heuristic is good enough to
    gate documents at scale or needs a model upgrade per language.

    One join on doc_id (both sides are slim projections of the same
    scan) and a groupBy over a |langs|² key space."""
    pred = text_lang_id(t).select("doc_id", "lang_pred")
    return (
        t["documents"]
        .select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def bigram_surprisal_scores(t) -> DataFrame:
    """Per-document average bigram surprisal under the corpus's own
    add-one-smoothed bigram LM — the perplexity-style quality gate
    (KenLM-filter stand-in): high average surprisal = text whose word
    transitions the corpus has rarely seen (OCR damage, shuffled
    boilerplate, spam), low = fluent/templated.

    Self-inclusive MLE (each doc scores against statistics that
    include itself) — standard for corpus-relative outlier scoring.

    Scale: the model IS two aggregate tables (bigram and
    bigram-start counts), built map-side-combined from the same
    (doc, w1, w2) count table that scoring probes — vocabulary-sized,
    broadcast here; at trillion-token scale the probe becomes a
    shuffle join on the bigram key and nothing else changes.  The
    only libm call (ln) is floor-quantized to 1e-6 per term and
    summed as exact int64, the same portability contract as
    bm25_doc_ranking.
    """
    docs = t["documents"].withColumn("_toks", tokens_col(F.col("text")))
    # zip-of-slices, not element_at-over-sequence (see
    # dedup.shingles_col: the sequence form is O(tokens²) when the
    # optimizer inlines the token tree into each element access)
    m = F.size("_toks") - 1
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_toks") >= 2,
                F.zip_with(
                    F.slice(F.col("_toks"), 1, m),
                    F.slice(F.col("_toks"), 2, m),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    tf = pairs.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c"))
    # The bigram model feeds the probe join and the ``starts``
    # re-aggregation.  Column pruning de-canonicalizes the two copies,
    # so ReusedExchange cannot fire and, unstaged, its aggregation runs
    # twice.
    bg = stage(tf.groupBy("w1", "w2").agg(F.sum("c").alias("c_bigram")))
    starts = bg.groupBy("w1").agg(F.sum("c_bigram").alias("c_start"))
    vocab = (
        t["documents"]
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .agg(F.countDistinct("token").alias("v"))
    )
    # -ln((c_bigram+1)/(c_start+V)), floor-quantized to 1e-6, exact int64
    surprisal_q = -F.floor(
        F.log(
            (F.col("c_bigram") + 1).cast("double")
            / (F.col("c_start") + F.col("v"))
        )
        * F.lit(1e6)
    ).cast("long")
    # no broadcast HINT on the model tables: they are vocabulary-sized,
    # and a synthetic corpus whose vocabulary grows WITH the corpus
    # (the scaling sweep's renamed-replica modes — and any real corpus
    # at the trillion-token scale) outgrows an executor's memory; AQE
    # broadcasts them while they measure small and flips to a shuffle
    # join on the bigram key when they don't (measured: removing the
    # hints cut the sf0.1→sf1.6 exponent on the 16x-vocab corpus).
    # The 1-row vocab scalar keeps its hint.
    scored = (
        tf.join(bg, ["w1", "w2"])
        .join(starts, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("s_q", surprisal_q)
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        (
            F.sum(F.col("c") * F.col("s_q")).cast("double")
            / (F.lit(1e6) * F.sum("c"))
        ).alias("avg_surprisal"),
    )


CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


def doc_chunk_windows(t) -> DataFrame:
    """Overlapping token-window chunking (RAG / context-window prep):
    each document expands to windows of CHUNK_TOKENS tokens advancing
    by CHUNK_STRIDE — the stride < window overlap that keeps sentence
    context across chunk boundaries.

    Pure expression fan-out: the token array is staged once, window
    starts come from ``sequence``, and each chunk re-joins its slice —
    no Python, no shuffle; output cardinality is
    ceil((n_tokens - overlap) / stride) rows per doc.  Chunks carry
    (doc_id, chunk_idx, start_token, n_chunk_tokens, chunk_text) —
    the downstream embedding pipeline's input contract.
    """
    docs = t["documents"].withColumn("_toks", tokens_col(F.col("text")))
    n = F.size("_toks")
    n_chunks = F.when(
        n <= CHUNK_TOKENS,
        F.when(n > 0, 1).otherwise(0),
    ).otherwise(
        F.ceil((n - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE)).cast("int") + 1
    )
    chunks = docs.select(
        "doc_id",
        "_toks",
        F.explode(
            F.when(
                n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    piece = F.slice(F.col("_toks"), start + 1, CHUNK_TOKENS)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long").alias("start_token"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


LABEL_TOP_TERMS_K = 5


def label_top_terms(t) -> DataFrame:
    """Top characteristic terms per embedding LABEL: join the text
    table to the embedding table's cluster labels (doc_id = vec_id)
    and rank each label's tokens by the exact ratio lift
    p(token|label) / p(token) — "what is cluster 7 about?", the
    cross-modal readout that names semantic clusters.

    All-integer counts + one double division per (label, token), so
    it hash-matches the oracle; the label join is a slim two-column
    broadcast, ranking windows run over label×vocabulary cardinality.
    """
    labels = t["embeddings"].select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    toks = (
        t["documents"]
        .join(F.broadcast(labels), "doc_id")
        .select("label", F.explode(tokens_col(F.col("text"))).alias("token"))
    )
    lab_tf = toks.groupBy("label", "token").agg(F.count("*").alias("tf"))
    lab_n = lab_tf.groupBy("label").agg(F.sum("tf").alias("n_label"))
    tok_n = lab_tf.groupBy("token").agg(F.sum("tf").alias("n_token"))
    total = lab_tf.agg(F.sum("tf").alias("n_total"))
    lift = (F.col("tf") * F.col("n_total")).cast("double") / (
        F.col("n_label") * F.col("n_token")
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("lift"), F.desc("tf"), F.asc("token")
    )
    return (
        lab_tf.join(F.broadcast(lab_n), "label")
        .join(F.broadcast(tok_n), "token")
        .crossJoin(F.broadcast(total))
        .withColumn("lift", lift)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= LABEL_TOP_TERMS_K)
        .select("label", "token", "tf", "lift", "rk")
    )


def csv_fields_udtf(spark, t, field_names=("Time", "Size", "Location")) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze`` API): splits a
    delimited line into N NAMED columns where the column set comes
    from a constant ARGUMENT — the output schema is computed at plan
    time by the UDTF's ``analyze`` method, not declared statically.

    The API-surface demo for plan-time-polymorphic table functions
    (schema-on-read ingestion helpers); hot paths should still use
    ``from_csv``/``split`` expressions (this is row-at-a-time
    Python).  Drives the reference's raw-CSV shape: the demo input is
    a comma-joined rendering of the documents table.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeResult

    class CsvFields:
        @staticmethod
        def analyze(line, names):
            if not isinstance(names.value, str):
                raise ValueError("names must be a constant string")
            cols = [c.strip() for c in names.value.split(",")]
            return AnalyzeResult(
                StructType([StructField(c, StringType()) for c in cols])
            )

        def eval(self, line: str, names: str):
            n = len(names.split(","))
            parts = (line or "").split(",")
            parts = (parts + [""] * n)[:n]
            yield tuple(p.strip() for p in parts)

    spark.udtf.register("csv_fields", udtf(CsvFields))
    t["documents"].selectExpr(
        "doc_id",
        "concat_ws(',', cast(doc_id AS STRING), lang, source) AS line",
    ).createOrReplaceTempView("csv_lines_udtf")
    names = ",".join(field_names)
    return spark.sql(
        f"""
        SELECT l.doc_id, s.*
        FROM csv_lines_udtf l,
             LATERAL csv_fields(l.line, '{names}') s
        """
    )


def source_token_entropy(t) -> DataFrame:
    """Per-source token-distribution entropy (nats) — the vocabulary
    diversity gate: a source whose entropy sits far below its
    ln(vocab) ceiling is template/boilerplate-dominated even when raw
    dedup finds nothing.

    H = -Σ (n_t/N)·ln(n_t/N) per source, computed from exact counts
    with the floor-1e-6 ln quantization contract; one groupBy to the
    (source, token) counts, one to the report."""
    toks = t["documents"].select(
        "source", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("source", "token").agg(F.count("*").alias("n_t"))
    term_q = F.col("n_t") * F.floor(
        F.log(F.col("n_t").cast("double") / F.col("n_s")) * 1e6
    ).cast("long")
    per_src = tf.withColumn(
        "n_s", F.sum("n_t").over(Window.partitionBy("source"))
    )
    return (
        per_src.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count("*").alias("vocab_size"),
            (-F.sum(term_q).cast("double") / (F.lit(1e6) * F.max("n_s"))).alias(
                "entropy_nats"
            ),
        )
        .withColumn(
            "entropy_ceiling_nats",
            F.floor(F.log(F.col("vocab_size").cast("double")) * 1e6).cast(
                "long"
            ).cast("double")
            / 1e6,
        )
        .withColumn(
            # ln(1)=0 ceiling for a single-token vocabulary: define the
            # degenerate ratio as NULL on BOTH engines (Spark yields
            # NULL on double/0 while DuckDB yields inf/NaN — the WHEN
            # guard pins them to the same answer)
            "diversity_ratio",
            F.when(
                F.col("vocab_size") > 1,
                F.col("entropy_nats") / F.col("entropy_ceiling_nats"),
            ),
        )
    )


def vocab_growth_curve(t) -> DataFrame:
    """Heaps-law vocabulary growth: cumulative distinct tokens after
    each decile of the corpus (in doc_id order) — the data-scaling
    diagnostic: a flattening curve means additional slices buy little
    new vocabulary (diminishing data returns); near-linear growth
    means the corpus is still discovering its domain.

    No windowed distinct-accumulation (that would re-count the
    corpus per step): each token contributes once at its FIRST doc
    (min(doc_id) per token — one groupBy), and each decile's
    cumulative vocabulary is a count of first-appearances at or
    below the decile's doc threshold — a broadcast join of 10
    thresholds against the vocabulary-sized first-seen table.  Doc
    deciles come from the DISTRIBUTED exact ntile (document
    cardinality is data-sized; an unpartitioned ntile window would
    funnel the whole corpus into one partition)."""
    from storm_data_etl_service_spark.operators.analytics import with_global_ntile

    toks = t["documents"].select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    first_seen = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    deciled = with_global_ntile(
        t["documents"].select(
            "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks")
        ),
        10,
        [F.asc("doc_id")],
        "decile",
    )
    bounds = deciled.groupBy("decile").agg(
        F.max("doc_id").alias("max_doc"),
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("decile_tokens"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = bounds.select(
        "decile",
        "max_doc",
        F.sum("n_docs").over(w).alias("cum_docs"),
        F.sum("decile_tokens").over(w).alias("cum_tokens"),
    )
    return (
        F.broadcast(cum)
        .join(first_seen, F.col("first_doc") <= F.col("max_doc"))
        .groupBy("decile", "max_doc", "cum_docs", "cum_tokens")
        .agg(F.count("*").alias("cum_vocab"))
    )


def tokenizer_fertility_by_lang(t) -> DataFrame:
    """Tokenizer fertility per language: characters per BPE-ish token
    and BPE tokens per whitespace word — the multilingual token-budget
    planner (a language whose fertility runs high pays more context
    window per character; mixture weights and cost models need this
    per-slice, not corpus-wide).

    Exact integer totals per language, two double divisions at the
    end; one scan, one tiny groupBy."""
    per_doc = t["documents"].select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_words"),
        bpe_count_col(F.col("text")).alias("n_bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
        .withColumn(
            "chars_per_token",
            F.col("total_chars").cast("double") / F.col("total_bpe_tokens"),
        )
        .withColumn(
            "tokens_per_word",
            F.col("total_bpe_tokens").cast("double") / F.col("total_words"),
        )
    )


#: Hashed-feature quality model: D feature buckets, integer weights
#: in [-8, 8] derived from the bucket id (a frozen stand-in for a
#: trained fastText-style linear classifier; a learned model swaps
#: the weight expression for a broadcast (bucket, weight) table).
QUALITY_BUCKETS = 4096
QUALITY_WEIGHT_SPAN = 17  # weights in [-8, 8]


def quality_linear_score(t) -> DataFrame:
    """fastText-style linear quality gate: every unigram and adjacent
    bigram hashes into one of ``QUALITY_BUCKETS`` feature buckets,
    each bucket carries a deterministic integer weight, and the
    document's logit is the exact BIGINT sum of its feature weights —
    the hashing-trick classifier (Weinberger et al. 2009; Joulin et
    al. 2016 fastText) that real curation stacks run as the learned
    quality filter.  Emits the logit, the per-feature mean score, and
    the keep/review/drop verdict.

    Scale: ZERO shuffle — the whole scorer is one map-only projection
    (``F.aggregate`` folds the feature array per row), so at 100 TB
    it pipelines with the scan at full column pruning.  The weights
    here are a pure sha256 function of the bucket id, which keeps the
    op self-contained and lets the DuckDB oracle re-derive every
    logit bit-for-bit; with trained weights the fold becomes a
    broadcast-join + groupBy(doc) sum, still corpus-shuffle-free.
    Integer weights (the int8-quantized form a production model ships
    anyway) make the fold order-independent — no float-sum drift
    between engines or partitionings.
    """
    staged = (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .withColumn("_feats", F.concat(F.col("_toks"), bigrams_col(F.col("_toks"))))
    )
    n_feats, logit, score, verdict = _linear_gate_exprs()
    return staged.select(
        "doc_id",
        n_feats.alias("n_feats"),
        logit.alias("logit"),
        score.alias("quality_score"),
        verdict.alias("verdict"),
    )


def _linear_gate_exprs() -> tuple[Column, Column, Column, Column]:
    """(n_feats, logit, score, verdict) expressions over a staged
    ``_feats`` feature array — shared by ``quality_linear_score`` and
    ``quality_gate_agreement`` (which evaluates the linear gate and the
    Gopher rules in ONE projection instead of two scans + a join)."""

    def weight(x: Column) -> Column:
        bucket = sha_int(F.concat(F.lit("qf|"), x)) % QUALITY_BUCKETS
        return (
            sha_int(F.concat(F.lit("qw|"), bucket.cast("string"))) % QUALITY_WEIGHT_SPAN
        ) - (QUALITY_WEIGHT_SPAN // 2)

    n_feats = F.size("_feats").cast("long")
    logit = F.aggregate(
        F.col("_feats"), F.lit(0).cast("long"), lambda acc, x: acc + weight(x)
    )
    score = F.when(
        n_feats > 0, logit.cast("double") / n_feats.cast("double")
    ).otherwise(F.lit(0.0))
    verdict = (
        F.when(score >= 0.5, F.lit("keep"))
        .when(score <= -0.5, F.lit("drop"))
        .otherwise(F.lit("review"))
    )
    return n_feats, logit, score, verdict


# --- Gopher/MassiveText heuristic quality filters (Rae et al. 2021,
# "Scaling Language Models: Methods, Analysis & Insights from Training
# Gopher", table A1) — the published rule set real curation stacks run
# before any learned filter.  Bounds are the paper's.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3   # mean word length in [3, 10]
GOPHER_MAX_MEAN_LEN = 10
GOPHER_SYMBOL_RATIO_X10 = 1   # symbol-to-word ratio <= 0.1
GOPHER_ALPHA_SHARE = (4, 5)   # >= 80% of words contain a letter
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2      # doc must contain >= 2 distinct ones


def gopher_quality_flags(t) -> DataFrame:
    """Per-source report of the Gopher heuristic quality rules: how
    many documents fail each rule, how many pass all of them, and the
    keep rate.  Rules (paper bounds, integer-exact comparisons):

    * word count in [50, 100000]
    * mean word length in [3, 10]      (3n <= sum_len <= 10n)
    * symbol-to-word ratio <= 0.1      (10 * (#'#' + #'...') <= n)
    * >= 80% of words contain a letter (5 * n_alpha >= 4 * n)
    * >= 2 distinct stopwords from the paper's 8-word probe set

    The line-granular bullet/ellipsis rules are omitted: the corpus
    is single-line, so they are identically true and would pad the
    report.  (The reference's only quality gating is the event-type
    whitelist + unit domain, transform.go:166–173 — this generalizes
    that idea to corpus curation.)

    Scale: per-document evaluation is 100% map-only — token array
    folds (``F.size``/``F.filter``/``F.aggregate``/
    ``F.array_intersect``), no explode, no per-doc shuffle — followed
    by ONE partial-aggregated shuffle of |sources| rows.  At 100 TB
    this pipelines with the scan; every comparison is integer so the
    flags (and the oracle hash) are engine-exact.
    """
    flagged = gopher_doc_flags(t).drop("doc_id")
    cnt = lambda c: F.sum(F.col(c).cast("long")).alias("n_fail_" + c[2:])
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        cnt("f_words"),
        cnt("f_mean"),
        cnt("f_sym"),
        cnt("f_alpha"),
        cnt("f_stop"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        (F.sum(F.col("keep").cast("long")).cast("double") / F.count("*")).alias(
            "keep_rate"
        ),
    )


def gopher_doc_flags(t) -> DataFrame:
    """Per-document Gopher rule flags — the map-only evaluation stage
    shared by ``gopher_quality_flags`` (per-source aggregate) and
    ``quality_gate_agreement`` (cross-gate calibration)."""
    flags = _gopher_flag_exprs()
    return (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .select(
            "doc_id",
            "source",
            *[expr.alias(name) for name, expr in flags.items()],
        )
    )


def _gopher_flag_exprs() -> dict[str, Column]:
    """The Gopher rule expressions (f_words…f_stop, keep) over a staged
    ``_toks`` token array plus the raw ``text`` column — shared by
    ``gopher_doc_flags`` and ``quality_gate_agreement``'s fused
    single-scan projection."""
    n = F.size("_toks").cast("long")
    sum_len = F.aggregate(
        F.col("_toks"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    n_alpha = F.size(F.filter(F.col("_toks"), lambda x: x.rlike("[A-Za-z]"))).cast(
        "long"
    )
    n_stop = F.size(
        F.array_intersect(
            F.col("_toks"), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    ).cast("long")
    hash_chars = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ellipses = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / 3
    n_sym = (hash_chars + ellipses).cast("long")

    f_words = ~n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    f_mean = (n > 0) & ~sum_len.between(
        GOPHER_MIN_MEAN_LEN * n, GOPHER_MAX_MEAN_LEN * n
    )
    f_sym = n_sym * 10 > n * GOPHER_SYMBOL_RATIO_X10
    lo, hi = GOPHER_ALPHA_SHARE
    f_alpha = n_alpha * hi < n * lo
    f_stop = n_stop < GOPHER_MIN_STOPWORDS
    keep = ~(f_words | f_mean | f_sym | f_alpha | f_stop)
    return {
        "f_words": f_words,
        "f_mean": f_mean,
        "f_sym": f_sym,
        "f_alpha": f_alpha,
        "f_stop": f_stop,
        "keep": keep,
    }


#: CCNet (Wenzek et al. 2020) splits each language's corpus into
#: head/middle/tail perplexity terciles.  Bins quantize avg bigram
#: surprisal to centi-nats so the cutoff search runs over a bounded
#: histogram instead of a per-language global sort.
CCNET_BIN_SCALE = 100


def ccnet_perplexity_buckets(t) -> DataFrame:
    """CCNet-style head/middle/tail assignment: per language, rank
    documents by LM perplexity (here: the corpus's own add-one bigram
    surprisal, ``bigram_surprisal_scores``) and cut the distribution
    into terciles — head = most fluent third, tail = least.

    Tercile semantics are histogram-exact: a document's bucket is
    determined by its quantized surprisal BIN, with cutoff bins
    t1 = min bin with 3*cum >= N and t2 = min bin with 3*cum >= 2N
    (ties at bin granularity share a bucket, so the result is
    deterministic with no doc-order dependence).

    Scale: this is the histogram-quantile pattern — per-(lang, bin)
    counts (ONE partial-agg'd shuffle, |langs|x|bins| rows), a
    cumulative window over that aggregate-sized table, and a
    broadcast join of |langs| cutoff rows back onto the scored docs.
    No per-language global sort: a lang-partitioned ranking window
    would funnel each language's entire corpus (25% of rows here,
    100% single-language at the limit) through single partitions —
    exactly the skew CCNet's own sample-based cutoffs avoid.
    Documents with < 2 tokens have no bigram model score and are
    excluded, as in CCNet.
    """
    # The scored frame feeds BOTH the histogram side and the final
    # probe side.  Column pruning projects each consumer's column set
    # below a shared exchange (histogram keeps (lang, bin), probe keeps
    # doc_id too), so it is not reused; staging runs the bigram model
    # once.
    scored = stage(
        bigram_surprisal_scores(t)
        .join(t["documents"].select("doc_id", "lang"), "doc_id")
        .withColumn(
            "ppl_bin",
            F.floor(F.col("avg_surprisal") * CCNET_BIN_SCALE).cast("long"),
        )
    )
    hist = scored.groupBy("lang", "ppl_bin").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy("ppl_bin")
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "n_lang", F.sum("n").over(Window.partitionBy("lang"))
    )
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n_lang"), F.col("ppl_bin"))).alias(
            "t1"
        ),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n_lang"), F.col("ppl_bin"))
        ).alias("t2"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "ppl_bin",
        F.when(F.col("ppl_bin") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl_bin") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# --- DSIR (Xie et al. 2023, "Data Selection for Language Models via
# Importance Resampling") — per-document importance weights from two
# hashed-bigram unigram models: a TARGET domain model and the RAW
# corpus model.  log w(x) = sum_f c_x(f) * [ln p_target(f) - ln
# p_raw(f)]; documents resembling the target domain score > 0.
DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(t) -> DataFrame:
    """DSIR importance weight per document against an ``lang = 'en'``
    target slice: hashed bigram features (sha2-prefix mod
    ``DSIR_BUCKETS``), add-one-smoothed feature distributions for the
    target slice and the whole corpus, and the per-doc average
    log-likelihood ratio (the resampling logit).

    Beyond-reference curation surface (the reference's only scoring
    is the severity ladder, transform.go:218–262); this is the
    published importance-resampling selector real pretraining stacks
    run ahead of sampling.

    Determinism: the only libm call (ln of a ratio of exact BIGINT
    counts) is floor-quantized to 1e-6 per BUCKET and summed as exact
    int64 weighted by exact counts — partition-order independent, the
    bigram_surprisal_scores contract.

    Scale: feature extraction is the same zip-of-slices bigram
    explode as the surprisal model; the two models are
    ``DSIR_BUCKETS``-row aggregates (map-side combined), joined back
    onto per-doc bucket counts — AQE broadcasts the 4096-row model
    table at any corpus size, so the probe side never shuffles on the
    model key.  Total: one (doc, bucket) shuffle, one bucket-model
    shuffle of 4096 rows, one per-doc agg.
    """
    docs = t["documents"].withColumn("_toks", tokens_col(F.col("text")))
    pairs = docs.select(
        "doc_id",
        F.col("lang"),
        F.explode(bigrams_col(F.col("_toks"))).alias("bigram"),
    )
    bucket = sha_int(F.col("bigram")) % F.lit(DSIR_BUCKETS)
    feats = pairs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
    )
    # the (doc, bucket) count table feeds THREE consumers (raw model,
    # target model, probe)
    doc_counts = stage(
        feats.groupBy("doc_id", "bucket").agg(
            F.count("*").alias("c"),
            # every row of a doc shares one lang; max() keeps it through the agg
            F.max("lang").alias("lang"),
        )
    )
    raw_model = doc_counts.groupBy("bucket").agg(F.sum("c").alias("c_raw"))
    tgt_model = (
        doc_counts.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.sum("c").alias("c_tgt"))
    )
    n_raw = raw_model.agg(F.sum("c_raw").alias("n_raw"))
    n_tgt = tgt_model.agg(F.sum("c_tgt").alias("n_tgt"))
    model = (
        raw_model.join(tgt_model, "bucket", "left")
        .na.fill({"c_tgt": 0})
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
    )
    # ln( p_tgt / p_raw ) with add-one smoothing over DSIR_BUCKETS
    # cells, as ONE ln of an exact-integer ratio, floor-quantized
    ratio = (
        (F.col("c_tgt") + 1).cast("double")
        * (F.col("n_raw") + DSIR_BUCKETS).cast("double")
    ) / (
        (F.col("c_raw") + 1).cast("double")
        * (F.col("n_tgt") + DSIR_BUCKETS).cast("double")
    )
    scored_model = model.select(
        "bucket", F.floor(F.log(ratio) * F.lit(1e6)).cast("long").alias("lr_q")
    )
    probe = doc_counts.join(scored_model, "bucket")
    return probe.groupBy("doc_id").agg(
        F.sum("c").alias("n_feats"),
        (
            F.sum(F.col("c") * F.col("lr_q")).cast("double")
            / (F.lit(1e6) * F.sum("c"))
        ).alias("avg_log_ratio"),
    )


# --- Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
# the top-K vocabulary.  Natural corpora sit near slope -1 (Zipf's
# law); synthetic/templated text flattens toward 0 — a corpus-level
# quality fingerprint.
ZIPF_TOP_K = 100


def zipf_slope_fit(t) -> DataFrame:
    """Corpus Zipf fit: rank tokens by global frequency (tiebreak:
    token asc), take the top ``ZIPF_TOP_K``, and OLS-fit
    ln(freq) ~ ln(rank).  Returns one row: n_points, slope, intercept,
    r2.

    Determinism: ln(rank) and ln(freq) are floor-quantized to 1e-6
    integer units per POINT; the five OLS sums are exact int64 over
    <= K rows (|x_q| <= ~1.2e7, so the worst product sum is ~1.4e16 —
    inside int64), and the slope/intercept/r² divisions happen once in
    double at the end.

    Scale: token counting is the classic map-side-combined word-count
    shuffle; everything after runs on a vocabulary-sized aggregate,
    with the ranking window over the top-K subset only (limit pushes
    into a TakeOrdered, no global sort of the vocabulary).
    """
    counts = (
        t["documents"]
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    topk = counts.orderBy(F.desc("freq"), F.asc("token")).limit(ZIPF_TOP_K)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = topk.withColumn("rank", F.row_number().over(w).cast("long"))
    x_q = F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6)).cast("long")
    y_q = F.floor(F.log(F.col("freq").cast("double")) * F.lit(1e6)).cast("long")
    pts = ranked.select(x_q.alias("xq"), y_q.alias("yq"))
    sums = pts.agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    varx = n * F.col("sxx").cast("double") - sx * sx
    vary = n * F.col("syy").cast("double") - sy * sy
    slope = cov / varx
    return sums.select(
        F.col("n").cast("long").alias("n_points"),
        slope.alias("slope"),
        ((sy - slope * sx) / (n * F.lit(1e6))).alias("intercept"),
        (cov * cov / (varx * vary)).alias("r2"),
    )


# --- BPE seed statistics: corpus-weighted adjacent character-pair
# frequencies (the counts the FIRST byte-pair-encoding merge is chosen
# from, Sennrich et al. 2016).  Real tokenizer training loops this to
# convergence; the first iteration is the Spark-shaped part — the rest
# is a driver loop over a vocabulary-sized table.
BPE_TOP_PAIRS = 20


def bpe_first_merges(t) -> DataFrame:
    """Top ``BPE_TOP_PAIRS`` adjacent character pairs by
    corpus-weighted frequency (rank tiebreak: pair asc) — the
    candidate set for the first BPE merge.

    Pair extraction runs over the WORD TABLE, not the token stream:
    words are counted first (map-side-combined word-count shuffle, the
    token stream never materializes pairs), then each distinct word
    expands to ``length - 1`` two-char substrings weighted by the
    word's corpus count — at trillion-token scale the expensive
    explode is proportional to |vocab|, not corpus size.

    The ranking window runs over the ``limit(BPE_TOP_PAIRS)`` output
    only — a TakeOrderedAndProject (per-partition heaps) bounds the
    window input at 20 rows at ANY corpus size, so its single
    partition is provably tiny, never pair-table-sized
    (tests/test_plans.py::test_topk_windows_are_limit_bounded).
    """
    words = (
        t["documents"]
        .select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("wc").alias("n"))
    topk = counts.orderBy(F.desc("n"), F.asc("pair")).limit(BPE_TOP_PAIRS)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return topk.select(
        "pair", "n", F.row_number().over(w).cast("integer").alias("rank")
    )


def source_divergence_matrix(t) -> DataFrame:
    """Pairwise source-distribution comparison: Jensen-Shannon
    divergence between per-source unigram distributions plus vocabulary
    overlap — the "is source B statistically redundant with source A?"
    readout that drives mixture-weight and per-source-cap decisions
    before committing a 100 TB training mix.

    Distributions are add-one smoothed over the JOINT corpus vocabulary
    (so absent tokens carry probability mass and the divergence is
    finite and symmetric); JSD = Σ p/2·ln(p/m) + q/2·ln(q/m) with
    m = (p+q)/2.  Every ln argument is a ratio of IEEE-double products
    in a FIXED association order (overflow-free to ~1e308 — BIGINT
    products would wrap silently past n_tok ≈ 3e9 per source, far
    below the 100 TB target; double multiply/divide round identically
    in Spark and DuckDB, so cross-engine parity holds), the ln itself
    floor-quantized at 1e-6 (the portable-ln contract), and the
    per-token terms summed as DECIMAL(38,0) (HUGEINT on the oracle
    side) — partition-order exact, valid while
    n_tok · ln(n_tok) · 1e6 < 1e38, i.e. far past any physical corpus.
    Floor-quantizing each ln term biases every contribution ≤1e-6
    downward, so near-identical (but not identical) distributions can
    sum fractionally below zero; the final value is clamped at 0.0 on
    BOTH engines to restore the JSD ≥ 0 property.

    Scale: ONE (source, token) count aggregation (map-side combined),
    collapsed to a vocab-sized per-token source map; the pair grid is
    |vocab| × S²/2 rows with S = #sources (single digits), and the
    tokens absent from BOTH sources of a pair — the bulk of the joint
    vocabulary at scale — contribute through one CLOSED-FORM term per
    pair instead of a row apiece.  Nothing after the first aggregation
    is corpus-sized.
    """
    # the (source, token) count table feeds THREE consumers (per-token
    # source map, per-source totals, joint-vocab count)
    tf = stage(
        t["documents"]
        .select("source", F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    tok_map = tf.groupBy("token").agg(
        F.map_from_entries(F.collect_list(F.struct("source", "n"))).alias("m")
    )
    totals = tf.groupBy("source").agg(
        F.sum("n").alias("n_tok"), F.count("*").alias("v_src")
    )
    vocab = tf.agg(F.count_distinct("token").alias("v"))
    pairs = (
        totals.alias("a")
        .crossJoin(totals.alias("b"))
        .filter(F.col("a.source") < F.col("b.source"))
        .crossJoin(vocab)
        .select(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
            (F.col("a.n_tok") + F.col("v")).alias("den1"),
            (F.col("b.n_tok") + F.col("v")).alias("den2"),
            F.col("a.v_src").alias("v1"),
            F.col("b.v_src").alias("v2"),
            F.col("v"),
        )
    )

    na = F.coalesce(F.element_at("m", F.col("s1")), F.lit(0)).cast("long")
    nb = F.coalesce(F.element_at("m", F.col("s2")), F.lit(0)).cast("long")
    grid = (
        tok_map.crossJoin(F.broadcast(pairs))
        .withColumn("na", na)
        .withColumn("nb", nb)
        .filter((F.col("na") > 0) | (F.col("nb") > 0))
    )
    # p/m and q/m ratios: p = (na+1)/den1, q = (nb+1)/den2,
    # m = (p+q)/2 ⇒ p/m = 2(na+1)·den2 / D with
    # D = (na+1)·den2 + (nb+1)·den1.  The products are O(n_tok²), which
    # exceeds int64 past n_tok ≈ 3e9/source — computed in DOUBLE with a
    # fixed association order ((2·x)·y, x·y + x·y) mirrored verbatim in
    # the oracle SQL, so both engines round identically.
    na1d = (F.col("na") + 1).cast("double")
    nb1d = (F.col("nb") + 1).cast("double")
    den1d = F.col("den1").cast("double")
    den2d = F.col("den2").cast("double")
    big_dd = na1d * den2d + nb1d * den1d
    qln_p = F.floor(F.log(F.lit(2.0) * na1d * den2d / big_dd) * 1e6).cast("long")
    qln_q = F.floor(F.log(F.lit(2.0) * nb1d * den1d / big_dd) * 1e6).cast("long")
    # term products and sums in DECIMAL(38,0): (na+1) ≤ n_tok needs
    # ≤19 digits at any physical scale, |qln| ≤ ln(n_tok)·1e6 needs
    # ≤18, so each product is exact at precision 38 and the sum stays
    # ≤1e38 while n_tok·ln(n_tok)·1e6 < 1e38.  DuckDB's sum(HUGEINT)
    # matches integer-for-integer.
    sp_term = (F.col("na") + 1).cast("decimal(19,0)") * qln_p.cast("decimal(18,0)")
    sq_term = (F.col("nb") + 1).cast("decimal(19,0)") * qln_q.cast("decimal(18,0)")
    agg = grid.groupBy("s1", "s2").agg(
        F.max("den1").alias("den1"),
        F.max("den2").alias("den2"),
        F.max("v1").alias("v1"),
        F.max("v2").alias("v2"),
        F.max("v").alias("v"),
        F.sum(sp_term).alias("sp"),
        F.sum(sq_term).alias("sq"),
        F.count("*").alias("n_union"),
        F.sum(((F.col("na") > 0) & (F.col("nb") > 0)).cast("long")).alias("n_overlap"),
    )
    # tokens in NEITHER source: na = nb = 0 ⇒ one closed-form term,
    # (v - n_union) of them per pair.
    n0 = F.col("v") - F.col("n_union")
    qln_p0 = F.floor(
        F.log((2 * F.col("den2")).cast("double") / (F.col("den1") + F.col("den2")).cast("double")) * 1e6
    ).cast("long")
    qln_q0 = F.floor(
        F.log((2 * F.col("den1")).cast("double") / (F.col("den1") + F.col("den2")).cast("double")) * 1e6
    ).cast("long")
    jsd = (F.col("sp") + (n0 * qln_p0).cast("decimal(38,0)")).cast("double") / (
        F.col("den1").cast("double") * 2e6
    ) + (F.col("sq") + (n0 * qln_q0).cast("decimal(38,0)")).cast("double") / (
        F.col("den2").cast("double") * 2e6
    )
    return agg.select(
        F.col("s1").alias("source_a"),
        F.col("s2").alias("source_b"),
        F.col("v1").alias("vocab_a"),
        F.col("v2").alias("vocab_b"),
        F.col("n_overlap").alias("vocab_overlap"),
        F.col("n_union").alias("vocab_union"),
        (F.col("n_overlap").cast("double") / F.col("n_union")).alias("vocab_jaccard"),
        F.greatest(jsd, F.lit(0.0)).alias("js_divergence_nats"),
    )


def quality_gate_agreement(t) -> DataFrame:
    """Cross-gate calibration: do the three independent published
    quality gates — CCNet perplexity terciles, the Gopher heuristic
    rule suite, and the hashed-feature linear classifier — select the
    same documents?  One row per (perplexity bucket × Gopher keep)
    cell with the cell's population, mean perplexity bin, and the
    linear gate's aggregate score / keep count.

    A cell like (tail, keep=true, high linear score) flags documents
    the perplexity gate would discard but both other gates endorse —
    exactly the disagreement surface a curation owner reviews before
    committing thresholds for a 100 TB run.

    Determinism: every aggregated quantity is an exact integer
    (ppl_bin, logit, n_feats are BIGINT) with the double ratios taken
    once after the sums — partition-order exact.

    Scale: the Gopher and linear-score inputs are map-only per-doc
    projections; the CCNet input is the bigram-surprisal pipeline
    (aggregate-sized model + histogram cutoffs).  The two joins are
    doc-keyed equi-joins feeding ONE final aggregation of ≤ 6 cells.
    """
    cc = ccnet_perplexity_buckets(t).select(
        "doc_id", "ppl_bin", F.col("bucket").alias("ppl_bucket")
    )
    # The Gopher rules and the linear gate are both map-only functions
    # of the SAME staged token array, so they are evaluated in ONE
    # projection over one scan (guide §2.4): the previous form ran two
    # separate scan+tokenize subtrees and paid a doc_id equi-join just
    # to reunite per-doc columns that one projection produces.  The
    # flag/score expressions are the exact ones gopher_doc_flags /
    # quality_linear_score emit (shared helpers), so the joined row
    # set is value-identical.
    keep = _gopher_flag_exprs()["keep"]
    n_feats, logit, _score, verdict = _linear_gate_exprs()
    gq = (
        t["documents"]
        .withColumn("_toks", tokens_col(F.col("text")))
        .withColumn("_feats", F.concat(F.col("_toks"), bigrams_col(F.col("_toks"))))
        .select(
            "doc_id",
            keep.alias("gopher_keep"),
            n_feats.alias("n_feats"),
            logit.alias("logit"),
            verdict.alias("verdict"),
        )
    )
    j = cc.join(gq, "doc_id")
    return j.groupBy("ppl_bucket", "gopher_keep").agg(
        F.count("*").alias("n_docs"),
        (F.sum("ppl_bin").cast("double") / F.count("*")).alias("avg_ppl_bin"),
        F.sum("logit").alias("sum_logit"),
        (F.sum("logit").cast("double") / F.sum("n_feats")).alias("avg_feat_score"),
        F.sum((F.col("verdict") == "keep").cast("long")).alias("n_verdict_keep"),
    )
