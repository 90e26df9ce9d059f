"""Tests for the beyond-reference training-data operators (dedup,
similarity, text analysis) at sf0.001, asserting the semantic
relationships the oracle comparison can't see (e.g. LSH recall vs the
exact method)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from storm_data_etl_service_spark.operators.registry import REGISTRY
from storm_data_etl_service_spark.schemas import load_tables


def run(name, spark, sf_dir):
    return REGISTRY[name].build(spark, sf_dir)


def test_minhash_catches_jaccard_pairs(spark, sf_dir):
    """LSH candidates must contain every true near-dup pair at the
    J≥0.8 threshold (r=3,b=4 ⇒ P(miss|J=0.8) ≈ 0.3% per pair)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in run("dedup_ngram_jaccard", spark, sf_dir).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in run("dedup_minhash_lsh", spark, sf_dir).collect()
    }
    assert exact, "fixture should contain planted near-dup documents"
    missed = exact - cand
    assert len(missed) <= max(1, len(exact) // 20), f"LSH missed {missed}"


def test_simhash_near_dups_have_small_hamming(spark, sf_dir):
    sims = {r["doc_id"]: r["simhash"] for r in run("dedup_simhash", spark, sf_dir).collect()}
    pairs = run("dedup_ngram_jaccard", spark, sf_dir).collect()
    assert pairs

    def hamming(a, b):
        return sum(
            bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b)
        )

    for r in pairs:
        h = hamming(sims[r["doc_a"]], sims[r["doc_b"]])
        assert h <= 12, f"near-dup pair {r} has hamming {h}"


def test_dedup_exact_partitions_docs(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_docs = docs.count()
    groups = run("dedup_exact", spark, sf_dir).collect()
    assert sum(g["n_copies"] for g in groups) == n_docs
    # keeper is always a member of its own group: min(doc_id) semantics
    assert all(g["keep_doc_id"] >= 0 for g in groups)


def test_ann_topk_matches_brute_force(spark, sf_dir):
    """Driver-side numpy recomputation of the top-k for one query."""
    np = pytest.importorskip("numpy")
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != 0
    }
    expected = sorted(sims, key=lambda v: (-sims[v], v))[:10]
    got = (
        run("ann_cosine_topk", spark, sf_dir)
        .filter(F.col("query_id") == 0)
        .orderBy("rk")
        .collect()
    )
    assert [r["vec_id"] for r in got] == expected


def test_lsh_bucket_groups_are_nonempty_strings(spark, sf_dir):
    from storm_data_etl_service_spark.operators.similarity import knn_auto_bits

    rows = run("ann_lsh_buckets", spark, sf_dir).collect()
    # auto-width: the bucket key is exactly knn_auto_bits(n) sign bits
    want = knn_auto_bits(len(rows))
    assert all(
        len(r["bucket"]) == want and set(r["bucket"]) <= {"0", "1"} for r in rows
    )
    # buckets should split the space, not collapse into one
    assert len({r["bucket"] for r in rows}) > 1


def test_text_stats_ranges(spark, sf_dir):
    rows = run("text_stats", spark, sf_dir).collect()
    for r in rows:
        assert r["n_tokens"] >= 0 and r["n_chars"] >= 0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0


def test_lang_id_deterministic_and_total(spark, sf_dir):
    rows = run("text_lang_id", spark, sf_dir).collect()
    assert all(r["lang_pred"] in {"en", "es", "de", "fr", "zh"} for r in rows)


def test_fingerprint_order_sensitivity(spark):
    from storm_data_etl_service_spark.operators.text import text_fingerprint

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in text_fingerprint({"documents": docs}).collect()}
    assert fps[1] == fps[3]  # same content -> same fingerprint
    assert fps[1] != fps[2]  # order matters


def test_registry_complete():
    for name, spec in REGISTRY.items():
        assert callable(spec.build), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 5-node chain (needs multiple rounds),
    a 2-node island, and a self-contained triangle all get the min-id
    label of their component."""
    from storm_data_etl_service_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5),  # chain 1-2-3-4-5
         (10, 11),                         # island
         (20, 21), (21, 22), (20, 22)],    # triangle
        "src long, dst long",
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_raises_without_convergence(spark):
    from storm_data_etl_service_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_rounds=1)


def test_neardup_components_group_lsh_pairs(spark, sf_dir):
    """Every LSH candidate pair must land in the same component, and
    each component must have exactly one canonical doc (its min id)."""
    pairs = run("dedup_minhash_lsh", spark, sf_dir).collect()
    comp = {
        r["doc_id"]: (r["component_id"], r["is_canonical"])
        for r in run("neardup_components", spark, sf_dir).collect()
    }
    assert pairs and comp
    for p in pairs:
        assert comp[p["doc_a"]][0] == comp[p["doc_b"]][0]
    by_comp = {}
    for doc, (cid, canon) in comp.items():
        by_comp.setdefault(cid, []).append((doc, canon))
    for cid, members in by_comp.items():
        canons = [d for d, c in members if c]
        assert canons == [cid] and cid == min(d for d, _ in members)


def test_per_source_cap_sample_invariants(spark, sf_dir):
    rows = run("per_source_cap_sample", spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["sample_rank"])
    for src, ranks in by_src.items():
        assert len(ranks) <= 10 and sorted(ranks) == list(range(1, len(ranks) + 1))
    # deterministic: same result on a re-run
    again = run("per_source_cap_sample", spark, sf_dir).collect()
    assert sorted((r["doc_id"]) for r in rows) == sorted((r["doc_id"]) for r in again)


def test_sequence_pack_contiguous_streams(spark, sf_dir):
    """Within each bucket, offsets must tile the stream with no gaps
    or overlaps, and seq_id must be the offset's 2000-char chunk."""
    rows = run("sequence_pack_assign", spark, sf_dir).collect()
    docs = {
        x["doc_id"]: x["n_chars"]
        for x in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for b, members in by_bucket.items():
        members.sort(key=lambda r: r["stream_offset"])
        pos = 0
        for r in members:
            assert r["stream_offset"] == pos
            assert r["seq_id"] == pos // 2000
            pos += docs[r["doc_id"]]


def test_source_blocklist_drops_whole_sources(spark, sf_dir):
    from storm_data_etl_service_spark.schemas import load_tables

    t = load_tables(spark, sf_dir)
    total = t["documents"].count()
    kept = sum(
        r["n_docs"] for r in run("source_blocklist_filter", spark, sf_dir).collect()
    )
    assert 0 < kept < total


def test_repetition_stats_planted_specimens(spark, sf_dir):
    """Planted extremes: an all-same-token doc scores top share 1.0
    and dup-bigram 1 - 1/n_bigrams (one distinct bigram); an
    all-distinct doc scores TTR 1.0 and dup-bigram 0.0; a
    single-token doc gets the 0.0 fallback."""
    from storm_data_etl_service_spark.operators.text import text_repetition_stats

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "alpha beta gamma delta"), (3, "one")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text_repetition_stats({"documents": docs}).collect()}
    assert got[1]["top_token_share"] == 1.0
    assert got[1]["dup_bigram_frac"] == 1 - 1.0 / 3
    assert got[2]["type_token_ratio"] == 1.0 and got[2]["dup_bigram_frac"] == 0.0
    assert got[3]["n_tokens"] == 1 and got[3]["dup_bigram_frac"] == 0.0


def test_vocab_top_tokens_invariants(spark, sf_dir):
    rows = REGISTRY["vocab_top_tokens"].build(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    freqs = [r["term_freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    assert all(r["doc_freq"] <= r["term_freq"] for r in rows)


def test_tfidf_top_terms_shape(spark, sf_dir):
    df = REGISTRY["tfidf_top_terms"].build(spark, sf_dir)
    per_doc = df.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 3 for r in per_doc)
    bad = df.filter((F.col("rk") < 1) | (F.col("rk") > 3)).count()
    assert bad == 0
    # rarer terms score higher than a same-tf ubiquitous term
    one = df.filter(F.col("rk") == 1).limit(1).collect()[0]
    assert one["tfidf"] > 0


def test_full_outer_reconcile_partitions_keyspace(spark, sf_dir):
    rows = {r["status"]: r for r in REGISTRY["full_outer_reconcile"].build(spark, sf_dir).collect()}
    assert set(rows) == {"match", "mismatch", "left_only", "right_only"}
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    n_union = sum(r["n"] for r in rows.values())
    # union of the two views = keys not divisible by 15
    expect = spark.sql(
        f"SELECT count(*) c FROM parquet.`{sf_dir}/orders.parquet` WHERE o_orderkey % 15 <> 0"
    ).collect()[0]["c"]
    assert n_union == expect
    assert rows["mismatch"]["total_drift"] > 0
    assert rows["match"]["total_drift"] == 0.0


def test_embedding_label_centroids_shape(spark, sf_dir):
    """Registered form is the driver-canonical exploded shape:
    (label, pos, value, n_vectors) scalar rows, one per label×dim,
    consistent with the array-assembling Python API."""
    from storm_data_etl_service_spark.operators import similarity as S

    rows = REGISTRY["embedding_label_centroids"].build(spark, sf_dir).collect()
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    n_labels = emb.select("label").distinct().count()
    dim = len(emb.select("embedding").first()["embedding"])
    assert len(rows) == n_labels * dim
    # every output column is scalar (the driver's pandas canon crashes
    # on list cells — the r5 gate error class)
    assert all(not isinstance(v, (list, dict)) for r in rows for v in r)
    per_label = {}
    for r in rows:
        per_label.setdefault(r["label"], {})[r["pos"]] = r
        assert abs(r["value"]) < 1.0
    t = load_tables(spark, sf_dir, ("embeddings",))
    api = {r["label"]: r for r in S.embedding_label_centroids(t).collect()}
    assert set(per_label) == set(api)
    for label, dims in per_label.items():
        assert sorted(dims) == list(range(dim))
        # exploded values == the array API's centroid, elementwise
        assert [dims[p]["value"] for p in range(dim)] == list(
            api[label]["centroid"]
        )
        assert all(d["n_vectors"] == api[label]["n_vectors"] for d in dims.values())
    assert sum(v["n_vectors"] for v in api.values()) == emb.count()


def test_bm25_ranking_invariants(spark, sf_dir):
    """BM25 top-10: scores strictly positive and non-increasing,
    matched_terms within the query size, and a planted two-term doc
    must outrank a doc matching only one of the same terms."""
    from storm_data_etl_service_spark.operators.text import bm25_doc_ranking

    rows = REGISTRY["bm25_doc_ranking"].build(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["score"] > 0 and 1 <= r["matched_terms"] <= 3 for r in rows)
    # same length, same tf per matched term: more matched terms wins
    docs = spark.createDataFrame(
        [
            (1, "join vector filler filler"),
            (2, "join filler filler filler"),
            (3, "noise words only here"),
        ],
        "doc_id long, text string",
    )
    planted = {
        r["doc_id"]: r for r in bm25_doc_ranking({"documents": docs}).collect()
    }
    assert set(planted) == {1, 2}
    assert planted[1]["score"] > planted[2]["score"]
    assert planted[1]["matched_terms"] == 2


def test_prefix_join_equals_naive_exact_jaccard(spark, sf_dir):
    """Prefix filtering is a pure pruning: the candidate set shrinks
    but the verified output is IDENTICAL to the naive exact join."""
    naive = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in run("dedup_ngram_jaccard", spark, sf_dir).collect()
    }
    pruned = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in run("dedup_jaccard_prefix_join", spark, sf_dir).collect()
    }
    assert naive, "fixture should contain planted near-dup documents"
    assert pruned == naive


def test_prefix_oracle_sql_equals_naive_oracle_sql(sf_dir):
    """The REGISTERED DuckDB oracles for the Jaccard/containment family
    use the same prefix-filter candidate restriction as the Spark plans
    (the naive df² forms are infeasible at sf1.6 density).  The
    restriction must lose nothing: both SQL forms, run in DuckDB on the
    same parquet, must emit identical row sets — the oracle-side twin
    of test_prefix_join_equals_naive_exact_jaccard."""
    import duckdb

    from storm_data_etl_service_spark.operators.registry import (
        _CONTAINMENT_ORACLE,
        _NGRAM_JACCARD_NAIVE_ORACLE,
        _NGRAM_JACCARD_ORACLE,
        _TOKS_CTE,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    naive = sorted(con.execute(_NGRAM_JACCARD_NAIVE_ORACLE).fetchall())
    pruned = sorted(con.execute(_NGRAM_JACCARD_ORACLE).fetchall())
    assert naive, "fixture should contain planted near-dup documents"
    assert pruned == naive

    naive_containment = f"""WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
counts AS (SELECT doc_id, len(shingles) AS ns FROM shf),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b, common, na, nb
  FROM common
  JOIN (SELECT doc_id AS doc_a, ns AS na FROM counts) USING (doc_a)
  JOIN (SELECT doc_id AS doc_b, ns AS nb FROM counts) USING (doc_b)),
directed AS (
  SELECT doc_a AS doc_sub, doc_b AS doc_super,
         CAST(na AS BIGINT) AS n_sub, CAST(nb AS BIGINT) AS n_super,
         CAST(common AS DOUBLE) / na AS containment,
         CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
  FROM pairs
  UNION ALL
  SELECT doc_b, doc_a, CAST(nb AS BIGINT), CAST(na AS BIGINT),
         CAST(common AS DOUBLE) / nb,
         CAST(common AS DOUBLE) / (na + nb - common)
  FROM pairs)
SELECT * FROM directed WHERE containment >= 0.9"""
    naive_c = sorted(con.execute(naive_containment).fetchall())
    pruned_c = sorted(con.execute(_CONTAINMENT_ORACLE).fetchall())
    assert naive_c, "fixture should contain planted containment pairs"
    assert pruned_c == naive_c


def test_fuzzy_oracle_prefix_matches_naive(sf_dir):
    """fuzzy_neardup_distance's REGISTERED oracle derives its candidate
    pairs with the prefix-filtered PPJoin SQL (feasible at sf1.6) and
    takes its Levenshtein prefixes from one joined ``p40`` CTE — its
    full output must equal the naive form (common-shingle df²
    self-join, the measured sf1.6 blocker) with the correlated-subquery
    Levenshtein tail, row for row."""
    import duckdb

    from storm_data_etl_service_spark.operators.registry import (
        REGISTRY,
        _TOKS_CTE,
    )

    naive = f"""WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
counts AS (SELECT doc_id, len(shingles) AS ns FROM shf),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN (SELECT doc_id AS doc_a, ns AS na FROM counts) USING (doc_a)
  JOIN (SELECT doc_id AS doc_b, ns AS nb FROM counts) USING (doc_b)
  WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.8)
SELECT doc_a, doc_b,
  levenshtein(
    (SELECT substr(text, 1, 40) FROM documents d WHERE d.doc_id = doc_a),
    (SELECT substr(text, 1, 40) FROM documents d WHERE d.doc_id = doc_b)
  ) AS prefix_edit_distance
FROM pairs"""

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    naive_rows = sorted(con.execute(naive).fetchall())
    registered_rows = sorted(
        con.execute(REGISTRY["fuzzy_neardup_distance"].oracle).fetchall()
    )
    assert naive_rows, "fixture should contain planted near-dup documents"
    assert registered_rows == naive_rows


def test_prefix_join_prunes_candidate_pairs(spark, sf_dir):
    """The prefix candidate join must generate strictly fewer pairs
    than the all-shingles self-join — the point of the technique
    (common shingles never enter the join) — while still covering
    every true J ≥ 0.8 pair (100% recall, no sketch probability)."""
    from storm_data_etl_service_spark.operators.dedup import (
        _doc_shingles,
        _prefix_candidates,
        _ranked_shingles,
    )

    t = load_tables(spark, sf_dir, ("documents",))
    sh = _doc_shingles(t)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    naive_pairs = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in _prefix_candidates(_ranked_shingles(sh)).collect()
    }
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in run("dedup_ngram_jaccard", spark, sf_dir).collect()
    }
    assert naive_pairs > 0 and true_pairs
    assert true_pairs <= cand, "prefix filter must have exact recall"
    assert len(cand) < naive_pairs, "prefix filter must prune candidates"


def test_eval_decontamination_matches_python_model(spark, sf_dir):
    """Independent driver-side recomputation of the train x eval
    shingle-overlap report, plus the structural invariants: eval docs
    never appear as output rows, and shares are in (0, 1]."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].collect()

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    ev = {r["doc_id"]: shingles(r["text"]) for r in docs if r["doc_id"] % 20 == 0}
    expected = {}
    for r in docs:
        if r["doc_id"] % 20 == 0:
            continue
        sh = shingles(r["text"])
        if not sh:
            continue
        hit = set().union(*(sh & es for es in ev.values())) if ev else set()
        docs_hit = sum(1 for es in ev.values() if sh & es)
        if hit:
            expected[r["doc_id"]] = (len(hit), docs_hit, len(hit) / len(sh))

    out = {
        r["doc_id"]: (r["hit_grams"], r["eval_docs_hit"], r["contaminated_share"])
        for r in run("eval_decontamination", spark, sf_dir).collect()
    }
    assert set(out) == set(expected)
    assert all(d % 20 != 0 for d in out)
    for d, (hg, eh, share) in expected.items():
        assert out[d][:2] == (hg, eh)
        assert 0.0 < out[d][2] <= 1.0
        assert abs(out[d][2] - share) < 1e-12


def test_duplicated_spans_match_source_text(spark, sf_dir):
    """Every reported duplicated 10-token span must actually occur at
    its canonical (first_doc_id, first_pos) in the source text, and
    the full report must equal a driver-side recomputation."""
    docs = {
        r["doc_id"]: r["text"].split()
        for r in load_tables(spark, sf_dir, ("documents",))["documents"].collect()
    }
    from collections import defaultdict

    occ = defaultdict(list)
    for d in sorted(docs):
        toks = docs[d]
        for i in range(len(toks) - 9):
            occ[" ".join(toks[i : i + 10])].append((d, i + 1))
    expected = {
        s: (len({d for d, _ in v}), len(v), *min(v))
        for s, v in occ.items()
        if len({d for d, _ in v}) >= 2
    }
    out = {
        r["span"]: (r["n_docs"], r["n_occurrences"], r["first_doc_id"], r["first_pos"])
        for r in run("duplicated_span_report", spark, sf_dir).collect()
    }
    assert out == expected
    for span, (_, _, d, pos) in out.items():
        assert " ".join(docs[d][pos - 1 : pos + 9]) == span


def test_mixture_weights_upsample_rare_sources(spark, sf_dir):
    """T=0.5 temperature: shares sum to 1, every rare (below-average)
    source gets boost > 1, every common one boost < 1, and ordering by
    n_docs inverts ordering by boost."""
    rows = run("source_mixture_weights", spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r["weight"] > 0 and 0 < r["share"] < 1
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    boosts = [r["boost"] for r in by_n]
    assert all(b1 >= b2 - 1e-12 for b1, b2 in zip(boosts, boosts[1:])), (
        "boost must be non-increasing in source size"
    )
    if by_n[0]["n_docs"] < by_n[-1]["n_docs"]:
        assert by_n[0]["boost"] > 1.0 > by_n[-1]["boost"]


def test_attrition_report_reconciles_with_curation_pipeline(spark, sf_dir):
    """Funnel arithmetic: stage-1 entering = corpus size, each stage's
    entering = previous entering - previous drops, and the retained
    count equals what corpus_curation_pipeline actually keeps."""
    rows = sorted(
        run("curation_attrition_report", spark, sf_dir).collect(),
        key=lambda r: r["stage_no"],
    )
    total_docs = load_tables(spark, sf_dir, ("documents",))["documents"].count()
    assert rows[0]["n_entering"] == total_docs
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_entering"] == prev["n_entering"] - prev["n_docs"]
    retained = [r for r in rows if r["stage"] == "retained"]
    assert len(retained) == 1 and retained[0]["n_docs"] == retained[0]["n_entering"]
    kept = sum(
        r["n_docs"] for r in run("corpus_curation_pipeline", spark, sf_dir).collect()
    )
    assert retained[0]["n_docs"] == kept


def test_registry_md_is_fresh():
    """REGISTRY.md must match what the generator produces from the
    live REGISTRY — guards the doc against silently going stale."""
    from pathlib import Path

    import scripts.dump_registry as dr

    before = Path("REGISTRY.md").read_text()
    dr.main()
    assert Path("REGISTRY.md").read_text() == before, (
        "REGISTRY.md is stale; run scripts/dump_registry.py and commit"
    )


def test_heavy_hitters_exact_vs_naive(spark, sf_dir):
    """MG candidate generation + recount must equal the naive
    full-shuffle groupBy answer exactly, under a partitioning the
    operator didn't choose (the candidate SET is partition-dependent;
    the answer must not be)."""
    from storm_data_etl_service_spark.operators.text import (
        HH_CAPACITY,
        bigrams_col,
        tokens_col,
    )

    t = load_tables(spark, sf_dir)
    got = {
        (r["bigram"], r["term_freq"], r["n_total"])
        for r in run("heavy_hitter_bigrams", spark, sf_dir).collect()
    }
    bigrams = (
        t["documents"]
        .repartition(3)  # different partitioning than the source scan
        .withColumn("_toks", tokens_col(F.col("text")))
        .select(F.explode(bigrams_col(F.col("_toks"))).alias("token"))
    )
    n_total = bigrams.count()
    naive = {
        (r["token"], r["c"], n_total)
        for r in bigrams.groupBy("token")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") * (HH_CAPACITY + 1) > F.lit(n_total))
        .collect()
    }
    assert got == naive
    assert got, "fixture should contain heavy-hitter bigrams"


def test_cluster_representative_is_best_member(spark, sf_dir):
    """Every kept doc must be the longest (doc_id-tiebroken) member
    of its component, and member counts must reconcile."""
    reps = {
        r["component_id"]: r
        for r in run("neardup_cluster_representative", spark, sf_dir).collect()
    }
    comp = run("neardup_components", spark, sf_dir)
    t = load_tables(spark, sf_dir)
    members = comp.join(t["documents"].select("doc_id", "n_chars"), "doc_id").collect()
    by_comp = {}
    for r in members:
        by_comp.setdefault(r["component_id"], []).append((r["n_chars"], r["doc_id"]))
    assert set(reps) == set(by_comp)
    for cid, mem in by_comp.items():
        best = max((nc, -did) for nc, did in mem)
        assert reps[cid]["kept_n_chars"] == best[0]
        assert reps[cid]["kept_doc_id"] == -best[1]
        assert reps[cid]["n_members"] == len(mem)
        assert reps[cid]["total_chars"] == sum(nc for nc, _ in mem)


def test_source_overlap_reconciles_with_pairs(spark, sf_dir):
    """Matrix cells must sum to the total LSH pair count, and every
    cell's sources must be lexicographically ordered."""
    cells = run("neardup_source_overlap", spark, sf_dir).collect()
    n_pairs = run("dedup_minhash_lsh", spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in cells) == n_pairs
    assert all(r["source_a"] <= r["source_b"] for r in cells)


def test_gini_matches_python_model(spark, sf_dir):
    """The UDAF must equal the textbook formula computed driver-side."""
    t = load_tables(spark, sf_dir)
    got = {r["source"]: r["gini_n_chars"] for r in run("gini_by_source", spark, sf_dir).collect()}
    docs = t["documents"].select("source", "n_chars").collect()
    groups = {}
    for r in docs:
        groups.setdefault(r["source"], []).append(r["n_chars"])
    for src, xs in groups.items():
        xs = sorted(xs)
        n, s = len(xs), sum(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        assert got[src] == num / float(n * s)
        assert 0.0 <= got[src] < 1.0


def test_int8_quantization_bounds(spark, sf_dir):
    """Codes must stay in [-127, 127]; reconstruction error must be
    bounded by half a quantization step per dimension."""
    rows = run("embedding_quantize_int8", spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        assert r["scale"] > 0
        # half-step bound: |err| <= scale/254 (+ float slack)
        assert r["mean_abs_err"] <= r["scale"] / 254 + 1e-9


def test_semdedup_evidence_is_true_neardup_subset(spark, sf_dir):
    """Every drop decision must cite a genuine above-threshold pair
    (within-cell pruning can only LOSE pairs, never invent them), all
    vectors must appear exactly once, and dropped vectors must cite a
    lower-id keeper."""
    rows = run("semdedup", spark, sf_dir).collect()
    n_vecs = load_tables(spark, sf_dir)["embeddings"].count()
    assert len(rows) == n_vecs
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in run("embedding_near_dup", spark, sf_dir).collect()
    }
    dropped = [r for r in rows if not r["kept"]]
    for r in dropped:
        assert r["dup_of"] < r["vec_id"]
        assert (r["dup_of"], r["vec_id"]) in exact


def test_cell_pairs_kernel_bitwise_matches_column_cosine(spark):
    """The blocked Arrow pair kernel must produce BIT-IDENTICAL cosines
    to the Column-expression fold (`cosine` = F.aggregate zip_with fold
    with acc0=0.0) — the contract that keeps semdedup oracle-hashable —
    including when the cell spans multiple blocks, and must emit
    exactly the upper-triangle pairs above threshold."""
    import numpy as np
    import pandas as pd

    from storm_data_etl_service_spark.operators import similarity as S

    rng = np.random.default_rng(11)
    m, d = 37, 16
    vecs = rng.uniform(-1, 1, size=(m, d)).round(4)
    # shuffled ids to exercise the kernel's id sort
    ids = rng.permutation(np.arange(100, 100 + m)).astype(np.int64)
    pdf = pd.DataFrame(
        {"cid": 3, "vec_id": ids, "v": [row.tolist() for row in vecs]}
    )
    thr = 0.2
    # reference: Column-expression cosine over all id_a < id_b pairs
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, v array<double>",
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    ref = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", S.cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= thr)
        .collect()
    }
    for block in (4, 8, 1024):  # force multi-block and single-block paths
        out = S._cell_pairs_kernel(threshold=thr, block=block)(pdf)
        got = {
            (r.id_a, r.id_b): r.cos for r in out.itertuples(index=False)
        }
        assert set(got) == set(ref), f"pair set mismatch at block={block}"
        for k in ref:
            # bitwise equality, not approx — the oracle hash demands it
            assert got[k] == ref[k] and np.float64(got[k]).tobytes() == np.float64(ref[k]).tobytes(), (
                k, got[k], ref[k], block)
        assert all(ia < ib for ia, ib in got)


def _bucket_pdf(m_members, n_probers, d=8, seed=5):
    """A single-bucket kernel input: m members + n probers (prober ids
    overlap member ids so the self-exclusion path is exercised)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    mids = np.arange(m_members, dtype=np.int64)
    pids = np.arange(0, n_probers, dtype=np.int64)
    mv = rng.uniform(-1, 1, size=(m_members, d)).round(4)
    pv = mv[:n_probers]  # probers are the first members (self-probe)
    return pd.concat(
        [
            pd.DataFrame(
                {
                    "vec_id": mids,
                    "v": [r.tolist() for r in mv],
                    "is_member": True,
                    "is_prober": False,
                }
            ),
            pd.DataFrame(
                {
                    "vec_id": pids,
                    "v": [r.tolist() for r in pv],
                    "is_member": False,
                    "is_prober": True,
                }
            ),
        ],
        ignore_index=True,
    )


def test_bucket_topk_kernel_blocked_axes_match_unblocked(spark):
    """Member-axis blocking must not change output: the per-member-block
    top-k partials merge into the global per-prober top-k exactly (total
    order cos desc, id asc), and cosines stay bit-identical to the
    Column-expression fold across every block size."""
    import numpy as np

    from storm_data_etl_service_spark.operators import similarity as S

    pdf = _bucket_pdf(m_members=53, n_probers=17)
    ref = S._bucket_topk_kernel(k=5, block=4096)(pdf)
    ref_rows = sorted(map(tuple, ref.to_numpy().tolist()))
    for block in (4, 7, 16):  # member AND prober axes multi-block
        out = S._bucket_topk_kernel(k=5, block=block)(pdf)
        got = sorted(map(tuple, out.to_numpy().tolist()))
        assert got == ref_rows, f"blocked output diverged at block={block}"
        # bitwise: merging partials must not re-do any arithmetic
        for (_, _, ca), (_, _, cb) in zip(got, ref_rows):
            assert np.float64(ca).tobytes() == np.float64(cb).tobytes()


_PAIR_KERNELS = {
    "cell_pairs": lambda S, B: S._cell_pairs_kernel(threshold=0.2, block=B),
    "bucket_topk": lambda S, B: S._bucket_topk_kernel(k=5, block=B),
    "matryoshka": lambda S, B: S._matryoshka_bucket_kernel(dims=(2, 4, 8), block=B),
}


@pytest.mark.parametrize("kernel", sorted(_PAIR_KERNELS))
def test_pair_kernel_working_set_stays_in_block_budget(kernel):
    """A pathological single cell or bucket far larger than the block
    must not allocate any pair matrix beyond block² — the OOM guard for
    degenerate k-means cells and LSH buckets (every 2-D allocation the
    kernel makes is recorded and checked against B²)."""
    from unittest.mock import patch

    import numpy as np
    import pandas as pd

    from storm_data_etl_service_spark.operators import similarity as S

    B = 8
    if kernel == "bucket_topk":
        pdf = _bucket_pdf(m_members=200, n_probers=64)
    else:  # a planted degenerate cell / bucket: every vector in one group
        rng = np.random.default_rng(9)
        pdf = pd.DataFrame(
            {
                "cid": 0,
                "vec_id": np.arange(150, dtype=np.int64),
                "v": [r.tolist() for r in rng.uniform(-1, 1, size=(150, 8)).round(4)],
            }
        )
    shapes = []
    real_zeros = np.zeros

    def recording_zeros(shape, *a, **kw):
        if isinstance(shape, tuple) and len(shape) == 2:
            shapes.append(shape)
        return real_zeros(shape, *a, **kw)

    with patch("numpy.zeros", side_effect=recording_zeros):
        out = _PAIR_KERNELS[kernel](S, B)(pdf)
    assert len(out), "kernel produced no output?"
    assert shapes, "kernel allocated no pair matrices?"
    worst = max(r * c for r, c in shapes)
    assert worst <= B * B, f"pair matrix {worst} exceeds block budget {B * B}"


def test_kernels_reject_zero_norm_embeddings():
    """Zero-norm vectors make cosine undefined; the ANSI Column twin
    raises DIVIDE_BY_ZERO and the DuckDB oracle NULL-drops, so a silent
    numpy NaN would diverge from both — the kernels must fail loudly,
    naming the offending vec_id, once such a vector enters a computed
    pair.  A zero vector alone in its cell or bucket, or probing only
    itself, has no pair: like both twins, the kernel returns nothing
    and does not raise."""
    import numpy as np
    import pandas as pd
    import pytest

    from storm_data_etl_service_spark.operators import similarity as S

    pdf = _bucket_pdf(m_members=6, n_probers=3)
    pdf.at[2, "v"] = [0.0] * 8  # member vec_id=2 has zero norm
    with pytest.raises(ValueError, match="zero-norm.*vec_id=\\[2\\]"):
        S._bucket_topk_kernel(k=5, block=16)(pdf)

    cell = pd.DataFrame(
        {
            "cid": 0,
            "vec_id": np.arange(4, dtype=np.int64),
            "v": [[1.0, 2.0], [0.0, 0.0], [3.0, 1.0], [2.0, 2.0]],
        }
    )
    with pytest.raises(ValueError, match="zero-norm.*vec_id=\\[1\\]"):
        S._cell_pairs_kernel(threshold=0.2, block=16)(cell)

    # the 8-dim prefix of vec_id=1 is zero, its full norm is not
    prefix_zero = pd.DataFrame(
        {"vec_id": np.arange(3, dtype=np.int64), "v": list(np.ones((3, 64)))}
    )
    prefix_zero.at[1, "v"] = np.r_[np.zeros(8), np.ones(56)]
    with pytest.raises(ValueError, match="zero-norm.*vec_id=\\[1\\]"):
        S._matryoshka_bucket_kernel()(prefix_zero)

    zero = pd.DataFrame({"cid": 0, "vec_id": np.array([7], dtype=np.int64), "v": [np.zeros(64)]})
    self_only = pd.DataFrame(
        {
            "vec_id": np.array([7, 7], dtype=np.int64),
            "v": [np.zeros(64)] * 2,
            "is_member": [True, False],
            "is_prober": [False, True],
        }
    )
    for out in (
        S._cell_pairs_kernel(threshold=-1.0, block=16)(zero),  # singleton cell
        S._bucket_topk_kernel(k=5, block=16)(self_only),  # probes only itself
        S._matryoshka_bucket_kernel()(zero),  # singleton bucket
    ):
        assert out.empty, out


def test_semdedup_auto_k_scales_near_linearly(spark):
    """The K ∝ n knob must turn SemDeDup's quadratic pair work into
    near-linear: measured as the DETERMINISTIC candidate-pair count
    Σ n_c·(n_c−1)/2 over the k-means cells (wall time swings 2–3× on
    this host, pair work doesn't).  At 4× the vectors, fixed-K work
    must grow clearly super-linearly while auto-K work stays within
    ~2× of the linear ratio."""
    import numpy as np

    from storm_data_etl_service_spark.operators.similarity import (
        KMEANS_K,
        _assign_cells,
        kmeans_centroids,
        semdedup_auto_k,
    )

    rng = np.random.default_rng(7)

    def pair_work(n, k):
        vecs = rng.uniform(-1, 1, size=(n, 4)).round(3)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, v array<double>",
        )
        cells = _assign_cells(emb, kmeans_centroids(emb, k=k))
        sizes = [r["c"] for r in cells.groupBy("cid").agg(F.count("*").alias("c")).collect()]
        return sum(c * (c - 1) // 2 for c in sizes)

    n1, n2 = 1000, 4000
    target = 125  # small target so auto-K actually moves at test sizes
    k1, k2 = semdedup_auto_k(n1, target), semdedup_auto_k(n2, target)
    assert k2 == 4 * k1, "auto-K must scale with n"
    w_fixed = pair_work(n2, KMEANS_K) / pair_work(n1, KMEANS_K)
    w_auto = pair_work(n2, k2) / pair_work(n1, k1)
    assert w_fixed > 8, f"fixed-K work ratio {w_fixed:.1f} should be ~quadratic (16)"
    assert w_auto < 8, f"auto-K work ratio {w_auto:.1f} should be near-linear (~4)"


def test_langid_confusion_reconciles(spark, sf_dir):
    """Confusion cells must partition the corpus and beat the
    majority-class baseline (the report MEASURES heuristic quality —
    the fixture's stopword density varies by sf, so no high-accuracy
    assumption)."""
    t = load_tables(spark, sf_dir)
    cells = run("langid_confusion_report", spark, sf_dir).collect()
    n = t["documents"].count()
    assert sum(r["n_docs"] for r in cells) == n
    diag = sum(r["n_docs"] for r in cells if r["lang"] == r["lang_pred"])
    majority = (
        t["documents"].groupBy("lang").count().agg(F.max("count")).first()[0]
    )
    assert diag >= min(majority, 0.25 * n)


def test_media_manifest_reconciles(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    rows = run("media_manifest_report", spark, sf_dir).collect()
    assert {r["kind"] for r in rows} == {"image", "audio", "video"}
    assert sum(r["n_items"] for r in rows) == t["documents"].count()
    for r in rows:
        assert 0 < r["min_bytes"] <= r["max_bytes"]
        assert r["n_distinct_contents"] <= r["n_items"]


def test_incremental_minhash_equals_full_restricted(spark, sf_dir):
    """Batch-vs-index matching must equal the full pair scan
    restricted to pairs whose higher id is in the new batch — the
    invariant that makes nightly incremental dedup SAFE to trust."""
    from storm_data_etl_service_spark.operators.dedup import INCREMENTAL_SPLIT

    t = load_tables(spark, sf_dir)
    t0 = int(
        (t["documents"].agg(F.max("doc_id")).first()[0] + 1) * INCREMENTAL_SPLIT
    )
    full = {
        (r["doc_b"], r["doc_a"])
        for r in run("dedup_minhash_lsh", spark, sf_dir).collect()
        if r["doc_b"] >= t0
    }
    inc = {
        (r["doc_id"], r["matched_doc_id"])
        for r in run("dedup_incremental_minhash", spark, sf_dir).collect()
    }
    assert inc == full
    assert all(m < d for d, m in inc)


def test_bigram_surprisal_flags_shuffled_text(spark, sf_dir):
    """A document with corpus-unseen transitions must score strictly
    higher average surprisal than the template it shuffles."""
    from storm_data_etl_service_spark.operators.text import (
        bigram_surprisal_scores,
    )

    common = "the cat sat on the mat"
    docs = [(i, common) for i in range(10)] + [(99, "mat the on sat cat zebra")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r["avg_surprisal"]
        for r in bigram_surprisal_scores({"documents": df}).collect()
    }
    assert out[99] > out[0] > 0
    # corpus-scale run: every doc scored, scores positive
    rows = run("bigram_surprisal_scores", spark, sf_dir).collect()
    t = load_tables(spark, sf_dir)
    multi = t["documents"].filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    assert len(rows) == multi.count()
    assert all(r["avg_surprisal"] > 0 for r in rows)


def test_recursive_cte_components_match_iterative(spark, sf_dir):
    """The RECURSIVE CTE twin must reproduce the iterative min-label
    loop exactly (same clusters, same canonicals)."""
    a = {
        (r["doc_id"], r["component_id"], r["is_canonical"])
        for r in run("neardup_components", spark, sf_dir).collect()
    }
    b = {
        (r["doc_id"], r["component_id"], r["is_canonical"])
        for r in run("neardup_components_sql", spark, sf_dir).collect()
    }
    assert a == b and a
    # the temporarily-raised runaway-recursion guard must not leak to
    # the shared session after the query materializes
    assert (
        spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000")
        != "50000000"
    )


def test_recursive_cte_components_provably_converged(spark, sf_dir):
    """The bounded SQL recursion must reach its (node, label)
    fixpoint BELOW the cap: no pair first-discovered at the cap depth
    means every pair's successors were expanded, so the bounded
    result is exact (not just fixture-coincidentally equal).  Guards
    the unbounded-oracle / bounded-Spark divergence a chain-shaped
    cluster would cause at larger scale factors."""
    from storm_data_etl_service_spark.operators.graph import (
        SQL_CC_MAX_DEPTH,
        sql_cc_depth_headroom,
    )
    from storm_data_etl_service_spark.schemas import load_tables

    used = sql_cc_depth_headroom(spark, load_tables(spark, sf_dir))
    assert used is not None and used < SQL_CC_MAX_DEPTH, (
        f"fixpoint not reached below the cap ({used} >= "
        f"{SQL_CC_MAX_DEPTH}): labels may be truncated — raise "
        "SQL_CC_MAX_DEPTH"
    )


def test_doc_chunks_cover_and_overlap(spark, sf_dir):
    """Chunk windows must start at stride multiples, cover every
    token (last chunk reaches the end), and reconstruct the doc
    when de-overlapped."""
    from storm_data_etl_service_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    rows = run("doc_chunk_windows", spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"].split()
        for r in load_tables(spark, sf_dir)["documents"].collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, toks in docs.items():
        if not toks:
            assert doc_id not in by_doc
            continue
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert chunks[0]["start_token"] == 0
        for i, c in enumerate(chunks):
            assert c["start_token"] == i * CHUNK_STRIDE
            piece = toks[c["start_token"]: c["start_token"] + CHUNK_TOKENS]
            assert c["chunk_text"] == " ".join(piece)
        last = chunks[-1]
        assert last["start_token"] + last["n_chunk_tokens"] >= len(toks)


def test_join_size_estimate_is_exact(spark, sf_dir):
    """The count-table prediction must equal the materialized join's
    actual row count."""
    t = load_tables(spark, sf_dir)
    est = run("join_size_estimate", spark, sf_dir).first()
    actual = t["orders"].join(
        t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"]
    ).count()
    assert est["est_join_rows"] == actual
    assert est["max_key_fanout"] <= actual


def test_geo_neighbor_search_equals_naive_scan(spark, sf_dir):
    """The 3x3 cell-probe join must find exactly the pairs the naive
    all-pairs scan finds (radius < cell size => no misses)."""
    from storm_data_etl_service_spark.operators.relational import (
        GEO_N_SITES,
        GEO_RADIUS_DEG,
        _event_points,
        geo_neighbor_search,
    )

    t = load_tables(spark, sf_dir)
    pts = _event_points(t)
    sites = pts.filter(F.col("event_id") < GEO_N_SITES).select(
        F.col("event_id").alias("site_id"),
        F.col("lat").alias("slat"),
        F.col("lon").alias("slon"),
    )
    d2 = (F.col("lat") - F.col("slat")) * (F.col("lat") - F.col("slat")) + (
        F.col("lon") - F.col("slon")
    ) * (F.col("lon") - F.col("slon"))
    naive = {
        (r["site_id"], r["point_id"])
        for r in sites.crossJoin(pts)
        .filter(F.col("event_id") != F.col("site_id"))
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(GEO_RADIUS_DEG * GEO_RADIUS_DEG))
        .select("site_id", F.col("event_id").alias("point_id"))
        .collect()
    }
    fast = {
        (r["site_id"], r["point_id"])
        for r in geo_neighbor_search(t).collect()
    }
    assert fast == naive and fast


def test_normalized_dedup_collapses_planted_variants(spark, sf_dir):
    """Case/whitespace variants of one text must land in one group
    with the min-id keeper; distinct texts must not merge."""
    from storm_data_etl_service_spark.operators.dedup import (
        dedup_exact_normalized,
    )

    docs = spark.createDataFrame(
        [
            (1, "The  quick brown fox"),
            (2, "the quick  BROWN fox  "),
            (3, "\tThe quick brown fox"),
            (4, "a different document"),
        ],
        "doc_id long, text string",
    )
    groups = dedup_exact_normalized({"documents": docs}).collect()
    assert len(groups) == 2
    big = next(g for g in groups if g["n_copies"] == 3)
    assert big["keep_doc_id"] == 1 and big["n_raw_variants"] == 3
    # corpus run: groups partition the corpus
    t = load_tables(spark, sf_dir)
    total = sum(
        g["n_copies"]
        for g in run("dedup_exact_normalized", spark, sf_dir).collect()
    )
    assert total == t["documents"].count()


def test_label_separability_sanity(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    rows = run("label_separability_report", spark, sf_dir).collect()
    labels = {
        r["label"] for r in t["embeddings"].select("label").distinct().collect()
    }
    assert {r["label"] for r in rows} == labels
    for r in rows:
        assert r["nearest_other_label"] != r["label"]
        assert r["intra_mean_d2"] > 0 and r["inter_min_d2"] > 0
        assert r["separability"] > 0
    assert sum(r["n_vectors"] for r in rows) == t["embeddings"].count()


def test_dedup_ladder_counts_reconcile(spark, sf_dir):
    """Ladder counts must equal the underlying operators' flagged-doc
    sets, and LSH (rung 3) must cover ~all of exact Jaccard (rung 2).
    Rung 2 is computed by the PPJoin prefix filter but must equal the
    all-pairs definition exactly; rung 4 must equal semdedup_pairs'
    endpoint set."""
    rows = {r["rung"]: r["n_docs_flagged"]
            for r in run("dedup_ladder_report", spark, sf_dir).collect()}
    assert set(rows) == {"1_exact_normalized", "2_ngram_jaccard",
                         "3_minhash_lsh", "4_semdedup_cosine"}
    jac = run("dedup_ngram_jaccard", spark, sf_dir).collect()
    jac_docs = {r["doc_a"] for r in jac} | {r["doc_b"] for r in jac}
    assert rows["2_ngram_jaccard"] == len(jac_docs)
    assert rows["3_minhash_lsh"] >= rows["2_ngram_jaccard"] - 1
    sem = run("semdedup_pairs", spark, sf_dir).collect()
    sem_docs = {r["id_a"] for r in sem} | {r["id_b"] for r in sem}
    assert rows["4_semdedup_cosine"] == len(sem_docs)


def test_polymorphic_udtf_schema_follows_argument(spark, sf_dir):
    """The analyze() UDTF must emit exactly the argument-named columns
    with the split values, for two different schemas."""
    from storm_data_etl_service_spark.operators.text import csv_fields_udtf

    t = load_tables(spark, sf_dir)
    out = csv_fields_udtf(spark, t, ("id_str", "lang", "source"))
    assert out.columns == ["doc_id", "id_str", "lang", "source"]
    row = out.filter(F.col("doc_id") == 3).first()
    doc = t["documents"].filter(F.col("doc_id") == 3).first()
    assert row["id_str"] == "3" and row["lang"] == doc["lang"]
    assert row["source"] == doc["source"]

    two = csv_fields_udtf(spark, t, ("a", "b"))
    assert two.columns == ["doc_id", "a", "b"]
    assert two.count() == t["documents"].count()


def test_source_entropy_flags_templated_source(spark, sf_dir):
    """A planted one-phrase source must score far lower diversity
    than a varied source; entropy must respect the ln(vocab) ceiling."""
    from storm_data_etl_service_spark.operators.text import (
        source_token_entropy,
    )

    # skewed token distribution (one token dominates) = low entropy;
    # NB uniform repetition would be MAXIMAL entropy, not low
    docs = spark.createDataFrame(
        [(i, "offer " * 30 + "buy now sale", "spam") for i in range(3)]
        + [
            (10, "the quick brown fox jumps", "varied"),
            (11, "over lazy dogs and cats daily", "varied"),
            (12, "seven distinct words appear here too", "varied"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_token_entropy({"documents": docs}).collect()}
    assert out["spam"]["diversity_ratio"] < out["varied"]["diversity_ratio"]
    for r in out.values():
        # +2e-6 slack: per-term ln quantization can nudge past the ceiling
        assert 0 <= r["entropy_nats"] <= r["entropy_ceiling_nats"] + 2e-6
    # corpus run sanity
    rows = run("source_token_entropy", spark, sf_dir).collect()
    assert all(0 < r["diversity_ratio"] <= 1.0 + 1e-5 for r in rows)


def test_source_entropy_degenerate_single_token_vocab(spark):
    """vocab_size == 1 → ln(1) = 0 ceiling: diversity_ratio must be
    NULL (identically on both engines), never inf/NaN or a crash."""
    from storm_data_etl_service_spark.operators.text import (
        source_token_entropy,
    )

    docs = spark.createDataFrame(
        [(1, "echo echo echo echo", "degenerate"),
         (2, "some normal words here", "healthy")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_token_entropy({"documents": docs}).collect()}
    assert out["degenerate"]["vocab_size"] == 1
    assert out["degenerate"]["diversity_ratio"] is None
    assert out["healthy"]["diversity_ratio"] is not None


def test_vocab_growth_is_monotone_and_reconciles(spark, sf_dir):
    """Cumulative vocab/docs/tokens must be non-decreasing; the last
    decile must equal the corpus totals."""
    t = load_tables(spark, sf_dir)
    rows = sorted(
        run("vocab_growth_curve", spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a["cum_vocab"] <= b["cum_vocab"]
        assert a["cum_docs"] < b["cum_docs"]
        assert a["cum_tokens"] <= b["cum_tokens"]
    last = rows[-1]
    total_vocab = (
        t["documents"]
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("tok")
        .distinct()
        .count()
    )
    assert last["cum_vocab"] == total_vocab
    assert last["cum_docs"] == t["documents"].count()


def test_pii_incidence_counts_planted_specimens(spark, sf_dir):
    """Incidence must equal the planting rule: every third doc an
    email, every fifth a phone."""
    t = load_tables(spark, sf_dir)
    rows = run("pii_incidence_report", spark, sf_dir).collect()
    docs = t["documents"].select("doc_id", "source").collect()
    by_src = {}
    for d in docs:
        e, p = d["doc_id"] % 3 == 0, d["doc_id"] % 5 == 0
        cur = by_src.setdefault(d["source"], [0, 0, 0])
        cur[0] += 1
        cur[1] += int(e)
        cur[2] += int(p)
    for r in rows:
        n, ne, np_ = by_src[r["source"]]
        assert r["n_docs"] == n
        assert r["docs_with_email"] == ne == r["email_hits"]
        assert r["docs_with_phone"] == np_ == r["phone_hits"]


def test_tokenizer_fertility_bounds(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    rows = run("tokenizer_fertility_by_lang", spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == t["documents"].count()
    for r in rows:
        assert r["chars_per_token"] > 1.0  # tokens are multi-char
        assert r["tokens_per_word"] >= 1.0  # BPE splits, never merges words


def test_containment_catches_planted_subset(spark):
    """A short doc embedded verbatim in a longer one must surface as a
    directed containment pair with containment 1.0 even though its
    Jaccard is far below the 0.8 near-dup gate — the rung of the
    ladder this operator adds."""
    from storm_data_etl_service_spark.operators.dedup import dedup_containment

    sub = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, sub, "en", "s1", len(sub)),
            (2, sub + " " + filler, "en", "s1", len(sub) + 1 + len(filler)),
            (3, filler.replace("word", "other"), "en", "s2", len(filler)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        (r["doc_sub"], r["doc_super"]): r
        for r in dedup_containment({"documents": docs}).collect()
    }
    assert (1, 2) in rows
    got = rows[(1, 2)]
    assert got["containment"] == 1.0
    assert got["jaccard"] < 0.8  # symmetric gate would have missed it
    assert (2, 1) not in rows  # direction matters: the superset is not contained
    assert (1, 3) not in rows and (3, 1) not in rows


def test_containment_direction_and_bounds(spark, sf_dir):
    """On the real fixture: containment is within (0, 1], never an
    undercount of Jaccard (C(a→b) >= J(a,b) always), and every emitted
    row's sub/super sizes are consistent with its scores."""
    rows = run("dedup_containment", spark, sf_dir).collect()
    assert rows, "fixture should contain planted near-dup documents"
    for r in rows:
        assert 0.9 <= r["containment"] <= 1.0
        assert r["containment"] >= r["jaccard"] - 1e-12
        # |sub ∩ super| = containment * n_sub must be <= n_super
        assert r["containment"] * r["n_sub"] <= r["n_super"] + 1e-9


def test_cms_estimates_bound_exact_counts(spark, sf_dir):
    """CMS guarantees, checked on real data: the sketch never
    undercounts, and overcounts stay within the 3·N/width bound the
    operator reports (deterministic — no randomized hash seeds)."""
    rows = run("cms_token_frequencies", spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_estimate"] >= r["exact_n"], r
        assert r["no_undercount"] is True
        assert r["within_eps_bound"] is True, (
            "pathological collision mass — widen CMS_WIDTH",
            r,
        )


def test_cms_sketch_cells_merge_by_sum(spark):
    """The property that makes CMS the 100 TB path: sketches built on
    disjoint halves of a corpus, merged cell-wise by SUM, equal the
    sketch of the whole corpus — so per-day/per-source sketches roll
    up without re-reading raw data.  Verified against the operator's
    own hash geometry on a synthetic corpus."""
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.operators.text import (
        CMS_DEPTH,
        CMS_WIDTH,
        tokens_col,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} shared") for i in range(40)],
        "doc_id long, text string",
    )

    def sketch_cells(df):
        toks = df.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        tf = toks.groupBy("token").agg(F.count("*").alias("n"))
        cells = tf.select(
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            (
                                F.conv(
                                    F.substring(
                                        F.sha2(
                                            F.concat(
                                                F.lit(f"cms{r}|"), F.col("token")
                                            ),
                                            256,
                                        ),
                                        1,
                                        8,
                                    ),
                                    16,
                                    10,
                                ).cast("long")
                                % CMS_WIDTH
                            ).alias("c"),
                        )
                        for r in range(CMS_DEPTH)
                    ]
                )
            ).alias("cell"),
        ).select(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"), "n")
        return {
            (row["r"], row["c"]): row["cell_n"]
            for row in cells.groupBy("r", "c")
            .agg(F.sum("n").alias("cell_n"))
            .collect()
        }

    whole = sketch_cells(docs)
    lo = sketch_cells(docs.filter(F.col("doc_id") < 20))
    hi = sketch_cells(docs.filter(F.col("doc_id") >= 20))
    merged = {}
    for part in (lo, hi):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_bloom_dedup_planted_verdicts(spark):
    """Planted batch: doc 8 repeats existing content (-> dup), doc 9
    is fresh (-> new, unless a k-bit collision fires, which the
    verdict taxonomy would surface as false_positive); the Bloom
    invariant exact_hit => bloom_hit must hold for every row."""
    from storm_data_etl_service_spark.operators.dedup import bloom_dedup_report

    rows = [(i, f"unique body {i}") for i in range(8)]  # ids 0..7 = corpus
    rows += [(8, "unique body 3"), (9, "never seen before")]  # the batch
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bloom_dedup_report({"documents": docs}).collect()}
    assert set(out) == {8, 9}  # split at floor(10 * 0.8)
    assert out[8]["verdict"] == "dup" and out[8]["bloom_hit"] and out[8]["exact_hit"]
    assert not out[9]["exact_hit"] and out[9]["verdict"] in ("new", "false_positive")
    assert all(r["no_false_negative"] for r in out.values())


def test_bloom_index_is_mergeable(spark):
    """The (bit) relation form must merge by plain distinct-union:
    index(A) ∪ index(B) == index(A ∪ B)."""
    from storm_data_etl_service_spark.operators.dedup import (
        bloom_bit_positions,
    )

    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(6)], "doc_id long, text string"
    )
    hashed = docs.select(F.sha2(F.col("text"), 256).alias("h"))
    bits = lambda df: {
        r["bit"]
        for r in df.select(
            F.explode(bloom_bit_positions(F.col("h"))).alias("bit")
        ).collect()
    }
    lo = bits(hashed.filter(F.col("h") < "8"))
    hi = bits(hashed.filter(F.col("h") >= "8"))
    assert lo | hi == bits(hashed)


def test_quality_linear_score_python_model(spark):
    """The Spark logit must equal an independent Python re-derivation
    of the hashed-feature model (unigrams + bigrams, sha256 bucket ->
    sha256 weight), and the empty document must score 0/review."""
    import hashlib

    from storm_data_etl_service_spark.operators.text import (
        QUALITY_BUCKETS,
        QUALITY_WEIGHT_SPAN,
        quality_linear_score,
    )

    def w(feat: str) -> int:
        b = int(hashlib.sha256(f"qf|{feat}".encode()).hexdigest()[:8], 16) % QUALITY_BUCKETS
        h = int(hashlib.sha256(f"qw|{b}".encode()).hexdigest()[:8], 16)
        return h % QUALITY_WEIGHT_SPAN - QUALITY_WEIGHT_SPAN // 2

    texts = {1: "the quick brown fox", 2: "one", 3: ""}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_linear_score({"documents": docs}).collect()}
    for doc_id, text in texts.items():
        toks = text.split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        assert out[doc_id]["n_feats"] == len(feats)
        assert out[doc_id]["logit"] == sum(w(f) for f in feats), doc_id
    assert out[3]["quality_score"] == 0.0 and out[3]["verdict"] == "review"


def test_mixture_sample_preserves_expected_corpus_size(spark, sf_dir):
    """Sum of boosts over all docs is exactly N (each source
    contributes n_s * boost_s = share_s * N), so the realized copy
    total must sit within a few stochastic-rounding standard
    deviations of N; up-sampled sources must never drop a doc."""
    out = run("mixture_sample_assign", spark, sf_dir).collect()
    n = len(out)
    total = sum(r["n_copies"] for r in out)
    assert abs(total - n) < 4 * (n**0.5) + 1
    for r in out:
        if r["boost"] >= 1.0:
            assert r["n_copies"] >= 1, r


def test_embedding_exact_dedup_planted_duplicate(spark):
    """Two byte-identical vectors collapse to one group (min-id
    keeper); a vector differing well beyond half a code unit stays
    its own group."""
    from storm_data_etl_service_spark.operators.similarity import (
        EMBEDDING_DIM,
        embedding_exact_dedup,
    )

    base = [float(i % 7) - 3.0 for i in range(EMBEDDING_DIM)]
    other = [v + 1.5 for v in base]
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, other)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_exact_dedup({"embeddings": emb}).collect()
    by_size = sorted((r["group_size"], r["keep_vec_id"]) for r in out)
    assert by_size == [(1, 3), (2, 1)]


def test_knn_graph_kernel_matches_expression_cosine(spark, sf_dir):
    """Every kNN edge's kernel-computed cosine must equal the
    Column-expression cosine of the same pair BIT-EXACTLY (the
    sequential-fold contract), and each source keeps <= KNN_K
    neighbors ranked densely from 1."""
    from storm_data_etl_service_spark.operators.similarity import (
        KNN_K,
        _vec,
        cosine,
    )

    edges = run("knn_graph_lsh", spark, sf_dir)
    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id", _vec(F.col("embedding")).alias("v")
    )
    joined = (
        edges.join(emb.withColumnRenamed("vec_id", "src_id"), "src_id")
        .withColumnRenamed("v", "sv")
        .join(
            emb.withColumnRenamed("vec_id", "dst_id").withColumnRenamed("v", "dv"),
            "dst_id",
        )
        .withColumn("expr_cos", cosine(F.col("sv"), F.col("dv")))
    )
    assert joined.filter(F.col("cosine") != F.col("expr_cos")).count() == 0
    per_src = edges.groupBy("src_id").agg(
        F.count("*").alias("n"), F.max("rk").alias("max_rk")
    )
    assert per_src.filter((F.col("n") > KNN_K) | (F.col("max_rk") != F.col("n"))).count() == 0


def test_knn_auto_bits_holds_bucket_size():
    from storm_data_etl_service_spark.operators.similarity import (
        KNN_TARGET_BUCKET,
        MAX_LSH_PLANES,
        SEARCH_PREFIX_BITS,
        knn_auto_bits,
    )

    assert knn_auto_bits(10) == SEARCH_PREFIX_BITS
    assert knn_auto_bits(500) == SEARCH_PREFIX_BITS  # driver-gate scales
    assert knn_auto_bits(KNN_TARGET_BUCKET * 2**SEARCH_PREFIX_BITS) == SEARCH_PREFIX_BITS
    assert knn_auto_bits(80_000) > SEARCH_PREFIX_BITS
    # past 8 bits the width keeps growing (lsh_bucket_col hashes
    # exactly ``bits`` planes) instead of silently clamping — bucket size
    # stays at the target up to 2^MAX_LSH_PLANES · KNN_TARGET_BUCKET vectors
    assert knn_auto_bits(2**9 * KNN_TARGET_BUCKET) == 9
    assert knn_auto_bits(10**10) == MAX_LSH_PLANES  # documented hard bound
    assert all(
        knn_auto_bits(n) <= knn_auto_bits(2 * n) for n in (100, 1000, 10_000, 100_000)
    )


def test_bloom_auto_bits_holds_fill_ratio():
    from storm_data_etl_service_spark.operators.dedup import (
        BLOOM_BITS,
        bloom_auto_bits,
    )

    assert bloom_auto_bits(500) == BLOOM_BITS      # driver-gate scales
    assert bloom_auto_bits(50_000) == BLOOM_BITS   # still under m/14.4
    big = bloom_auto_bits(10_000_000)
    assert big >= 14.4 * 10_000_000 and big % BLOOM_BITS == 0
    assert all(
        bloom_auto_bits(n) <= bloom_auto_bits(2 * n)
        for n in (10**4, 10**6, 10**8)
    )


def test_semantic_contamination_planted_leak(spark):
    """An eval vector byte-identical to a train vector must be
    flagged with max_cosine == 1.0 and that train id as nearest; an
    orthogonal eval vector must not be contaminated."""
    from storm_data_etl_service_spark.operators.similarity import (
        EMBEDDING_DIM,
        eval_semantic_contamination,
    )

    leak = [1.0 if i % 3 == 0 else -0.5 for i in range(EMBEDDING_DIM)]
    # orthogonal-ish to leak and to the filler vectors
    clean = [(1.0 if i % 2 else -1.0) * (i % 5) for i in range(EMBEDDING_DIM)]
    rows = [(i, [0.1 * ((i + j) % 7 - 3) for j in range(EMBEDDING_DIM)]) for i in range(6)]
    rows.append((6, leak))           # train (split at floor(10*0.8) = 8)
    rows.append((7, [0.05] * EMBEDDING_DIM))
    rows.append((8, leak))           # eval: exact copy of train 6
    rows.append((9, clean))          # eval: fresh
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in eval_semantic_contamination({"embeddings": emb}).collect()}
    assert set(out) == {8, 9}
    assert out[8]["contaminated"] and out[8]["nearest_train_id"] == 6
    assert out[8]["max_cosine"] == 1.0
    for r in out.values():
        assert r["contaminated"] == (
            r["max_cosine"] is not None and r["max_cosine"] >= 0.40
        )


def test_global_shuffle_order_is_contiguous_permutation(spark, sf_dir):
    """The two-level shard/offset construction must reproduce the
    single global ``row_number() OVER (ORDER BY key)`` exactly:
    global_pos is a contiguous 0..n-1 permutation, shard index is
    monotone along it (shard = top bits of the key), and the
    per-shard positions are each contiguous from 1."""
    rows = run("global_shuffle_order", spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    assert sorted(r["global_pos"] for r in rows) == list(range(n))
    ordered = sorted(rows, key=lambda r: r["global_pos"])
    shards = [r["shard"] for r in ordered]
    assert shards == sorted(shards), "shard must be monotone in key order"
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # sha256 keying spreads sf0.001's 500 docs over all 16 shards
    # (P(any empty) ~ 16 * (15/16)^500 ~ 1.6e-13)
    assert set(by_shard) == set(range(16))


def test_global_shuffle_order_is_deterministic(spark, sf_dir):
    """The order is a pure function of (seed, doc_id): a second
    evaluation — and any cluster size — yields identical positions."""
    a = {r["doc_id"]: r["global_pos"] for r in run("global_shuffle_order", spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(7)
    from storm_data_etl_service_spark.operators.pipeline_ops import global_shuffle_order

    b = {r["doc_id"]: r["global_pos"] for r in global_shuffle_order({"documents": docs}).collect()}
    assert a == b


def test_length_bucket_batches_reconciles(spark, sf_dir):
    """Per-bucket doc and payload totals must reconcile with the raw
    table; padding can only add chars; pad_frac prices exactly the
    padded-minus-payload share."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {
        r["len_bucket"]: (r["n"], r["chars"])
        for r in docs.groupBy(
            (F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)) - 1)
            .cast("int")
            .alias("len_bucket")
        )
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .collect()
    }
    out = run("length_bucket_batches", spark, sf_dir).collect()
    assert {r["len_bucket"] for r in out} == set(truth)
    for r in out:
        n, chars = truth[r["len_bucket"]]
        assert r["n_docs"] == n
        assert r["payload_chars"] == chars
        assert r["padded_chars"] >= r["payload_chars"]
        assert 0.0 <= r["pad_frac"] < 1.0
        assert r["pad_frac"] * r["padded_chars"] == pytest.approx(
            r["padded_chars"] - r["payload_chars"]
        )
        # a batch holds at most batch_size docs, across n_streams
        # streams: ceil-bound on the batch count per bucket
        assert r["n_batches"] >= -(-n // 16)
        assert r["n_batches"] <= 4 * -(-n // 16) + 4


def test_length_bucket_batches_uniform_lengths_pad_free(spark):
    """Docs of one uniform length pad nothing: every batch's max_len
    equals every member's length, so pad_frac is exactly 0."""
    from storm_data_etl_service_spark.operators.pipeline_ops import length_bucket_batches

    docs = spark.createDataFrame([(i, 100) for i in range(40)], "doc_id long, n_chars int")
    out = length_bucket_batches({"documents": docs}).collect()
    assert len(out) == 1 and out[0]["len_bucket"] == 6
    assert out[0]["pad_frac"] == 0.0 and out[0]["padded_chars"] == 40 * 100


def test_stratified_sample_matches_single_window_form(spark, sf_dir):
    """The salted two-level top-k must select exactly the k
    hash-smallest docs per source (transitivity of min-k), with
    contiguous ranks from 1; no stratum may exceed k."""
    out = run("stratified_sample", spark, sf_dir).collect()
    assert out
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.conv(
        F.substring(
            F.sha2(F.concat(F.lit("strat|"), F.col("doc_id").cast("string")), 256),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    truth = {}
    for r in docs.select("source", "doc_id", h.alias("h")).collect():
        truth.setdefault(r["source"], []).append((r["h"], r["doc_id"]))
    got = {}
    for r in out:
        got.setdefault(r["source"], []).append((r["sample_rank"], r["doc_id"]))
    assert set(got) == set(truth)
    for src, pairs in got.items():
        expect = [d for _, d in sorted(truth[src])[:10]]
        assert [d for _, d in sorted(pairs)] == expect, src
        assert sorted(r for r, _ in pairs) == list(range(1, len(pairs) + 1))


def test_curriculum_order_bands_and_positions(spark, sf_dir):
    """Bands are equi-depth and monotone in difficulty (max n_chars of
    band b <= min n_chars of band b+1 modulo the doc_id tiebreak);
    curriculum_pos is a contiguous permutation that serves bands in
    order."""
    docs = {r["doc_id"]: r["n_chars"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    out = run("curriculum_order", spark, sf_dir).collect()
    n = len(out)
    assert n == len(docs)
    assert sorted(r["curriculum_pos"] for r in out) == list(range(n))
    ordered = sorted(out, key=lambda r: r["curriculum_pos"])
    bands = [r["band"] for r in ordered]
    assert bands == sorted(bands)
    sizes = {}
    for r in out:
        sizes[r["band"]] = sizes.get(r["band"], 0) + 1
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) - min(sizes.values()) <= 1  # equi-depth
    # difficulty monotone across band boundaries: every doc in band b
    # is no longer than every doc in band b+1 (ties split by doc_id,
    # so compare (n_chars, doc_id) keys)
    key = lambda r: (docs[r["doc_id"]], r["doc_id"])
    for b in range(7):
        hi = max(key(r) for r in out if r["band"] == b)
        lo = min(key(r) for r in out if r["band"] == b + 1)
        assert hi < lo, b


def test_epoch_stream_order_expands_upsampled_copies(spark):
    """A minority source (boost > 1) must contribute multi-copy docs
    with copy indices 0..n-1; epoch positions are contiguous over the
    whole expanded stream and copies of one doc are keyed apart."""
    from storm_data_etl_service_spark.operators.pipeline_ops import (
        epoch_stream_order,
        mixture_sample_assign,
    )

    rows = [(i, "t" * 50, "en", "big", 50) for i in range(96)]
    rows += [(100 + i, "t" * 50, "en", "tiny", 50) for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    m = {r["doc_id"]: r["n_copies"] for r in
         mixture_sample_assign({"documents": docs}).collect()}
    # sqrt temperature: tiny source boost = (2/12)/(4/100) ≈ 4.2 — every
    # tiny doc gets >= 4 copies
    assert all(m[100 + i] >= 4 for i in range(4))
    out = epoch_stream_order({"documents": docs}).collect()
    assert len(out) == sum(m.values())
    assert sorted(r["epoch_pos"] for r in out) == list(range(len(out)))
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["copy"])
    for doc_id, copies in per_doc.items():
        assert sorted(copies) == list(range(m[doc_id])), doc_id
    # up-sampled copies spread: the 4+ copies of one tiny doc must not
    # be adjacent in the epoch (independent keys per copy)
    pos = sorted(r["epoch_pos"] for r in out if r["doc_id"] == 100)
    assert max(b - a for a, b in zip(pos, pos[1:])) > 1


def test_gopher_flags_each_rule_isolated(spark):
    """Six synthetic documents, each violating exactly one Gopher rule
    (or none): the per-source fail counts must attribute each failure
    to its rule, and only the clean document may pass."""
    ok_words = " ".join(["the of and that have with word also"] * 8)  # 64 words
    docs = [
        (1, "gA", ok_words),                                # passes all
        (2, "gB", "the of too short"),                      # word count only? also stopwords ok (the, of)
        (3, "gC", " ".join(["the", "of"] + ["ab"] * 62)),   # mean len < 3
        (4, "gD", ok_words + " " + "#" * 80),               # symbol ratio
        (5, "gE", " ".join(["the", "of"] + ["1234"] * 62)), # alpha share
        (6, "gF", " ".join(["word"] * 64)),                 # stopwords
    ]
    sdf = spark.createDataFrame(
        [(i, s, t) for i, s, t in docs], "doc_id long, source string, text string"
    )
    from storm_data_etl_service_spark.operators.text import gopher_quality_flags

    out = {
        r["source"]: r
        for r in gopher_quality_flags({"documents": sdf}).collect()
    }
    assert out["gA"]["n_keep"] == 1 and out["gA"]["keep_rate"] == 1.0
    assert out["gB"]["n_fail_words"] == 1 and out["gB"]["n_keep"] == 0
    assert out["gC"]["n_fail_mean"] == 1 and out["gC"]["n_fail_words"] == 0
    assert out["gD"]["n_fail_sym"] == 1 and out["gD"]["n_fail_words"] == 0
    assert out["gE"]["n_fail_alpha"] == 1 and out["gE"]["n_fail_mean"] == 0
    assert out["gF"]["n_fail_stop"] == 1 and out["gF"]["n_fail_words"] == 0


def test_ccnet_buckets_are_ordered_terciles(spark, sf_dir):
    """Per language: the three buckets partition every scored doc,
    their sizes are tercile-balanced up to bin-tie granularity, and
    the perplexity bins are totally ordered head <= middle <= tail."""
    rows = run("ccnet_perplexity_buckets", spark, sf_dir).collect()
    assert rows
    langs = {r["lang"] for r in rows}
    for lang in langs:
        sub = [r for r in rows if r["lang"] == lang]
        n = len(sub)
        by = {
            b: [r["ppl_bin"] for r in sub if r["bucket"] == b]
            for b in ("head", "middle", "tail")
        }
        assert sum(len(v) for v in by.values()) == n
        assert by["head"], lang
        # cutoff semantics: head holds >= ceil(n/3) docs (bin ties can
        # only grow it), and head+middle >= 2n/3
        assert 3 * len(by["head"]) >= n
        assert 3 * (len(by["head"]) + len(by["middle"])) >= 2 * n
        if by["middle"]:
            assert max(by["head"]) <= min(by["middle"])
            if by["tail"]:
                assert max(by["middle"]) < min(by["tail"])
        elif by["tail"]:
            assert max(by["head"]) < min(by["tail"])


def test_dsir_weights_favor_target_lang(spark, sf_dir):
    """Documents in the DSIR target slice (lang='en') must average a
    HIGHER importance logit than the rest of the corpus — that is the
    whole point of the likelihood-ratio selector — and every doc with
    >= 2 tokens must be scored."""
    tables = load_tables(spark, sf_dir)
    out = run("dsir_importance_weights", spark, sf_dir)
    joined = out.join(tables["documents"].select("doc_id", "lang"), "doc_id")
    rows = joined.collect()
    n_scorable = (
        tables["documents"]
        .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
        .count()
    )
    assert len(rows) == n_scorable
    en = [r["avg_log_ratio"] for r in rows if r["lang"] == "en"]
    other = [r["avg_log_ratio"] for r in rows if r["lang"] != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


def test_zipf_fit_is_decreasing_log_log_line(spark, sf_dir):
    """The Zipf OLS must produce a negative slope (frequency falls
    with rank by construction of the ranking) with r² in (0, 1]."""
    r = run("zipf_slope_fit", spark, sf_dir).collect()[0]
    assert r["n_points"] >= 10
    assert r["slope"] < 0
    assert 0.0 < r["r2"] <= 1.0
    # intercept anchors the fitted top-rank frequency near the
    # actual max token count (same log-domain order of magnitude)
    import math

    top_freq_fitted = math.exp(r["intercept"])
    assert top_freq_fitted > 1


def test_bpe_pairs_hand_counted(spark):
    """Corpus-weighted pair counts on a 3-word corpus, hand-checked:
    'aba' x2 contributes ab x2, ba x2; 'ab' x1 contributes ab x1;
    'x' contributes nothing (length 1)."""
    from storm_data_etl_service_spark.operators.text import bpe_first_merges

    docs = spark.createDataFrame(
        [(1, "aba ab aba"), (2, "x")], "doc_id long, text string"
    )
    rows = bpe_first_merges({"documents": docs}).collect()
    got = {r["pair"]: (r["n"], r["rank"]) for r in rows}
    assert got == {"ab": (3, 1), "ba": (2, 2)}


def test_waterfill_sums_to_budget_and_saturates_small_caps(spark, sf_dir):
    """Allocations must sum exactly to the integer budget; saturated
    sources get exactly their cap; unsaturated allocations differ by
    at most one token and all exceed every saturated cap."""
    rows = run("token_budget_waterfill", spark, sf_dir).collect()
    total = sum(r["n_tokens"] for r in rows)
    budget = total * 3 // 2
    assert sum(r["alloc_tokens"] for r in rows) == budget
    sat = [r for r in rows if r["saturated"]]
    unsat = [r for r in rows if not r["saturated"]]
    for r in sat:
        assert r["alloc_tokens"] == r["cap_tokens"]
        assert abs(r["epochs"] - r["cap_mult"]) < 1e-12
    if unsat:
        allocs = sorted(r["alloc_tokens"] for r in unsat)
        assert allocs[-1] - allocs[0] <= 1
        for r in unsat:
            assert r["alloc_tokens"] <= r["cap_tokens"]
        if sat:
            assert min(allocs) >= max(r["cap_tokens"] for r in sat)


def test_source_divergence_identical_vs_disjoint(spark):
    """Two sources with identical token multisets must sit at exactly
    JSD = 0 / vocab-Jaccard = 1; two sources with disjoint vocabularies
    must land near the ln 2 ceiling with zero overlap."""
    import math

    from storm_data_etl_service_spark.operators.text import (
        source_divergence_matrix,
    )

    docs = [
        (1, "sA", "alpha beta gamma alpha"),
        (2, "sB", "beta alpha alpha gamma"),
        (3, "sC", "delta epsilon zeta delta epsilon"),
        (4, "sD", "eta theta iota kappa eta"),
    ]
    sdf = spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_divergence_matrix({"documents": sdf}).collect()
    }
    same = out[("sA", "sB")]
    assert same["js_divergence_nats"] == 0.0
    assert same["vocab_jaccard"] == 1.0
    disjoint = out[("sC", "sD")]
    assert disjoint["vocab_overlap"] == 0
    # add-one smoothing over the joint vocabulary flattens tiny
    # corpora hard (each source holds 5 of 12+v smoothed cells), so
    # assert the ordering invariants, not a magnitude: disjoint > 0,
    # bounded by the ln 2 JSD ceiling
    assert 0.0 < disjoint["js_divergence_nats"] <= math.log(2.0)
    # all 4C2 = 6 unordered pairs present, each exactly once
    assert len(out) == 6


def test_source_divergence_python_model(spark):
    """Exact equality against an independent pure-Python JSD with the
    same add-one smoothing and floor-1e-6 ln quantization — THREE
    sources, so for every pair some joint-vocab tokens are absent from
    BOTH sides and the operator's closed-form (v - n_union) absent-token
    term is value-checked, not just bounded (round-6 ADVICE)."""
    import math
    from collections import Counter

    from storm_data_etl_service_spark.operators.text import (
        source_divergence_matrix,
    )

    docs = [
        (1, "p", "x y z x y x w"),
        (2, "p", "y y v"),
        (3, "q", "x q q z"),
        (4, "q", "r r r y x"),
        # source "m" holds tokens unseen in p/q (and shares "x"), so
        # e.g. the (p, q) pair has m-only tokens absent from both sides
        (5, "m", "mm nn oo mm x pp"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, source string, text string")
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in source_divergence_matrix({"documents": sdf}).collect()
    }
    assert len(rows) == 3  # 3C2 pairs

    counts = {"p": Counter(), "q": Counter(), "m": Counter()}
    for _, src, text in docs:
        counts[src].update(text.split())
    vocab = set().union(*counts.values())
    v = len(vocab)

    for s1, s2 in [("m", "p"), ("m", "q"), ("p", "q")]:
        ca, cb = counts[s1], counts[s2]
        den1 = sum(ca.values()) + v
        den2 = sum(cb.values()) + v
        union = {t for t in vocab if ca[t] or cb[t]}
        assert len(union) < v, "closed-form term must be exercised"
        sp = sq = 0
        for tok in union:
            na, nb = ca[tok], cb[tok]
            dd = (na + 1) * den2 + (nb + 1) * den1
            sp += (na + 1) * math.floor(math.log(2 * (na + 1) * den2 / dd) * 1e6)
            sq += (nb + 1) * math.floor(math.log(2 * (nb + 1) * den1 / dd) * 1e6)
        # absent-from-both tokens, one closed-form term apiece
        n0 = v - len(union)
        sp += n0 * math.floor(math.log(2 * den2 / (den1 + den2)) * 1e6)
        sq += n0 * math.floor(math.log(2 * den1 / (den1 + den2)) * 1e6)
        expected = max(0.0, sp / (den1 * 2e6) + sq / (den2 * 2e6))
        row = rows[(s1, s2)]
        assert abs(row["js_divergence_nats"] - expected) < 1e-12, (s1, s2)
        assert row["vocab_union"] == len(union)
        assert row["vocab_overlap"] == len(
            {t for t in vocab if ca[t] and cb[t]}
        )


def test_band_calibration_python_model(spark):
    """The banding S-curve table must equal a pure-Python evaluation of
    1-(1-s^r)^b over the exact >= 0.8 Jaccard pairs, and more bands
    must never lower the detection rate at equal signature budget."""
    import math

    from storm_data_etl_service_spark.operators.dedup import (
        minhash_band_calibration,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = [
        (1, "s", base),
        (2, "s", base + " w13"),          # J = 10/11 ~ 0.909
        (3, "s", base),                   # J = 1.0 with doc 1
        (4, "s", "a b c d e f g h i j"),  # unrelated
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, source string, text string")
    out = minhash_band_calibration({"documents": sdf}).collect()
    got = {
        (r["r_rows"], r["n_bands"], r["jaccard_bucket"]): r for r in out
    }

    # ground-truth pairs: (1,3) J=1.0; (1,2) and (2,3) share 10 of the
    # 11 union 3-gram shingles
    pair_j = [1.0, 10 / 11, 10 / 11]
    expected = {}
    for r_rows, n_bands in [(1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1)]:
        for j in pair_j:
            bucket = math.floor(j * 20) / 20.0
            p = 1.0 - (1.0 - j**r_rows) ** n_bands
            key = (r_rows, n_bands, bucket)
            n, s = expected.get(key, (0, 0))
            expected[key] = (n + 1, s + math.floor(p * 1e9))
    assert set(got) == set(expected)
    for key, (n, s) in expected.items():
        assert got[key]["n_pairs"] == n
        assert abs(got[key]["expected_detected"] - s / 1e9) < 1e-12
    # equal budget, finer banding detects at least as well at J=0.909
    b05 = math.floor((10 / 11) * 20) / 20.0
    assert (
        got[(1, 12, b05)]["detect_rate"]
        >= got[(6, 2, b05)]["detect_rate"]
        >= got[(12, 1, b05)]["detect_rate"]
    )


def test_quality_gate_agreement_partitions_and_consistency(spark, sf_dir):
    """The agreement cells must partition the >= 2-token corpus (the
    CCNet join boundary), stay within the tercile vocabulary, and the
    verdict-keep tally must reconcile with quality_linear_score."""
    from storm_data_etl_service_spark.operators.text import (
        ccnet_perplexity_buckets,
        quality_linear_score,
    )
    from storm_data_etl_service_spark.schemas import load_tables

    rows = run("quality_gate_agreement", spark, sf_dir).collect()
    assert rows, "no cells"
    assert {r["ppl_bucket"] for r in rows} <= {"head", "middle", "tail"}
    t = load_tables(spark, sf_dir)
    scored = ccnet_perplexity_buckets(t).count()
    assert sum(r["n_docs"] for r in rows) == scored
    # verdict keeps across cells == linear-score keeps on the same
    # >= 2-token population
    qs = quality_linear_score(t).join(
        ccnet_perplexity_buckets(t).select("doc_id"), "doc_id"
    )
    n_keep = qs.filter(F.col("verdict") == "keep").count()
    assert sum(r["n_verdict_keep"] for r in rows) == n_keep


def test_quality_gate_agreement_synthetic_cells(spark):
    """Synthetic corpus exercising BOTH gopher_keep values: fluent
    long docs with stopwords (keep=true) vs stopword-free word soup
    (keep=false); every doc must land in exactly one cell."""
    from storm_data_etl_service_spark.operators.text import (
        quality_gate_agreement,
    )

    fluent = " ".join(["the cat sat of the mat and that dog have fun with it"] * 6)
    soup = " ".join(["zxq wvu tsr qpo nml"] * 16)
    docs = [
        (1, "en", "sA", fluent),
        (2, "en", "sA", fluent + " extra tail words here"),
        (3, "en", "sB", soup),
        (4, "en", "sB", soup + " jkl hgf"),
    ]
    sdf = spark.createDataFrame(
        docs, "doc_id long, lang string, source string, text string"
    )
    out = quality_gate_agreement({"documents": sdf}).collect()
    assert sum(r["n_docs"] for r in out) == 4
    by_keep = {}
    for r in out:
        by_keep[r["gopher_keep"]] = by_keep.get(r["gopher_keep"], 0) + r["n_docs"]
    assert by_keep == {True: 2, False: 2}


def test_context_fill_python_model(spark):
    """Exact equality of every integer column and both fill ratios
    against a direct Python evaluation on a handmade corpus."""
    import math

    from storm_data_etl_service_spark.operators.pipeline_ops import (
        CONTEXT_LENGTHS,
        context_fill_efficiency,
    )

    texts = [
        " ".join(f"w{i}" for i in range(n))
        for n in (1, 100, 511, 512, 513, 3000, 9000)
    ]
    sdf = spark.createDataFrame(
        [(i, s, "en", "s", len(s)) for i, s in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {
        r["context_len"]: r
        for r in context_fill_efficiency({"documents": sdf}).collect()
    }
    lens = [len(t.split()) for t in texts]
    for L in CONTEXT_LENGTHS:
        r = rows[L]
        chunks = sum(math.ceil(n / L) for n in lens)
        total = sum(lens)
        perfect = math.ceil(total / L)
        assert r["n_docs"] == len(lens)
        assert r["doc_over_share"] == sum(n > L for n in lens) / len(lens)
        assert r["total_tokens"] == total
        assert r["clip_lost_tokens"] == sum(max(n - L, 0) for n in lens)
        assert r["chunk_rows"] == chunks
        assert r["chunk_pad_tokens"] == chunks * L - total
        assert r["chunk_fill_ratio"] == total / (chunks * L)
        assert r["perfect_rows"] == perfect
        assert r["perfect_fill_ratio"] == total / (perfect * L)
        # perfect packing can never be worse than chunking
        assert r["perfect_fill_ratio"] >= r["chunk_fill_ratio"]


def test_matryoshka_full_width_is_reference(spark, sf_dir):
    """The d=64 row compares the full vector against itself: zero
    delta, 100% within tolerance; every width sees the same pairs."""
    out = {r["d"]: r for r in run("matryoshka_truncation_audit", spark, sf_dir).collect()}
    assert set(out) == {8, 16, 32, 64}
    full = out[64]
    assert full["mean_abs_delta"] == 0.0
    assert full["within_tol_share"] == 1.0
    n_pairs = {r["n_pairs"] for r in out.values()}
    assert len(n_pairs) == 1 and n_pairs.pop() > 0
    for r in out.values():
        assert r["mean_abs_delta"] >= 0.0
        assert 0.0 <= r["within_tol_share"] <= 1.0
        assert -1.0 <= r["mean_cosine"] <= 1.0


def test_matryoshka_rejects_off_width_embeddings():
    """The widest audit width must equal the vector dim: a 48-dim
    input has no 64-prefix reference and an 80-dim one would be
    audited against its own truncation, so both raise naming the
    two widths instead of a bare KeyError or a silent wrong answer."""
    import numpy as np
    import pandas as pd

    from storm_data_etl_service_spark.operators.similarity import (
        _matryoshka_bucket_kernel,
    )

    kernel = _matryoshka_bucket_kernel()
    for dim in (48, 80):
        pdf = pd.DataFrame(
            {"vec_id": [0, 1], "v": [np.ones(dim), np.arange(1.0, dim + 1)]}
        )
        with pytest.raises(ValueError, match=f"64-dim .* got {dim}-dim"):
            kernel(pdf)


def test_label_fid_python_model(spark):
    """Exact equality against an independent Python evaluation of the
    quantized diagonal-Fréchet pipeline, on vectors engineered so two
    labels share a mean but differ in spread (the case centroid cosine
    cannot see)."""
    import math

    from storm_data_etl_service_spark.operators.similarity import (
        label_embedding_fid,
    )

    vecs = [
        # label 0: tight around (1, 0, .5, -.5)
        (0, 0, [1.0, 0.0, 0.5, -0.5]),
        (1, 0, [1.02, -0.02, 0.52, -0.48]),
        (2, 0, [0.98, 0.02, 0.48, -0.52]),
        # label 1: same mean as label 0, 10x the spread
        (3, 1, [1.2, -0.2, 0.7, -0.3]),
        (4, 1, [0.8, 0.2, 0.3, -0.7]),
        (5, 1, [1.0, 0.0, 0.5, -0.5]),
        # label 2: different mean entirely
        (6, 2, [-1.0, 0.5, 0.0, 0.25]),
        (7, 2, [-0.9, 0.55, 0.05, 0.2]),
    ]
    sdf = spark.createDataFrame(
        [(i, v, lbl) for i, lbl, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r["label_a"], r["label_b"]): r
        for r in label_embedding_fid({"embeddings": sdf}).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (1, 2)}

    import numpy as np

    by_label = {}
    for _, lbl, v in vecs:
        by_label.setdefault(lbl, []).append(
            [float(np.float32(x)) for x in v]  # float32 storage round-trip
        )
    def moments(lbl):
        rows = by_label[lbl]
        out = []
        for pos in range(4):
            qs = [math.floor(r[pos] * 1e9) for r in rows]
            n = len(qs)
            mu = sum(qs) / n
            var = max(sum(q * q for q in qs) / n - mu * mu, 0.0)
            out.append((n, mu, var))
        return out

    for a, b in got:
        ma, mb = moments(a), moments(b)
        s = 0
        for (na, mua, va), (nb, mub, vb) in zip(ma, mb):
            term = (mua - mub) * (mua - mub) + va + vb - 2.0 * math.sqrt(va * vb)
            s += math.floor(term / 1e9)
        expected = s / 1e9
        r = got[(a, b)]
        assert abs(r["fid_diag"] - expected) < 1e-12, (a, b)
        assert r["n_a"] == ma[0][0] and r["n_b"] == mb[0][0]
    # same-mean / different-spread pair must register positive distance
    assert got[(0, 1)]["fid_diag"] > 0.01
    # and far-mean pairs must dominate it
    assert got[(0, 2)]["fid_diag"] > got[(0, 1)]["fid_diag"]


def test_codegen_tokenizer_equals_hof_form(spark):
    """tokens_col (regexp boundary-strip + split, pure codegen) must be
    element-identical to the interpreted-HOF form it replaced —
    filter(split(trim(text), \\s+), x != '') — including the cases the
    plain ``trim`` form gets wrong (non-space boundary whitespace) and
    the degenerate empties.  min_tokens_pred must equal
    size(tokens_col) >= n on the same inputs."""
    from storm_data_etl_service_spark.operators.text import (
        min_tokens_pred,
        tokens_col,
    )

    cases = [
        "plain text tokens",
        "  leading spaces",
        "trailing spaces   ",
        "\tleading tab",
        "trailing newline\n",
        "\t mixed \n whitespace \r inside\ttoo \n",
        "single",
        "",
        "   ",
        "\t\n\r",
        None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    hof = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    rows = df.select(
        tokens_col(F.col("text")).alias("new"),
        hof.alias("old"),
        *[min_tokens_pred(F.col("text"), n).alias(f"p{n}") for n in (1, 2, 3)],
    ).collect()
    for case, r in zip(cases, rows):
        assert r["new"] == r["old"], (case, r["new"], r["old"])
        n_tok = len(r["new"] or [])
        for n in (1, 2, 3):
            want = n_tok >= n if r["new"] is not None else None
            assert r[f"p{n}"] == want, (case, n, r[f"p{n}"], want)
