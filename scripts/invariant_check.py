#!/usr/bin/env python
"""Exact sf1.6 oracle replay for entries whose one-query oracle SQL is
infeasible (recursive graph fixpoints, the composed ladder) or
cold-cache fragile (the PPJoin candidate pipeline) at that density.

The registry oracles for ``neardup_components``, ``pagerank_neardup``
and ``neardup_cluster_representative`` are exact but expressed with
recursive / chained CTEs, and DuckDB's CTE evaluation explodes at
sf1.6 pair-graph density: the components recursion materializes the
TRANSITIVE CLOSURE (Σ|component|² rows on near-clique clusters) and
the unrolled PageRank re-inlines the whole MinHash pair pipeline into
every round (measured >51 GB spill).  The fixpoints themselves are
cheap — each round is one O(E) join — so this checker replays them as
BOUNDED staged passes over ``CREATE TEMP TABLE`` materializations:

* the candidate pair graph is materialized ONCE (the same
  ``_minhash_oracle()`` SQL the registry oracles embed — measured
  seconds at sf1.6);
* connected components = min-label propagation rounds, each one
  hash join + grouped min, iterated to an EXPLICIT fixpoint (zero
  labels changed) with the same 25-round cap as
  ``graph.connected_components`` — convergence is verified, never
  assumed;
* PageRank = the registry oracle's own round expression (the
  floor-quantized decimal reduction, lifted verbatim so every IEEE
  operation matches Spark bit-for-bit), staged per round instead of
  chained CTEs;
* the cluster representative is the registry oracle's aggregation
  tail over the replayed labels;
* ``dedup_ladder_report`` — whose registry oracle is exact but OOMs
  DuckDB when all four rung pipelines sit in ONE query's CTEs (CTE
  materialization holds every rung's working set at once; measured
  dead even at an 80 GB limit) — replays with each rung staged into
  its own ``CREATE TEMP TABLE`` (each rung is feasible solo at sf1.6:
  the prefix-filtered Jaccard ~8 min, the SemDeDup chain ~4 min, the
  MinHash pairs and the normalized-hash rung seconds), then runs the
  registry oracle's own counts-union tail verbatim over the tables.

The result is compared against the Spark output with the same
row/column/type normalization as ``check_correctness.py`` — so these
three entries get an EXACT value-equality gate at sf1.6, not a weaker
invariant battery.  Output lines use the same ``  ok <name>`` /
``FAIL <name>`` grammar so ``sweep_sf16.py`` can parse them.

Usage: python scripts/invariant_check.py [entry ...]     (default: all)
Env:   SPARK_GRAFT_CHECK_SF_DIR (default /tmp/spark_graft_scale/sf1.6)
       SPARK_GRAFT_ORACLE_MEM_GB (DuckDB cap, default
         check_correctness.oracle_mem_gb: half the memory budget, <= 60)
"""

from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/tmp/spark_graft_scale/sf1.6")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

ENTRIES = (
    "neardup_components",
    "pagerank_neardup",
    "neardup_cluster_representative",
    "dedup_ladder_report",
    # r6: the two r5 sweep chunk-timeouts.  Their registry oracles are
    # exact and feasible (~8 min warm in r4) but inline the whole
    # prefix-filter candidate pipeline per query; on a cold-cache host
    # each blew the 2100 s chunk.  Staged here, the shingle ranking /
    # candidate join / verify steps materialize ONCE into temp tables
    # and both entries read the shared verified-pair table.
    "dedup_ngram_jaccard",
    "fuzzy_neardup_distance",
    # r6: consumes the same staged PPJoin pipeline — its registry
    # oracle inlines the candidate SQL verbatim, so it inherits the
    # same cold-cache fragility; the replay tail reads pp_v.
    "minhash_band_calibration",
)

_GRAPH_ENTRIES = frozenset(
    (
        "neardup_components",
        "pagerank_neardup",
        "neardup_cluster_representative",
        "dedup_ladder_report",
    )
)
_PPJOIN_ENTRIES = frozenset(
    ("dedup_ngram_jaccard", "fuzzy_neardup_distance", "minhash_band_calibration")
)

#: r6: triangle-census entries are output-bound at sf1.6's full
#: 13.9M-pair density (wedge enumeration, measured >50 GB oracle
#: spill) — so they replay on the deterministic induced subgraph
#: ``doc_id % SUBGRAPH_MOD == 0`` (~1/64 of the pair graph), which
#: keeps the DuckDB census feasible while the SPARK side runs the
#: exact same registered plan (same code path, same dispatcher) over
#: sf1.6-scale input.  Exact value-equality compare, not an invariant.
SUBGRAPH_MOD = 8
SUBGRAPH_ENTRIES = (
    "neardup_triangle_count",
    "neardup_triangle_estimate",
    "triangle_stats",
    # r7: the final three sf1.6 exclusions, adjudicated onto the same
    # exact induced-subgraph protocol.  ``embedding_near_dup`` filters
    # vec_id % MOD (4k of 32k vectors → the n²/2 oracle drops 64×);
    # ``minhash_accuracy_report`` and ``neardup_components_sql``
    # filter doc_id % MOD (10k of 80k docs → per-doc signature cost
    # drops 8×, pair-graph density ~64×, which also keeps the
    # Spark-side UNION ALL recursion walk inside its row limit).  The
    # Spark side runs each entry's own registered builder over
    # sf1.6-scale input; the registry oracle runs VERBATIM on the
    # filtered view; the compare is exact.
    "minhash_accuracy_report",
    "embedding_near_dup",
    "neardup_components_sql",
)

#: Per-entry mod overrides.  ``neardup_components_sql`` replays at
#: mod 16, not 8: its Spark-side UNION ALL recursion enumerates
#: downhill label walks — 2^|clique| paths on near-clique components —
#: and on the shuffled sf1.6 corpus the mod-8 subgraph's densest
#: cluster still trips the 50M recursion row limit (measured r7; the
#: documented engine boundary the operator's docstring prices).  At
#: mod 16 the walk completes in ~2 min and the oracle compare is
#: exact.  The other five entries stay at the shared mod 8.
SUBGRAPH_MODS = {"neardup_components_sql": 16}


def _subgraph_build(spark, name: str, sub: dict):
    """Dispatch a SUBGRAPH entry to its own registered builder module
    (the same code path the registry wires, minus load_tables)."""
    from storm_data_etl_service_spark.operators import dedup as DD
    from storm_data_etl_service_spark.operators import graph as G
    from storm_data_etl_service_spark.operators import similarity as SI

    if name == "neardup_components_sql":
        return G.neardup_components_sql(spark, sub)
    if name == "minhash_accuracy_report":
        return DD.minhash_accuracy_report(sub)
    if name == "embedding_near_dup":
        return SI.embedding_near_dup(sub)
    return getattr(G, name)(sub)

#: matches graph.connected_components(max_rounds=25): the replay must
#: reach the same fixpoint the Spark side reached (or failed loudly).
CC_MAX_ROUNDS = 25

#: one PageRank round as a staged table — the expression text is the
#: registry oracle's own (registry.py pagerank_neardup), so literal
#: typing and IEEE op order are the proven-at-gate-scales forms.
_PR_ROUND = """CREATE TEMP TABLE r{nxt} AS
  SELECT o.node, o.deg,
    floor(((1.0 - 0.85) / nn.n
           + 0.85 * (cast(sum(cast(floor((r.rank / r.deg) * 1e9)
                                  AS DECIMAL(25,0))) AS DOUBLE) / 1e9))
          * 1e9) / 1e9 AS rank
  FROM sym e JOIN r{cur} r ON e.src = r.node
             JOIN deg o ON e.dst = o.node, nn
  GROUP BY o.node, o.deg, nn.n"""

_CC_ROUND = """CREATE TEMP TABLE l_next AS
  SELECT l.node, least(l.label, coalesce(m.nbr, l.label)) AS label
  FROM l_cur l LEFT JOIN (
    SELECT e.src AS node, min(x.label) AS nbr
    FROM sym e JOIN l_cur x ON x.node = e.dst
    GROUP BY e.src) m ON m.node = l.node"""

_REPLAY_SELECT = {
    "neardup_components": """SELECT node AS doc_id, label AS component_id,
  node = label AS is_canonical FROM l_cur""",
    "pagerank_neardup": "SELECT node AS doc_id, deg, rank FROM r5",
    # the registry oracle's aggregation tail, over the replayed labels
    "neardup_cluster_representative": """WITH members AS (
  SELECT l.node AS doc_id, l.label AS component_id, d.n_chars
  FROM l_cur l JOIN documents d ON d.doc_id = l.node)
SELECT component_id, kept_doc_id, kept_n_chars, n_members, total_chars
FROM (
  SELECT component_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
    row_number() OVER (PARTITION BY component_id
                       ORDER BY n_chars DESC, doc_id) AS rk,
    count(*) OVER (PARTITION BY component_id) AS n_members,
    CAST(sum(n_chars) OVER (PARTITION BY component_id) AS BIGINT)
      AS total_chars
  FROM members)
WHERE rk = 1""",
    # the registry oracle's counts-union tail, verbatim, over the
    # staged rung tables (pairs == mp: both are _minhash_oracle())
    "dedup_ladder_report": r"""WITH norm AS (
  SELECT count(*) AS n FROM (
    SELECT doc_id FROM (
      SELECT doc_id,
        count(*) OVER (PARTITION BY
          sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n
      FROM documents) WHERE n > 1)),
jd AS (SELECT count(*) AS n FROM
  (SELECT doc_a AS d FROM lad_jp UNION SELECT doc_b FROM lad_jp)),
md AS (SELECT count(*) AS n FROM
  (SELECT doc_a AS d FROM pairs UNION SELECT doc_b FROM pairs)),
ed AS (SELECT count(*) AS n FROM
  (SELECT id_a AS d FROM lad_ep UNION SELECT id_b FROM lad_ep))
SELECT '1_exact_normalized' AS rung, n AS n_docs_flagged FROM norm
UNION ALL SELECT '2_ngram_jaccard', n FROM jd
UNION ALL SELECT '3_minhash_lsh', n FROM md
UNION ALL SELECT '4_semdedup_cosine', n FROM ed""",
}


def _replay_sql(name: str) -> str:
    if name not in _PPJOIN_ENTRIES:
        return _REPLAY_SELECT[name]
    # the registry oracles' own tails, over the staged verified pairs
    from storm_data_etl_service_spark.operators.registry import (
        _band_calibration_sql,
        _fuzzy_distance_sql,
        _jaccard_pairs_sql,
    )

    jp = _jaccard_pairs_sql("pp_v")
    if name == "fuzzy_neardup_distance":
        return _fuzzy_distance_sql(jp)
    if name == "minhash_band_calibration":
        return _band_calibration_sql(jp)
    return jp


def _load_cc_module():
    spec = importlib.util.spec_from_file_location(
        "cc_compare", REPO / "scripts/check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _build_graph_tables(con) -> None:
    from storm_data_etl_service_spark.operators.registry import _minhash_oracle

    con.execute("CREATE TEMP TABLE pairs AS " + _minhash_oracle())
    con.execute(
        """CREATE TEMP TABLE sym AS
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs"""
    )
    con.execute(
        "CREATE TEMP TABLE deg AS SELECT src AS node, count(*) AS deg"
        " FROM sym GROUP BY src"
    )
    con.execute("CREATE TEMP TABLE nn AS SELECT count(*) AS n FROM deg")


def _replay_components(con) -> None:
    """Min-label propagation to an explicit fixpoint — the same
    algorithm (and cap) as graph.connected_components, each round one
    staged O(E) pass instead of a transitive-closure recursion."""
    con.execute("CREATE TEMP TABLE l_cur AS SELECT node, node AS label FROM deg")
    for _ in range(CC_MAX_ROUNDS):
        con.execute(_CC_ROUND)
        changed = con.sql(
            """SELECT count(*) FROM l_next n JOIN l_cur c USING (node)
               WHERE n.label < c.label"""
        ).fetchone()[0]
        con.execute("DROP TABLE l_cur")
        con.execute("ALTER TABLE l_next RENAME TO l_cur")
        if changed == 0:
            return
    raise RuntimeError(
        f"components replay did not converge in {CC_MAX_ROUNDS} rounds"
    )


def _stage_ladder_rungs(con) -> None:
    """Materialize rung 2 (prefix-filtered Jaccard pairs) and rung 4
    (SemDeDup within-cell cosine pairs) as their own temp tables; rung
    3's pair table (``pairs``) is already built by
    ``_build_graph_tables`` from the identical ``_minhash_oracle()``
    SQL, and rung 1 is a cheap inline aggregate in the tail."""
    from storm_data_etl_service_spark.operators.registry import (
        REGISTRY,
        _semdedup_pairs_oracle,
    )

    con.execute(
        "CREATE TEMP TABLE lad_jp AS "
        + REGISTRY["dedup_ngram_jaccard"].oracle
    )
    con.execute("CREATE TEMP TABLE lad_ep AS " + _semdedup_pairs_oracle())


def _stage_ppjoin_pairs(con) -> None:
    """The _NGRAM_JACCARD_ORACLE pipeline staged step by step: shingle
    sets, rarest-first ranking, prefix-filter candidates, and the
    verified (doc_a, doc_b, common, na, nb) table — each its own
    ``CREATE TEMP TABLE`` pass, so the ranking and candidate join are
    paid once (not once per consuming query) and the working set stays
    bounded on cold-cache hosts.  Every step is the registry's own
    builder, so the arithmetic (integer-exact prefix length, size
    gate, BIGINT common/na/nb) is the gate-proven form."""
    from storm_data_etl_service_spark.operators.dedup import JACCARD_THRESHOLD
    from storm_data_etl_service_spark.operators.registry import (
        _TOKS_CTE,
        _jaccard_cand_sql,
        _overlap_sql,
        _prefix_sql,
        _rank_ctes,
    )

    con.execute(f"CREATE TEMP TABLE pp_shf AS WITH {_TOKS_CTE} SELECT doc_id, shingles FROM shf")
    con.execute(
        f"CREATE TEMP TABLE pp_ranked AS WITH {_rank_ctes('pp_shf')}"
        " SELECT doc_id, ordered FROM ranked"
    )
    con.execute(
        "CREATE TEMP TABLE pp_cand AS WITH pre AS"
        f" ({_prefix_sql(JACCARD_THRESHOLD, 'pp_ranked')}) {_jaccard_cand_sql()}"
    )
    con.execute(
        "CREATE TEMP TABLE pp_v AS "
        + _overlap_sql("doc_a", "doc_b", pairs="pp_cand", sets="pp_shf")
    )


def _replay_pagerank(con) -> None:
    con.execute(
        """CREATE TEMP TABLE r0 AS
           SELECT node, deg, floor((1.0 / n) * 1e9) / 1e9 AS rank
           FROM deg, nn"""
    )
    for k in range(5):
        con.execute(_PR_ROUND.format(cur=k, nxt=k + 1))


def main() -> int:
    import duckdb

    from storm_data_etl_service_spark.operators.registry import REGISTRY
    from storm_data_etl_service_spark.session import get_spark

    known = (*ENTRIES, *SUBGRAPH_ENTRIES)
    only = [n for n in sys.argv[1:] if n in known] or list(known)
    cc = _load_cc_module()

    # --- Spark phase: collect the outputs, then free the JVM ---
    spark = get_spark(
        app_name="invariant_check",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark_out = {}
    sub_tables: dict[int, dict] = {}
    base_tables = None
    for name in only:
        if name in SUBGRAPH_ENTRIES:
            from pyspark.sql import functions as F

            from storm_data_etl_service_spark.schemas import load_tables

            if base_tables is None:
                base_tables = load_tables(spark, SF_DIR)
            mod = SUBGRAPH_MODS.get(name, SUBGRAPH_MOD)
            if mod not in sub_tables:
                t = base_tables
                sub_tables[mod] = {
                    **t,
                    "documents": t["documents"].filter(
                        F.col("doc_id") % mod == 0
                    ),
                    "embeddings": t["embeddings"].filter(
                        F.col("vec_id") % mod == 0
                    ),
                }
            # the registered builders' own functions, same code path —
            # only the documents/embeddings relations are induced
            df = _subgraph_build(spark, name, sub_tables[mod])
        else:
            df = REGISTRY[name].build(spark, SF_DIR)
        spark_out[name] = (df.columns, df.dtypes, [tuple(r) for r in df.collect()])
    spark.stop()

    # --- DuckDB phase: staged replay + exact compare ---
    con = duckdb.connect()
    os.makedirs("/tmp/duckdb_oracle_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    mem_gb = cc.oracle_mem_gb()
    con.execute(f"SET memory_limit='{mem_gb}GB'")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    if _GRAPH_ENTRIES & set(only):
        _build_graph_tables(con)
    if {"neardup_components", "neardup_cluster_representative"} & set(only):
        _replay_components(con)
    if "pagerank_neardup" in only:
        _replay_pagerank(con)
    if "dedup_ladder_report" in only:
        _stage_ladder_rungs(con)
    if _PPJOIN_ENTRIES & set(only):
        _stage_ppjoin_pairs(con)

    con_subs: dict[int, object] = {}
    for mod in sorted(
        {SUBGRAPH_MODS.get(n, SUBGRAPH_MOD) for n in only if n in SUBGRAPH_ENTRIES}
    ):
        # per-mod connection whose documents/embeddings views ARE the
        # induced subgraph; the registry oracles run VERBATIM against it
        con_sub = duckdb.connect()
        con_subs[mod] = con_sub
        con_sub.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
        con_sub.execute(f"SET memory_limit='{mem_gb}GB'")
        for t in TABLES:
            p = f"{SF_DIR}/{t}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            where = {
                "documents": f" WHERE doc_id % {mod} = 0",
                "embeddings": f" WHERE vec_id % {mod} = 0",
            }.get(t, "")
            con_sub.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}'){where}"
            )

    failures = []
    for name in only:
        scols_raw, sdtypes, srows = spark_out[name]
        scols, sdata = cc.normalize_result(scols_raw, srows)
        if name in SUBGRAPH_ENTRIES:
            rel = con_subs[SUBGRAPH_MODS.get(name, SUBGRAPH_MOD)].sql(
                REGISTRY[name].oracle
            )
        else:
            rel = con.sql(_replay_sql(name))
        dcols_raw, dtypes_raw = list(rel.columns), list(rel.types)
        dcols, ddata = cc.normalize_result(dcols_raw, rel.fetchall())
        status = []
        if scols != dcols:
            status.append(f"COLS spark={scols} duck={dcols}")
        for col, sk, dk in cc.type_mismatches(sdtypes, dcols_raw, dtypes_raw):
            status.append(f"TYPE {col}: spark={sk} duck={dk}")
        if len(sdata) != len(ddata):
            status.append(f"ROWCOUNT spark={len(sdata)} duck={len(ddata)}")
        elif sdata != ddata:
            ndiff = sum(1 for a, b in zip(sdata, ddata) if a != b)
            first = next((a, b) for a, b in zip(sdata, ddata) if a != b)
            status.append(f"VALUES {ndiff}/{len(sdata)} differ; first: {first}")
        mode = (
            f"exact mod-{SUBGRAPH_MODS.get(name, SUBGRAPH_MOD)} "
            "induced-subgraph replay"
            if name in SUBGRAPH_ENTRIES
            else "exact replay"
        )
        if status:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(status))
        else:
            print(f"  ok {name:32s} ({len(sdata)} rows, {mode})")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall replayed entries match exactly")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
