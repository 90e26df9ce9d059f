#!/usr/bin/env python
"""Measured scaling curve for the headline bench queries.

Runs ``bench.py`` (same protocol: warmup, noop sink, data-sized
shuffle parallelism) at every provided scale factor — sf0.001, sf0.01,
sf0.1 — and at a synthesized ``sf1.6``: the sf0.1 tables replicated
x16 with per-replica key offsets, so join/group cardinalities scale
the way a larger TPC-H SF does:

* dimension tables (region, nation) are kept as-is;
* every surrogate key (custkey, orderkey, partkey, suppkey, event_id,
  user_id, doc_id, vec_id) is offset by ``replica * (max_key + 1)``,
  so per-key group sizes and join fan-outs stay constant while key
  cardinality scales with the data — the realistic growth mode;
* ``documents.text`` is word-shuffled per replica by sorting words on
  ``xxhash64(word, replica)`` (replica 0 keeps the original).  A
  ROTATION would be wrong here: rotating preserves every shingle
  except the ~k spanning the cut, so all 16 replicas of a doc stay
  near-duplicates of each other and dedup OUTPUT grows quadratically
  in replicas (first measurement: dedup_incremental_minhash exponent
  1.55 — an artifact of the data, not the plan).  The content-hash
  sort instead makes cross-replica shingle overlap vanish while
  PRESERVING within-replica near-dup structure (two docs with similar
  word multisets sort to similar sequences under the same replica
  key), so the duplication RATE stays at the corpus's natural level
  as the corpus grows — the realistic growth mode;
* one ``embedding`` element per replica is nudged so cosine
  near-duplicate structure likewise stays natural.

The scaled data is derived exclusively from the driver-provided
/root/testdata parquet (TESTDATA.md) and lives in /tmp scratch; it is
used for timing only, never for correctness oracles.

Output: SCALING.json + SCALING.md with per-query times at each scale
and the marginal scaling exponent on the largest step
(log t-ratio / log data-ratio; 1.0 = perfectly linear, <1 =
overhead-amortizing, >1.2 flagged).

``--only q1,q2`` re-measures just those queries at the same scales and
merges their rows (and, for dedup rungs, their natural-corpus rows)
into the committed SCALING.json — for a change that touches a handful
of operators, where a full pass (~50 queries at four scales, ~2 h) is
overkill.  Other rows keep their previous measurements; the merge is
noted under ``merged_rounds``.  It keeps the scaled corpora.

Usage: python scripts/scaling_curve.py [--replicas N] [--keep]
       [--only q1,q2] [--render SCALING.json]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SCRATCH = Path("/tmp/spark_graft_scale")


def build_scaled(src_dir: str, out_dir: Path, n: int, mode: str = "shuffled") -> None:
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.session import get_spark

    spark = get_spark(
        app_name="scale-gen", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    reps = spark.range(n).select(F.col("id").cast("long").alias("_rep"))

    def load(t):
        return spark.read.parquet(f"{src_dir}/{t}.parquet")

    def offset(df, col, base):
        return df.withColumn(col, (F.col(col) + F.col("_rep") * F.lit(base)).cast("long"))

    def write(df, t):
        # scratch files mirror the testdata layout: one dir per table
        # name is fine — schemas.load_tables reads by glob path
        df.drop("_rep").repartition(32).write.mode("overwrite").parquet(
            str(out_dir / f"{t}.parquet")
        )

    def key_base(df, col):
        return df.agg(F.max(col)).collect()[0][0] + 1

    cust = load("customer")
    supp = load("supplier")
    part = load("part")
    orders = load("orders")
    li = load("lineitem")
    events = load("events")
    docs = load("documents")
    emb = load("embeddings")

    k_c = key_base(cust, "c_custkey")
    k_s = key_base(supp, "s_suppkey")
    k_p = key_base(part, "p_partkey")
    k_o = key_base(orders, "o_orderkey")
    k_e = key_base(events, "event_id")
    k_u = key_base(events, "user_id")
    k_d = key_base(docs, "doc_id")
    k_v = key_base(emb, "vec_id")

    for t in ("region", "nation"):
        write(load(t).withColumn("_rep", F.lit(0)), t)

    write(offset(cust.crossJoin(reps), "c_custkey", k_c), "customer")
    write(offset(supp.crossJoin(reps), "s_suppkey", k_s), "supplier")
    write(offset(part.crossJoin(reps), "p_partkey", k_p), "part")
    o = offset(offset(orders.crossJoin(reps), "o_orderkey", k_o), "o_custkey", k_c)
    write(o, "orders")
    l = offset(
        offset(offset(li.crossJoin(reps), "l_orderkey", k_o), "l_partkey", k_p),
        "l_suppkey",
        k_s,
    )
    write(l, "lineitem")
    write(
        offset(offset(events.crossJoin(reps), "event_id", k_e), "user_id", k_u),
        "events",
    )

    d = offset(docs.crossJoin(reps), "doc_id", k_d)
    words = F.split(F.col("text"), " ")
    if mode == "shuffled":
        # per-replica content-hash word shuffle (see module docstring);
        # recompute n_chars for consistency (multi-space runs collapse)
        hashed = F.transform(
            words,
            lambda w: F.struct(F.xxhash64(w, F.col("_rep")).alias("h"), w.alias("w")),
        )
        replica_text = F.concat_ws(
            " ", F.transform(F.sort_array(hashed), lambda s: s["w"])
        )
    elif mode == "natural":
        # NATURAL-DENSITY replicas: keep every document's word ORDER
        # and repetition structure, but rewrite each distinct word to a
        # per-(word, replica) pseudo-token (base-36 of xxhash64).  Each
        # replica is then an exact structural isomorph of the original
        # corpus — within-replica near-dup density is the sf0.1
        # corpus's own natural rate — while cross-replica shingle
        # overlap is zero (disjoint token spaces).  This is the corpus
        # where dedup-rung scaling exponents measure COMPUTE, not pair
        # output: the shuffled mode's hash-sort groups repeated words
        # into runs, inflating within-replica near-dup density.
        replica_text = F.concat_ws(
            " ",
            F.transform(
                words,
                lambda w: F.lower(
                    F.conv(
                        F.abs(F.xxhash64(w, F.col("_rep"))).cast("string"), 10, 36
                    )
                ),
            ),
        )
    else:
        raise ValueError(f"unknown corpus mode: {mode}")
    d = d.withColumn(
        "text", F.when(F.col("_rep") == 0, F.col("text")).otherwise(replica_text)
    ).withColumn("n_chars", F.length("text"))
    write(d, "documents")

    # nudge element (_rep % dim) by a replica-dependent epsilon: keeps
    # norms ~unchanged but breaks exact cross-replica colinearity
    e = offset(emb.crossJoin(reps), "vec_id", k_v)
    dim = F.greatest(F.size("embedding"), F.lit(1))
    tgt = (F.col("_rep") % dim).cast("int")
    eps = (F.col("_rep") % F.lit(17)).cast("float") * F.lit(0.013)
    e = e.withColumn("_tgt", tgt).withColumn("_eps", eps)
    e = e.withColumn(
        "embedding",
        F.expr(
            "transform(embedding, (x, j) -> CASE WHEN j = _tgt "
            "THEN cast(x + _eps AS float) ELSE x END)"
        ),
    ).drop("_tgt", "_eps")
    write(e, "embeddings")
    spark.stop()


def run_bench(sf_dir: str, queries: list[str] | None = None) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    if queries:
        env["SPARK_GRAFT_BENCH_QUERIES"] = ",".join(queries)
    # the stdout line is the driver's COMPACT contract (top-8 queries
    # only, to fit the 2000-char tail capture); the full per-query map
    # lives in the spread sidecar, so read that.
    spread_file = Path("/tmp/spark_graft_scaling_spread.json")
    env["SPARK_GRAFT_BENCH_SPREAD_FILE"] = str(spread_file)
    last_err = None
    for attempt in range(2):
        out = subprocess.run(
            [sys.executable, str(REPO / "bench.py")],
            capture_output=True,
            text=True,
            env=env,
            cwd=str(REPO),
        )
        if out.returncode == 0:
            return json.loads(spread_file.read_text())
        last_err = out.stderr[-4000:]
        print(f"bench failed (attempt {attempt + 1}):\n{last_err}", flush=True)
    raise RuntimeError(f"bench.py failed twice at {sf_dir}:\n{last_err}")


#: Explanations for queries whose top-step exponent legitimately
#: exceeds the linear flag line — rendered as footnotes so the flag
#: stays honest but readers see the cause.
FLAG_NOTES = {
    "semdedup": (
        "fixed-K artifact: with K centroids held constant (the oracle "
        "bakes K into the unrolled k-means), per-cell pair work grows "
        "as n²/K — though the blocked Arrow pair kernel cut the "
        "constant ~14× (96 → 7 s at sf1.6).  The production knob is "
        "K ∝ n (constant cell size), which restores linearity — "
        "semdedup_auto_k, measured near-linear in "
        "tests/test_training_ops.py; the fixed-K entry is the "
        "determinism-checked form."
    ),
    "knn_graph_lsh": (
        "if flagged, check the corpus: since round 4 the entry derives "
        "its prefix width from the corpus size (the DuckDB oracle derives "
        "the same width from count(*)), which holds bucket size — and the "
        "per-bucket Arrow top-k's quadratic term — constant in n up to "
        "2^MAX_LSH_PLANES·KNN_TARGET_BUCKET vectors.  The r3 exp ~1.05 "
        "was the since-retired pinned-SEARCH_PREFIX_BITS artifact."
    ),
    "triangle_stats": (
        "the dispatcher's DOULION branch fires on the shuffled corpus "
        "(quotient wedges > WEDGE_CUTOVER), so the top step compares an "
        "exact census at sf0.1 against a mod-4 sampled census at sf1.6 "
        "on a corpus whose pair density is itself inflated — "
        "output-bound, like the dedup rungs it gates.  Same-branch "
        "measurements: census at BOTH points on the natural corpus "
        "(triangle_stats natural exp {census_nat_exp}; branch column "
        "probed = exact_census at both) and DOULION at "
        "both points on the shuffled corpus (neardup_triangle_estimate "
        "exp {doulion_shuf_exp})."
    ),
    "dedup_jaccard_prefix_join": (
        "output-bound on the SHUFFLED corpus: the per-replica hash-sort "
        "groups repeated words into runs, so within-replica near-dup "
        "density is far above natural and pair OUTPUT grows faster than "
        "input.  The natural-density corpus table below isolates "
        "compute — see its measured exponent."
    ),
    "dedup_containment": (
        "output-bound on the shuffled corpus for the same reason as the "
        "prefix join; see the natural-density corpus exponent below."
    ),
    "minhash_band_calibration": (
        "consumes the prefix join's pair table (then a fixed ×6 config "
        "fan-out), so it inherits the shuffled corpus's inflated pair "
        "OUTPUT one-for-one; the natural-density corpus exponent below "
        "({nat_exp}) measures the plan itself."
    ),
    "dedup_ladder_report": (
        "inherits rung 2's output-bound growth on the shuffled corpus "
        "(the PPJoin prefix join above).  All four rungs are the "
        "scale-path operators — the natural-density corpus exponent "
        "below ({nat_exp}) measures the plan itself.  An earlier form "
        "that composed the quadratic baselines measured exponent 2.0 "
        "(1204 s at sf1.6)."
    ),
}


def _note_text(q: str, summary: dict) -> str:
    """Fill a FLAG_NOTES template from the MEASURED summary — footnote
    numbers must come from the same JSON as the table they annotate
    (a hand-written 0.83 once drifted against the table's 0.568)."""
    note = FLAG_NOTES[q]
    nat_all = summary.get("natural_corpus") or {}
    q_all = summary.get("queries") or {}
    nat = nat_all.get(q) or {}
    row = q_all.get(q) or {}
    fills = {
        "nat_exp": nat.get("exponent"),
        "shuf_exp": row.get("top_step_exponent"),
        # cross-query fills for the triangle dispatcher's same-branch
        # footnote: census arm = triangle_stats on the natural corpus
        # (under WEDGE_CUTOVER at both points), DOULION arm = the
        # always-mod-4 estimate entry on the shuffled corpus
        "census_nat_exp": (nat_all.get("triangle_stats") or {}).get("exponent"),
        "doulion_shuf_exp": (
            q_all.get("neardup_triangle_estimate") or {}
        ).get("top_step_exponent"),
    }
    try:
        return note.format(**fills)
    except (KeyError, IndexError):
        return note

#: Dedup rungs re-timed on the natural-density corpus, where
#: within-replica duplicate density equals the source corpus's own
#: rate (each replica is a token-rewritten structural isomorph).
DEDUP_FAMILY = [
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_jaccard_prefix_join",
    "dedup_incremental_minhash",
    "duplicated_span_report",
    "dedup_ladder_report",
    # pair-density-sensitive like the rungs it gates: the dispatcher's
    # DOULION branch only fires on the inflated shuffled corpus
    "triangle_stats",
    # always the DOULION branch (mod=4) — with triangle_stats staying
    # under WEDGE_CUTOVER (census) at both natural points, the two
    # entries give a SAME-BRANCH exponent for each dispatcher arm
    "neardup_triangle_estimate",
    # r6: consumes the prefix-join pair table, so it inherits the
    # shuffled corpus's inflated pair OUTPUT exactly like the rungs
    "minhash_band_calibration",
]


def _row(times: list, top_ratio: float) -> tuple[dict, bool]:
    """One query's row — its time at each scale and the marginal
    exponent of the top step — and whether that step is flagged
    super-linear (more than 1.3x the data ratio)."""
    t_prev, t_top = times[-2], times[-1]
    measured = bool(t_prev and t_top and t_prev > 0)
    exponent = (
        round(math.log(t_top / t_prev) / math.log(top_ratio), 3) if measured else None
    )
    flag = measured and t_top > (top_ratio * 1.3) * t_prev
    return {"times_sec": times, "top_step_exponent": exponent}, flag


def _natural_row(t_small, t_nat, top_ratio: float) -> dict:
    """A dedup rung's natural-density row: sf0.1 against the scaled
    natural corpus."""
    return {
        "sf0.1_sec": t_small,
        "natural_sf_sec": t_nat,
        "exponent": (
            round(math.log(t_nat / t_small) / math.log(top_ratio), 3)
            if t_small and t_nat
            else None
        ),
    }


def _arg(flag: str) -> str | None:
    return sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else None


def main() -> int:
    if "--render" in sys.argv:
        render_md(json.loads(Path(_arg("--render")).read_text()))
        print("re-rendered SCALING.md from cached JSON")
        return 0
    only = _arg("--only").split(",") if "--only" in sys.argv else None
    # a subset run re-measures rows of the committed summary, at its scales
    summary = json.loads((REPO / "SCALING.json").read_text()) if only else {}
    replicas = summary.get("replicas") or int(_arg("--replicas") or 16)

    scaled_sf = round(0.1 * replicas, 2)
    scaled_dir = SCRATCH / f"sf{scaled_sf}"
    if not (scaled_dir / "lineitem.parquet").exists():
        print(f"synthesizing x{replicas} of sf0.1 -> {scaled_dir}", flush=True)
        build_scaled("/root/testdata/sf0.1", scaled_dir, replicas)

    scales = [
        ("/root/testdata/sf0.001", 0.001),
        ("/root/testdata/sf0.01", 0.01),
        ("/root/testdata/sf0.1", 0.1),
        (str(scaled_dir), scaled_sf),
    ]
    sfs = [str(s) for _, s in scales]
    top_ratio = scales[-1][1] / scales[-2][1]
    per_sf = {}
    for sf_dir, sf in scales:
        print(f"bench @ sf{sf} ...", flush=True)
        per_sf[str(sf)] = run_bench(sf_dir, only)["queries"]

    queries = only or list(per_sf[sfs[0]])
    rows = summary.setdefault("queries", {})
    flagged = set(summary.get("flagged_superlinear", []))
    for q in queries:
        rows[q], flag = _row([per_sf[s].get(q) for s in sfs], top_ratio)
        flagged.discard(q)
        if flag:
            flagged.add(q)
        print(f"  {q}: {rows[q]}", flush=True)

    # second corpus: natural-density replicas for the dedup rungs
    nat_queries = [q for q in DEDUP_FAMILY if q in queries]
    natural_dir = SCRATCH / f"sf{scaled_sf}_natural"
    if nat_queries and not (natural_dir / "documents.parquet").exists():
        print(f"synthesizing natural-density x{replicas} -> {natural_dir}", flush=True)
        build_scaled("/root/testdata/sf0.1", natural_dir, replicas, mode="natural")
    if nat_queries:
        print(f"bench dedup family @ sf{scaled_sf} natural corpus ...", flush=True)
        nat = run_bench(str(natural_dir), nat_queries)["queries"]
        natural = summary.setdefault("natural_corpus", {})
        for q in nat_queries:
            natural[q] = _natural_row(per_sf["0.1"].get(q), nat.get(q), top_ratio)

    summary.update(
        scales=sfs,
        replicas=replicas,
        top_step_data_ratio=top_ratio,
        totals_sec={
            s: round(sum(r["times_sec"][i] or 0 for r in rows.values()), 4)
            for i, s in enumerate(sfs)
        },
        flagged_superlinear=sorted(flagged),
    )
    if only:
        summary.setdefault("merged_rounds", []).append(
            {"queries": only, "note": "subset re-measure via scaling_curve.py --only"}
        )
    (REPO / "SCALING.json").write_text(json.dumps(summary, indent=1))
    render_md(summary)
    print(f"\nwrote SCALING.md / SCALING.json; flagged={sorted(flagged)}")

    if not (only or "--keep" in sys.argv):
        shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


def render_md(summary: dict) -> None:
    sfs = summary["scales"]
    rows = summary["queries"]
    flagged = summary["flagged_superlinear"]
    totals = summary["totals_sec"]
    top_ratio = summary["top_step_data_ratio"]
    replicas = summary["replicas"]
    span = float(sfs[-1]) / float(sfs[0])
    md = [
        "# SCALING — measured time-vs-data curve for the headline queries",
        "",
        "Generated by `scripts/scaling_curve.py`: `bench.py` (same warmup +",
        "best-of-3 noop-sink protocol) at the three provided scale factors",
        f"plus a synthesized **sf{sfs[-1]}** (sf0.1 replicated x{replicas} with",
        "per-replica key offsets; text content-hash-shuffled / embeddings",
        "nudged so duplicate structure stays natural — see the script",
        f"docstring).  Span: **{span:.0f}x** between smallest and largest.",
        "",
        "`exp` = marginal scaling exponent on the largest step",
        f"(x{top_ratio:.0f} data): `log(t_big/t_sf0.1) / log({top_ratio:.0f})`.",
        "1.0 is perfectly linear; < 1 means fixed overhead still",
        "amortizing; > 1.2 is flagged as super-linear (footnoted when the",
        "cause is understood and bounded).",
        "",
        f"**Result: {len(flagged)}/{len(rows)} queries flagged super-linear"
        + (f" — {', '.join(flagged)} (see footnotes)**" if flagged else ".**"),
        "",
        "| query | " + " | ".join(f"sf{s}" for s in sfs) + " | exp |",
        "|---|" + "---|" * (len(sfs) + 1),
    ]
    for q, r in sorted(rows.items(), key=lambda kv: -(kv[1]["times_sec"][-1] or 0)):
        cells = " | ".join("-" if t is None else f"{t:.2f}" for t in r["times_sec"])
        mark = " †" if q in FLAG_NOTES and (q in flagged or (r["top_step_exponent"] or 0) > 0.9) else ""
        md.append(f"| {q}{mark} | {cells} | {r['top_step_exponent']} |")
    md += [
        "",
        "| total | " + " | ".join(f"{totals[s]:.1f}" for s in sfs) + " | |",
        "",
        "The provided-SF span (0.001→0.1) is overhead-dominated (totals",
        "barely move across 100x data); the synthesized step is the first",
        "where data cost exceeds fixed cost, which is why the exponent is",
        "computed there.",
        "",
    ]
    natural = summary.get("natural_corpus")
    if natural:
        md += [
            "## Natural-density corpus — dedup rungs",
            "",
            "The shuffled corpus's per-replica hash-sort inflates",
            "within-replica near-dup density, so output-bound rungs look",
            "super-linear for data reasons.  This second synthesis keeps each",
            "replica a token-rewritten structural ISOMORPH of the source",
            "corpus (word order and repetition preserved, token spaces",
            "disjoint across replicas): duplicate density stays at the",
            "corpus's natural rate as it grows, so these exponents measure",
            "candidate-generation COMPUTE.",
            "",
            f"| query | sf0.1 | sf{sfs[-1]} natural | exp natural | exp shuffled |",
            "|---|---|---|---|---|",
        ]
        for q, r in sorted(
            natural.items(), key=lambda kv: -(kv[1]["natural_sf_sec"] or 0)
        ):
            shuf_exp = rows.get(q, {}).get("top_step_exponent")
            stale = " (stale: not re-measured in last merge)" if r.get("stale") else ""
            md.append(
                f"| {q}{stale} | {r['sf0.1_sec']:.2f} | {r['natural_sf_sec']:.2f} "
                f"| {r['exponent']} | {shuf_exp} |"
            )
        md.append("")
    # footnote only what the table actually marks with † — a stale
    # note under an unflagged row reads as an open issue that isn't
    notes = [
        q for q in FLAG_NOTES
        if q in rows
        and (q in flagged or (rows[q]["top_step_exponent"] or 0) > 0.9)
    ]
    if notes:
        md += ["## Footnotes", ""]
        for q in notes:
            md.append(f"- **{q}** † — {_note_text(q, summary)}")
        md.append("")
    (REPO / "SCALING.md").write_text("\n".join(md))


if __name__ == "__main__":
    raise SystemExit(main())
