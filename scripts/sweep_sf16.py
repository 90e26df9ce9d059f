#!/usr/bin/env python
"""One-shot helper: oracle-check the whole registry against the
synthesized sf1.6 tables (scripts/scaling_curve.py --keep must have
run).  Entries whose full-density ORACLE SQL is infeasible at that
density (quadratic baselines, unbounded recursions) are checked by
scripts/invariant_check.py instead: exact staged replays or an
induced subgraph.  No entry is skipped.  Chunked subprocesses so one
heavy query cannot wedge the sweep.  It stays separate from
``scaling_curve.py``: this is a correctness sweep that needs
per-chunk subprocess isolation, not a timing run.

Usage: python scripts/sweep_sf16.py [chunk_timeout_sec]

The HEAVY entries run one per chunk; give them headroom — 2100 s
covers the slowest measured oracle (crossmodal_dedup_agreement,
1441 s solo; prefix-Jaccard 483 s) plus the Spark side and session
startup, with margin for host noise.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/tmp/spark_graft_scale/sf1.6"

#: r6: the triangle-census trio left the exclusion list — their full-density
#: wedge-join oracles remain measured-infeasible (>50 GB spill at
#: 13.9M pairs), but invariant_check value-checks each on the
#: deterministic induced subgraph doc_id % 8 = 0 (~1/64 of the pair
#: graph): the SPARK side runs the identical registered plan over
#: sf1.6-scale input, the registry oracle runs VERBATIM on the
#: filtered documents view, and the compare is exact.
#: r7: the final three exclusions joined the same protocol —
#: ``minhash_accuracy_report`` / ``embedding_near_dup`` at mod 8
#: (their quadratic ground-truth oracles drop 64×; 229,606 and 33,536
#: compared rows respectively) and ``neardup_components_sql`` at
#: mod 16 (its SPARK-side recursion enumerates 2^|clique| downhill
#: walks and still trips the 50M row limit at mod 8 on the shuffled
#: corpus — the documented engine boundary; at mod 16 the walk
#: completes and compares exactly).
SUBGRAPH = [
    "neardup_triangle_count",
    "neardup_triangle_estimate",
    "triangle_stats",
]

#: the r7 trio gets its own chunk (recursion + two bulk compares)
SUBGRAPH_R7 = [
    "minhash_accuracy_report",
    "embedding_near_dup",
    "neardup_components_sql",
]

#: checked by scripts/invariant_check.py instead of the registry
#: oracle — each an EXACT replay with the blocking structure staged
#: into bounded temp-table passes: the graph fixpoints round-by-round
#: (recursive-CTE transitive closure is the only infeasible part —
#: the per-round joins are O(E) and cheap), the composed ladder rung
#: by rung (the one-query CTE composition OOMs at 80 GB; every rung
#: is feasible solo).
REPLAY = [
    "neardup_components",
    "pagerank_neardup",
    "neardup_cluster_representative",
    "dedup_ladder_report",
    # r6: both timed out their r5 chunks on a cold-cache host (>35 min
    # vs ~8 min warm in r4) because the inline oracle re-runs the whole
    # prefix-filter candidate pipeline per query.  invariant_check
    # stages the pipeline CTE-by-CTE into temp tables shared by both
    # tails — exact oracles, paid once.
    "dedup_ngram_jaccard",
    "fuzzy_neardup_distance",
    # r6: same staged PPJoin pipeline (its oracle inlines the candidate
    # SQL verbatim — one more inline run per chunk is exactly the
    # cold-cache cost the staging exists to avoid)
    "minhash_band_calibration",
]

#: feasible but minutes-long oracles (measured at sf1.6: prefix-Jaccard
#: 483 s, containment 335 s, semdedup chain ~230 s, ladder/crossmodal
#: compose them) — run ONE per chunk so a shared chunk timeout cannot
#: starve the entries after them.
HEAVY = {
    "dedup_jaccard_prefix_join",
    "dedup_containment",
    "semdedup",
    "semdedup_pairs",
    "semdedup_auto",
    "crossmodal_dedup_agreement",
    "knn_graph_lsh",
    "eval_semantic_contamination",
    # K ∝ n coarse quantizer: the oracle's unrolled Lloyd assigns
    # n × K distances per round (K≈250 at sf1.6 vs 8 fixed)
    "ann_ivf_auto",
}


def main() -> int:
    timeout = int(sys.argv[1]) if len(sys.argv) > 1 else 900

    from storm_data_etl_service_spark.operators.registry import REGISTRY

    light = [
        n for n in REGISTRY
        if n not in HEAVY and n not in REPLAY
        and n not in SUBGRAPH and n not in SUBGRAPH_R7
    ]
    heavy = [n for n in REGISTRY if n in HEAVY]
    # the staged-fixpoint replay entries share one Spark/pair build:
    # the graph trio shares one pair-graph build; the ladder's rung
    # staging (~12 min of DuckDB alone) gets its own chunk so a shared
    # timeout cannot starve either; the two PPJoin-tail entries share
    # one staged candidate pipeline (r5's pair of chunk timeouts).
    # Replay/subgraph chunks run FIRST: they carry the newest oracle
    # machinery, so a sweep cut short by the session clock still
    # records them.
    graph_trio = ("neardup_components", "pagerank_neardup",
                  "neardup_cluster_representative")
    chunks = [
        ("invariant_check.py", ["dedup_ngram_jaccard", "fuzzy_neardup_distance",
                                "minhash_band_calibration"]),
        # triangle trio: exact induced-subgraph replay (shares one
        # filtered pair-graph build inside invariant_check)
        ("invariant_check.py", SUBGRAPH),
        # r7 trio: the former exclusions, induced-subgraph replays
        # (two bulk pair compares + the bounded recursion walk)
        ("invariant_check.py", SUBGRAPH_R7),
        ("invariant_check.py", [n for n in REPLAY if n in graph_trio]),
        ("invariant_check.py", ["dedup_ladder_report"]),
    ]
    chunks += [("check_correctness.py", light[i : i + 18]) for i in range(0, len(light), 18)]
    chunks += [("check_correctness.py", [n]) for n in heavy]
    # every entry must be scheduled exactly once — a REPLAY/SUBGRAPH
    # name missing from the hand-built chunks above
    # would otherwise be silently skipped (not even a no-result row)
    covered = [n for _, chunk in chunks for n in chunk]
    missing = [n for n in REGISTRY if n not in covered]
    assert not missing, f"entries not scheduled in any chunk: {missing}"
    assert len(covered) == len(set(covered)), "entry scheduled twice"
    ok, fail, timed_out = [], [], []
    for ci, (script, chunk) in enumerate(chunks):
        print(f"chunk {ci + 1}/{len(chunks)}: {chunk[0]}..{chunk[-1]}", flush=True)
        try:
            p = subprocess.run(
                [sys.executable, str(REPO / "scripts" / script), *chunk],
                capture_output=True,
                text=True,
                env={**__import__("os").environ, "SPARK_GRAFT_CHECK_SF_DIR": SF_DIR},
                timeout=timeout,
            )
            seen = set()
            for line in p.stdout.splitlines():
                if line.startswith("  ok "):
                    name = line.split()[1]
                    ok.append(name)
                    seen.add(name)
                elif line.startswith("FAIL"):
                    name = line.split()[1].rstrip(":")
                    fail.append((name, line))
                    seen.add(name)
            for n in chunk:
                if n not in seen:
                    timed_out.append(n)
        except subprocess.TimeoutExpired as e:
            out = (e.stdout or b"").decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
            seen = set()
            for line in out.splitlines():
                if line.startswith("  ok "):
                    ok.append(line.split()[1])
                    seen.add(line.split()[1])
                elif line.startswith("FAIL"):
                    name = line.split()[1].rstrip(":")
                    fail.append((name, line))
                    seen.add(name)
            for n in chunk:
                if n not in seen:
                    timed_out.append(n)
        for name, line in fail:
            print("  " + line, flush=True)

    print(f"\nok={len(ok)} fail={len(fail)} no-result={len(timed_out)}")
    if timed_out:
        print("no-result (chunk timeout before reaching them):", ", ".join(timed_out))
    for name, line in fail:
        print("FAIL", name)
    return 1 if fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
