#!/usr/bin/env python
"""Same-session interleaved multi-arm benchmark (A/B protocol).

Cross-session bench totals drift 1.2-1.7x with host load (adjudicated
r5→r6: 24 queries flagged on byte-identical untouched code), so
round-over-round diffs taken across sessions can neither confirm nor
rule out code regressions.  This harness retires that caveat BY
CONSTRUCTION: each arm is a git worktree (or the live tree), and arms
run INTERLEAVED in one session in ABBA order — arm1, ..., armN on even
rounds, armN, ..., arm1 on odd ones — so any host drift lands on every
arm equally, no arm always runs first, and the per-query paired ratio
isolates the code delta.

Per invocation each arm's own ``bench.py`` already takes best-of-3 per
query (after an sf0.001 codegen warmup); this harness repeats the
whole interleave ``--rounds`` times and reports, per query per arm,
the min over rounds (steady-state engine cost) and the median of
per-round minima (drift robustness — a regression must show in BOTH to
be flagged, mirroring scripts/bench_diff.py).

Usage:
    python scripts/bench_ab.py --out BENCH_AB_r07.json \
        r5=/tmp/ab_r5 r6=/tmp/ab_r6 r7=/root/repo
    # queries default to the intersection of every arm's BENCH_QUERIES
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import subprocess
import sys
import time
from pathlib import Path

THRESHOLD = 1.3  # paired ratio above this = regression candidate
MIN_SEC = 0.3    # below this, JVM/task-launch noise dominates


def arm_queries(arm_dir: str) -> list[str]:
    """Parse BENCH_QUERIES out of an arm's bench.py without importing
    it (two arms can't share one interpreter's module namespace)."""
    tree = ast.parse((Path(arm_dir) / "bench.py").read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "BENCH_QUERIES" for t in node.targets
        ):
            return [ast.literal_eval(e) for e in node.value.elts]
    raise SystemExit(f"no BENCH_QUERIES found in {arm_dir}/bench.py")


def git_head(arm_dir: str) -> str:
    out = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=arm_dir, capture_output=True, text=True,
    )
    dirty = subprocess.run(
        ["git", "status", "--porcelain"],
        cwd=arm_dir, capture_output=True, text=True,
    ).stdout.strip()
    head = out.stdout.strip() or "?"
    return head + ("+dirty" if dirty else "")


def run_arm(arm_dir: str, queries: list[str], sf_dir: str, spread_file: str) -> dict:
    """One full bench.py invocation in the arm's tree; returns the
    per-query [min, med, max] spread map."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_BENCH_QUERIES"] = ",".join(queries)
    env["SPARK_GRAFT_BENCH_SPREAD_FILE"] = spread_file
    r = subprocess.run(
        [sys.executable, "bench.py"], cwd=arm_dir, env=env,
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        raise SystemExit(f"bench.py failed in {arm_dir} (rc={r.returncode})")
    return json.loads(Path(spread_file).read_text())["spread"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("arms", nargs="+", help="name=path pairs, e.g. r5=/tmp/ab_r5")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None, help="comma list; default = arms' intersection")
    ap.add_argument("--out", default="BENCH_AB.json")
    args = ap.parse_args()

    arms = dict(a.split("=", 1) for a in args.arms)
    qsets = {name: arm_queries(path) for name, path in arms.items()}
    if args.queries:
        queries = [q.strip() for q in args.queries.split(",") if q.strip()]
    else:
        common = set.intersection(*(set(q) for q in qsets.values()))
        # keep first arm's declaration order for stable artifacts
        queries = [q for q in next(iter(qsets.values())) if q in common]
    sys.stderr.write(f"[bench_ab] {len(queries)} common queries, "
                     f"{len(arms)} arms x {args.rounds} rounds\n")

    samples: dict[str, dict[str, list[float]]] = {a: {} for a in arms}
    schedule = []
    t_session0 = time.time()
    for rnd in range(args.rounds):
        order = list(arms.items())
        if rnd % 2:
            order.reverse()
        for slot, (name, path) in enumerate(order):
            t0 = time.time()
            spread = run_arm(path, queries, args.sf_dir,
                             f"/tmp/bench_ab_{name}_{rnd}.json")
            schedule.append({"round": rnd, "slot": slot, "arm": name,
                             "t_start_s": round(t0 - t_session0, 1),
                             "wall_s": round(time.time() - t0, 1)})
            for q in queries:
                samples[name].setdefault(q, []).extend(spread[q])
            sys.stderr.write(f"[bench_ab] round {rnd} arm {name}: "
                             f"{round(time.time() - t0, 1)}s\n")

    def stat(name: str, q: str) -> dict:
        s = sorted(samples[name][q])
        per_round_min = sorted(
            min(samples[name][q][i * 3:(i + 1) * 3]) for i in range(args.rounds)
        )
        return {"min": s[0], "med_of_mins": per_round_min[len(per_round_min) // 2]}

    per_query = {q: {a: stat(a, q) for a in arms} for q in queries}
    arm_names = list(arms)
    pairs = [(arm_names[i], arm_names[i + 1]) for i in range(len(arm_names) - 1)]
    ratios, regressions = {}, []
    for a, b in pairs:
        key = f"{b}_vs_{a}"
        ratios[key] = {}
        for q in queries:
            sa, sb = per_query[q][a], per_query[q][b]
            r_min = round(sb["min"] / sa["min"], 3) if sa["min"] > 0 else None
            r_med = round(sb["med_of_mins"] / sa["med_of_mins"], 3) if sa["med_of_mins"] > 0 else None
            ratios[key][q] = {"min": r_min, "med": r_med}
            if (
                sa["min"] >= MIN_SEC
                and r_min is not None and r_min > THRESHOLD
                and r_med is not None and r_med > THRESHOLD
            ):
                regressions.append({"pair": key, "query": q,
                                    "ratio_min": r_min, "ratio_med": r_med,
                                    a: sa, b: sb})

    doc = {
        "protocol": {
            "design": "interleaved same-session paired arms, ABBA order",
            "rounds": args.rounds,
            "statistic": "per-arm min over rounds AND median of per-round best-of-3 minima; regression requires both ratios > threshold",
            "threshold": THRESHOLD,
            "min_sec": MIN_SEC,
            "sf_dir": args.sf_dir,
        },
        "arms": {a: {"path": p, "commit": git_head(p)} for a, p in arms.items()},
        "n_queries": len(queries),
        "totals_min": {a: round(sum(per_query[q][a]["min"] for q in queries), 3) for a in arms},
        "schedule": schedule,
        "ratios": ratios,
        "regressions": regressions,
        "per_query": per_query,
    }
    Path(args.out).write_text(json.dumps(doc, indent=1))
    print(json.dumps({"out": args.out, "n_queries": len(queries),
                      "totals_min": doc["totals_min"],
                      "n_regressions": len(regressions)}))


if __name__ == "__main__":
    main()
