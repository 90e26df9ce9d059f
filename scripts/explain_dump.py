#!/usr/bin/env python
"""Dump ``explain('formatted')`` for named queries to files.

Usage: python scripts/explain_dump.py <out_dir> <suffix> <query> [...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query — the
before/after plan evidence committed under plans/rNN/.  The session is
``bench.bench_session``, so the plans carry the benched partition
counts.  Run from the tree whose plans you want (a copy of the
pre-change commit for ``before``, the live tree for ``after``).

Every plan passes through ``stable_plan``, which is also what
``plans/manifest.json`` hashes (``tests/test_plans.py``): expression
ids (``#N``), exchange ``plan_id``s, lambda-variable suffixes
(``x_12``) and JVM identity hashes (``[B@…``) are stripped, and the
group order of a rewritten multi-DISTINCT aggregate is put in one
canonical order.  All of them follow process-global counters, not the
plan.  The manifest is the plan-identity check for a refactor; these
dumps are the readable evidence of the plans it names.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

#: The process-global parts of a plan string, and what replaces each.
_UNSTABLE = (
    (re.compile(r"#\d+L?|\[B@[0-9a-f]+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
)

_CLOSE = {"[": "]", "(": ")"}


def _sorted_group(text: str, i: int) -> tuple[str, int]:
    """The bracket or paren group opening at ``text[i]``, its elements
    sorted (each canonicalized first) and bare integers masked, and the
    index just past its close."""
    opening, items, cur = text[i], [], []
    i += 1
    while text[i] != _CLOSE[opening]:
        if text[i] in _CLOSE:
            group, i = _sorted_group(text, i)
            cur.append(group)
            continue
        if text[i] == ",":
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(text[i])
        i += 1
    items.append("".join(cur).strip())
    items = sorted("?" if s.isdigit() else s for s in items)
    return opening + ", ".join(items) + _CLOSE[opening], i + 1


def _canonical_gid_line(line: str) -> str:
    """Spark rewrites two or more DISTINCT aggregates into an ``Expand``
    tagged by a ``gid`` column, and numbers the groups in an order set by
    the expression-id counter: the gid literals, the group-by key order
    and the Expand projections permute together.  On a line that carries
    ``gid``, every list's elements are sorted and its integers masked."""
    line, out, i = re.sub(r"\bgid = \d+", "gid = ?", line), [], 0
    try:
        while i < len(line):
            if line[i] in _CLOSE:
                group, i = _sorted_group(line, i)
                out.append(group)
            else:
                out.append(line[i])
                i += 1
    except IndexError:  # an unbalanced literal: leave the line as printed
        return line
    return "".join(out)


def stable_plan(text: str) -> str:
    """``text`` (a plan string) without the parts that follow
    process-global counters; equal plans give equal strings."""
    for pattern, repl in _UNSTABLE:
        text = pattern.sub(repl, text)
    return "\n".join(
        _canonical_gid_line(line) if re.search(r"\bgid\b", line) else line
        for line in text.split("\n")
    )


def main() -> None:
    out_dir, suffix, *queries = sys.argv[1:]
    from bench import bench_session
    from storm_data_etl_service_spark.operators.registry import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session("explain_dump", sf_dir)
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for name in queries:
        df = REGISTRY[name].build(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = stable_plan(buf.getvalue())
        path = Path(out_dir) / f"{name}_{suffix}.txt"
        path.write_text(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
