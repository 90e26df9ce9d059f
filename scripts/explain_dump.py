#!/usr/bin/env python
"""Dump ``explain('formatted')`` for named queries to files.

Usage: python scripts/explain_dump.py <out_dir> <suffix> <query> [...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query — the
before/after plan evidence committed under plans/rNN/.  The session is
``bench.bench_session``, so the plans carry the benched partition
counts.  Run from the tree whose plans you want (a copy of the
pre-change commit for ``before``, the live tree for ``after``).

Expression ids (``#N``), exchange ``plan_id``s, lambda-variable
suffixes (``x_12``) and JVM identity hashes (``[B@…``) are stripped:
they follow process-global counters, not the plan, so with them gone
``diff <q>_before.txt <q>_after.txt`` is a plan-identity check.  Not
for queries with two or more DISTINCT aggregates (e.g.
``corpus_dataset_card``, ``eval_decontamination``): Spark prints their
Expand groups in an order set by the expression-id counter, so the
same code can dump either order and their diffs are not identity
checks.
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
        text = buf.getvalue()
        for pattern, repl in _UNSTABLE:
            text = pattern.sub(repl, text)
        path = Path(out_dir) / f"{name}_{suffix}.txt"
        path.write_text(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
