#!/usr/bin/env python
"""Dump ``explain('formatted')`` for named queries to files.

Usage: python scripts/explain_dump.py <out_dir> <suffix> <query> [...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query — the
before/after plan evidence committed under plans/rNN/.  The session is
``bench.bench_session``, so the plans carry the benched partition
counts.  Run from the tree whose plans you want (a copy of the
pre-change commit for ``before``, the live tree for ``after``).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


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
        path = Path(out_dir) / f"{name}_{suffix}.txt"
        path.write_text(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
