#!/usr/bin/env python
"""Bind-time oracle type lint: no Spark session, DuckDB bind only.

The grading driver's value hash is TYPE-sensitive: a DuckDB oracle whose
final column binds as HUGEINT (integer ``sum()``), DECIMAL (decimal
arithmetic), or any other type outside Spark's output set hashes
differently from the Spark result even when every value is identical
(r1 ``funnel_conversion``, r2 ``corpus_curation_pipeline``).  This lint
binds every ``oracle_sql()`` entry in DuckDB — planning only, nothing is
executed — and fails on any final output column whose type cannot map
1:1 onto a Spark result type:

* HUGEINT / UHUGEINT  (int128 — Spark's widest integer is BIGINT)
* DECIMAL(p,s)        (Spark queries here emit DOUBLE for arithmetic)
* UINTEGER / UBIGINT  (no unsigned types in Spark)

Fix at the oracle: ``CAST(sum(x) AS BIGINT)`` / ``CAST(expr AS DOUBLE)``.

Runs in < 5 s; wired into the pytest suite (tests/test_oracle_types.py)
and the regen checklist so the class cannot reappear.

Usage: python scripts/oracle_typecheck.py [--write-artifact]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# DuckDB type ids (DuckDBPyType.id) with no 1:1 Spark output type.
FORBIDDEN_IDS = {"hugeint", "uhugeint", "decimal", "uinteger", "ubigint", "usmallint", "utinyint"}


def forbidden_cols(duck_type_ids, col_names):
    """Return [(col, type_id)] for forbidden final-output columns."""
    out = []
    for name, tid in zip(col_names, duck_type_ids):
        if tid in FORBIDDEN_IDS:
            out.append((name, tid))
    return out


def bind_all(oracles, con):
    """Bind every oracle; return (flagged, bound) where flagged is
    {query: [(col, type_id)]} and bound is {query: [(col, type_id)]}."""
    flagged, bound = {}, {}
    for name in sorted(oracles):
        rel = con.sql(oracles[name])  # binds/plans only; not executed
        ids = [t.id for t in rel.types]
        bound[name] = list(zip(rel.columns, ids))
        bad = forbidden_cols(ids, rel.columns)
        if bad:
            flagged[name] = bad
    return flagged, bound


def connect_views():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


ARTIFACT = Path(__file__).resolve().parent.parent / "ORACLE_TYPES.md"


def render(flagged, bound) -> str:
    """The ``ORACLE_TYPES.md`` text for one ``bind_all`` result."""
    lines = [
        "# ORACLE_TYPES — bind-time type sweep",
        "",
        "Generated by `scripts/oracle_typecheck.py --write-artifact`.  Every",
        "`oracle_sql()` entry is bound (not executed) in DuckDB and its final",
        "output types checked against the Spark-representable set — no",
        "HUGEINT, DECIMAL, or unsigned columns may survive to the hashed result.",
        "",
        f"**{len(bound)} oracles bound; {len(flagged)} flagged.**",
        "",
    ]
    if flagged:
        lines.append("| query | column | forbidden type |")
        lines.append("|---|---|---|")
        for q, cols in sorted(flagged.items()):
            for c, t in cols:
                lines.append(f"| `{q}` | `{c}` | {t} |")
    else:
        lines.append("No forbidden final-output types in any oracle.")
    return "\n".join(lines) + "\n"


def main():
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = connect_views()
    flagged, bound = bind_all(oracles, con)
    if "--write-artifact" in sys.argv:
        ARTIFACT.write_text(render(flagged, bound))
        print(f"wrote ORACLE_TYPES.md ({len(bound)} oracles, {len(flagged)} flagged)")
    for q, cols in sorted(flagged.items()):
        for c, t in cols:
            print(f"FLAG {q}: column `{c}` binds as {t}")
    if flagged:
        print(f"\n{len(flagged)} oracles with non-Spark-representable output types")
        sys.exit(1)
    print(f"{len(bound)} oracles bound clean (no HUGEINT/DECIMAL/unsigned outputs)")


if __name__ == "__main__":
    main()
