#!/usr/bin/env python
"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at sf0.01 and
compares against ``oracle_sql()`` in DuckDB: row count, sorted column
names, order-insensitive exact value equality (the driver hashes
values, so we compare exactly — no tolerance), AND result types.

The type check exists because the driver's value hash is type-sensitive
while Python-level value comparison is width-blind: DuckDB binds integer
``sum()`` as HUGEINT (int128) where Spark emits BIGINT, and Python int
== int hides the difference even though the driver's hash does not
(r1 ``funnel_conversion``, r2 ``corpus_curation_pipeline``).  Each
column's DuckDB bind type and Spark dtype are mapped to a canonical
kind (all signed ints <= 64 bits are one kind — the driver tolerates
width there — but HUGEINT, DECIMAL, and unsigned are their own kinds
and int vs float is a mismatch) and any disagreement fails the query.

Usage: python scripts/check_correctness.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def oracle_mem_gb() -> str:
    """DuckDB ``memory_limit`` for an oracle run, in GB:
    ``$SPARK_GRAFT_ORACLE_MEM_GB`` if set, else half the enforced
    memory budget (``session._host_mem_gb``: min of MemTotal and the
    cgroup limit), at most 60 and at least 1 — the other half is left
    to the Spark driver JVM sharing the process."""
    from storm_data_etl_service_spark.session import _host_mem_gb

    if os.environ.get("SPARK_GRAFT_ORACLE_MEM_GB"):
        return os.environ["SPARK_GRAFT_ORACLE_MEM_GB"]
    budget = _host_mem_gb()
    return str(60 if budget is None else max(1, min(60, int(budget / 2))))


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_SPARK_FLOAT = {"float", "double"}
_DUCK_INT = {"tinyint", "smallint", "integer", "bigint"}
_DUCK_FLOAT = {"float", "double"}


def spark_kind(dtype):
    """Canonical kind for a Spark dtype string (``df.dtypes`` form)."""
    if dtype in _SPARK_INT:
        return "i"
    if dtype in _SPARK_FLOAT:
        return "f"
    if dtype in ("string", "varchar"):
        return "s"
    if dtype == "boolean":
        return "b"
    if dtype == "date":
        return "date"
    if dtype.startswith("timestamp"):
        return "ts"
    if dtype.startswith("decimal"):
        return "decimal"
    if dtype.startswith("array<") and dtype.endswith(">"):
        return "list:" + spark_kind(dtype[6:-1])
    return dtype  # struct/map/binary: compare raw


def duck_kind(t):
    """Canonical kind for a DuckDBPyType."""
    tid = t.id
    if tid in _DUCK_INT:
        return "i"
    if tid in _DUCK_FLOAT:
        return "f"
    if tid in ("hugeint", "uhugeint"):
        return "hugeint"
    if tid.startswith("u") and tid[1:] in _DUCK_INT:
        return "uint"
    if tid == "decimal":
        return "decimal"
    if tid == "varchar":
        return "s"
    if tid == "boolean":
        return "b"
    if tid == "date":
        return "date"
    if tid.startswith("timestamp"):
        return "ts"
    if tid == "list":
        return "list:" + duck_kind(t.children[0][1])
    return tid


def type_mismatches(spark_dtypes, duck_cols, duck_types):
    """[(col, spark_kind, duck_kind)] for columns whose kinds differ."""
    smap = {name: spark_kind(dt) for name, dt in spark_dtypes}
    out = []
    for name, dt in zip(duck_cols, duck_types):
        dk = duck_kind(dt)
        sk = smap.get(name)
        if sk is not None and sk != dk:
            out.append((name, sk, dk))
    return out


def normalize_result(col_names, rows):
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    cols = [col_names[i] for i in order]
    data = sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return cols, data


_NONSCALAR_PREFIXES = ("array<", "map<", "struct<")


def nonscalar_columns(spark_dtypes):
    """Columns whose Spark dtype the grading driver cannot
    canonicalize.

    The driver sorts the collected result with a pandas
    ``sort_values`` over every RAW column; a Python-list/dict cell is
    unhashable in pandas' factorize, so an array/map/struct output
    column ERRORS the gate before any value comparison (r5:
    embedding_power_iteration).  The local checker used to tuple-ize
    list cells and pass — more permissive than the gate it predicts.
    Registered queries must emit scalar columns only (explode arrays
    to rows); this rejects offenders up front."""
    return [
        name for name, dt in spark_dtypes if dt.startswith(_NONSCALAR_PREFIXES)
    ]


def driver_canon_errors(col_names, rows):
    """Emulate the driver's canonicalization (pandas ``sort_values``
    over all raw columns) and return the error string if it crashes,
    else None.  Belt over the dtype check above: catches unhashable
    cells that hide behind an opaque dtype."""
    import pandas as pd

    if not col_names:
        return None
    try:
        pd.DataFrame(rows, columns=list(col_names)).sort_values(
            by=sorted(col_names)
        )
    except Exception as e:  # the driver records the same as err
        return f"{type(e).__name__}: {e}"
    return None


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from storm_data_etl_service_spark.session import get_spark

    only = set(sys.argv[1:])
    if os.environ.get("SPARK_GRAFT_ADVERSARIAL"):
        # simulate the grading driver's own session: plain defaults,
        # non-UTC timezone — builders must pin what they depend on
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check_adversarial")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark(
            app_name="check_correctness",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    con = duckdb.connect()
    # keep oracle spill out of the repo (heavy recursive oracles can
    # write tens of GB of temp before finishing or being killed), and
    # CAP DuckDB's memory so heavy oracles spill instead of the kernel
    # OOM-killing the whole process (observed: the crossmodal oracle at
    # sf1.6 grew to ~108 GB RSS and died; with a cap + temp dir the
    # same query completes) — the cap leaves room for the Spark driver
    # JVM sharing the process.
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    con.execute(f"SET memory_limit='{oracle_mem_gb()}GB'")
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        # directory-layout tables (Spark writes a dir) need a glob
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, SF_DIR)
        srows = sdf.collect()
        bad_cols = nonscalar_columns(sdf.dtypes)
        canon_err = driver_canon_errors(sdf.columns, [tuple(r) for r in srows])
        if bad_cols or canon_err:
            failures.append(name)
            msg = []
            if bad_cols:
                msg.append(f"NONSCALAR output columns {bad_cols}")
            if canon_err:
                msg.append(f"DRIVER_CANON {canon_err}")
            print(f"FAIL {name}: " + " | ".join(msg))
            continue
        scols, sdata = normalize_result(sdf.columns, [tuple(r) for r in srows])
        if name not in oracles:
            print(f"  {name:32s} rows-only: {len(srows)} rows")
            continue
        rel = con.sql(oracles[name])
        dcols_raw = list(rel.columns)
        dtypes_raw = list(rel.types)
        drows = rel.fetchall()
        dcols, ddata = normalize_result(dcols_raw, drows)
        status = []
        if scols != dcols:
            status.append(f"COLS spark={scols} duck={dcols}")
        for col, sk, dk in type_mismatches(sdf.dtypes, dcols_raw, dtypes_raw):
            status.append(f"TYPE {col}: spark={sk} duck={dk}")
        if len(sdata) != len(ddata):
            status.append(f"ROWCOUNT spark={len(sdata)} duck={len(ddata)}")
        elif sdata != ddata:
            ndiff = sum(1 for a, b in zip(sdata, ddata) if a != b)
            for a, b in zip(sdata, ddata):
                if a != b:
                    status.append(f"VALUES {ndiff}/{len(sdata)} differ; first: {a} != {b}")
                    break
        if status:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(status))
        else:
            print(f"  ok {name:32s} ({len(sdata)} rows)")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("\nall queries match the oracle")


if __name__ == "__main__":
    main()
