"""Bind-time oracle type lint, wired into the suite.

The driver's value hash is type-sensitive: DuckDB binds integer
``sum()`` as HUGEINT (int128) and decimal arithmetic as DECIMAL(p,s),
neither of which Spark can emit, so an oracle whose final column carries
one of those types hash-mismatches the driver even when every value is
identical (r1 ``funnel_conversion``, r2 ``corpus_curation_pipeline``).
These tests bind every oracle in DuckDB (planning only — nothing
executes, no Spark session; < 5 s total) and fail on any forbidden
final-output type, so the class cannot be reintroduced.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_spec = importlib.util.spec_from_file_location(
    "oracle_typecheck", REPO / "scripts" / "oracle_typecheck.py"
)
otc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(otc)


def test_all_oracles_bind_with_spark_representable_types():
    import __spark_entry__ as entrymod

    con = otc.connect_views()
    flagged, bound = otc.bind_all(entrymod.oracle_sql(), con)
    assert len(bound) == len(entrymod.queries())  # every entry has an oracle
    assert not flagged, (
        "oracles with HUGEINT/DECIMAL/unsigned final columns "
        f"(driver hash will red these): {flagged}"
    )
    assert otc.ARTIFACT.read_text() == otc.render(flagged, bound), (
        "ORACLE_TYPES.md is stale; run scripts/oracle_typecheck.py --write-artifact"
    )


def test_lint_catches_reintroduced_hugeint():
    """Negative control: an uncast integer sum must be flagged."""
    import duckdb

    con = duckdb.connect()
    flagged, _ = otc.bind_all(
        {
            "bad_sum": "SELECT sum(x) AS s FROM (VALUES (1),(2)) t(x)",
            "bad_decimal": "SELECT x * 50.0 AS v FROM (VALUES (1),(2)) t(x)",
            "good": "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1),(2)) t(x)",
        },
        con,
    )
    assert flagged == {
        "bad_sum": [("s", "hugeint")],
        "bad_decimal": [("v", "decimal")],
    }


def test_checker_type_canonicalization():
    """check_correctness's canonical kinds agree across engines and
    catch the int-vs-hugeint and double-vs-decimal divergences."""
    import duckdb

    _cspec = importlib.util.spec_from_file_location(
        "check_correctness", REPO / "scripts" / "check_correctness.py"
    )
    cc = importlib.util.module_from_spec(_cspec)
    _cspec.loader.exec_module(cc)

    con = duckdb.connect()
    rel = con.sql(
        "SELECT sum(x) AS s, avg(x) AS a, 'z' AS t, CAST(x AS BIGINT) AS b,"
        " [x, x] AS arr FROM (VALUES (1),(2)) t(x) GROUP BY x, arr"
    )
    spark_dtypes = [
        ("s", "bigint"),  # hugeint on the duck side -> mismatch
        ("a", "double"),
        ("t", "string"),
        ("b", "bigint"),
        ("arr", "array<int>"),
    ]
    mm = cc.type_mismatches(spark_dtypes, list(rel.columns), list(rel.types))
    assert mm == [("s", "i", "hugeint")]


def _load_checker():
    _cspec = importlib.util.spec_from_file_location(
        "check_correctness", REPO / "scripts" / "check_correctness.py"
    )
    cc = importlib.util.module_from_spec(_cspec)
    _cspec.loader.exec_module(cc)
    return cc


def test_checker_rejects_nonscalar_output_columns():
    """The grading driver canonicalizes results with a pandas
    ``sort_values`` over every raw column; a list cell is unhashable
    there, so an array-output query ERRORS the gate (r5:
    embedding_power_iteration).  The local checker must be at least
    as strict: a synthetic array-output schema is rejected by the
    dtype guard AND the raw pandas canon emulation crashes on the
    same rows the tuple-izing norm() used to wave through."""
    cc = _load_checker()
    # dtype guard: array/map/struct columns are flagged by name
    dtypes = [
        ("pos", "int"),
        ("eigenvector", "array<double>"),
        ("meta", "map<string,string>"),
        ("pair", "struct<a:int,b:int>"),
        ("val", "double"),
    ]
    assert cc.nonscalar_columns(dtypes) == ["eigenvector", "meta", "pair"]
    assert cc.nonscalar_columns([("a", "bigint"), ("b", "string")]) == []
    # canon emulation: the driver's sort crashes on list cells
    rows = [([0.1, 0.2], 1.0), ([0.3, 0.4], 2.0)]
    err = cc.driver_canon_errors(["eigenvector", "eigenvalue"], rows)
    assert err is not None and "TypeError" in err
    # and passes on scalar rows (None/NaN included)
    ok_rows = [(1, "a", None), (2, "b", 0.5), (3, None, float("nan"))]
    assert cc.driver_canon_errors(["x", "y", "z"], ok_rows) is None


def test_registry_output_schemas_are_all_scalar(spark, sf_dir):
    """Registration-time closure of the r5 gate-error class: no
    registered query may emit an array/map/struct output column.
    Schema-only — each build is planned, never executed."""
    cc = _load_checker()
    import __spark_entry__ as entrymod

    bad = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        cols = cc.nonscalar_columns(df.dtypes)
        if cols:
            bad[name] = cols
    assert not bad, f"non-scalar output columns (driver canon will err): {bad}"
