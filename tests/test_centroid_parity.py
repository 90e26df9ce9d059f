"""Tier-1 DuckDB parity for the centroid family: the Spark rows of
every k-means / label-centroid registry entry equal its DuckDB oracle
at the sf0.001 fixture — value-exact and type-exact, compared the way
``scripts/check_correctness.py`` compares them."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pytest

from storm_data_etl_service_spark.operators.registry import REGISTRY

REPO = Path(__file__).resolve().parent.parent

CENTROID_FAMILY = [
    "semdedup_pairs",
    "semdedup_auto",
    "ann_ivf_search",
    "ann_ivf_auto",
    "ann_pq_search",
    "nearest_centroid_accuracy",
    "embedding_label_centroids",
    "centroid_similarity_matrix",
    "label_separability_report",
]


@pytest.fixture(scope="module")
def cc():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", REPO / "scripts" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck(cc, sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in cc.TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", CENTROID_FAMILY)
def test_centroid_family_matches_oracle(spark, sf_dir, cc, duck, name):
    sdf = REGISTRY[name].build(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(REGISTRY[name].oracle)
    dcols, dtypes, drows = list(rel.columns), list(rel.types), rel.fetchall()
    assert cc.type_mismatches(sdf.dtypes, dcols, dtypes) == []
    scols, sdata = cc.normalize_result(sdf.columns, srows)
    assert (scols, sdata) == cc.normalize_result(dcols, drows)
    assert sdata, f"{name}: empty result proves nothing"
