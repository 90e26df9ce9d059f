"""Tier-1 parity of the text-kernel twins: each Spark text builder in
``operators/text.py`` / ``operators/dedup.py`` and its DuckDB twin in
``operators/registry.py`` (plus the Python tokenizer UDTF) agree on
crafted inputs — the whitespace edge cases where Java's ``\\s``
(``[ \\t\\n\\x0B\\f\\r]``), RE2's ``\\s`` (no ``\\x0B``) and Python's
``str.split()`` (adds ``\\xa0``, ``\\x1c``-``\\x1f``, ``\\x85``) part ways."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from storm_data_etl_service_spark.operators import registry as R
from storm_data_etl_service_spark.operators.dedup import normalized_text_col
from storm_data_etl_service_spark.operators.text import (
    bigrams_col,
    bpe_count_col,
    sha_int,
    token_spans_udtf,
    tokens_col,
)

TEXTS = [
    "a\x0bb",
    "a\xa0b",
    "\x0ba b\x0b",
    "a\x1cb",
    "",
    "   ",
    "  The cat's 42 dogs!\tran\n\nHOME \x0c\r ",
    "x\x0b\x0b... y",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(TEXTS)))
    yield con
    con.close()


def _spark(docs, col):
    return {r[0]: r[1] for r in docs.select("doc_id", col).collect()}


def _duck(duck, expr):
    return dict(duck.execute(f"SELECT doc_id, {expr} FROM documents").fetchall())


def test_tokens_col_matches_tokens_sql(docs, duck):
    spark_toks = _spark(docs, tokens_col(F.col("text")))
    assert spark_toks[0] == ["a", "b"] and spark_toks[1] == ["a\xa0b"]
    assert spark_toks == _duck(duck, R._tokens_sql())


def test_bigrams_col_matches_bigrams_sql(docs, duck):
    toks = docs.withColumn("_toks", tokens_col(F.col("text")))
    assert _spark(toks, bigrams_col(F.col("_toks"))) == _duck(
        duck, R._bigrams_sql(R._tokens_sql())
    )


def test_token_spans_udtf_matches_tokens_col(spark, docs):
    udtf_rows = sorted(
        tuple(r) for r in token_spans_udtf(spark, {"documents": docs}).collect()
    )
    exploded = sorted(
        (r[0], r[1] + 1, r[2], len(r[2]))
        for r in docs.select(
            "doc_id", F.posexplode(tokens_col(F.col("text")))
        ).collect()
    )
    assert udtf_rows == exploded


def test_normalized_text_col_matches_norm_text_sql(docs, duck):
    spark_norm = _spark(docs, normalized_text_col(F.col("text")))
    assert spark_norm[2] == "a b"
    assert spark_norm == _duck(duck, R._norm_text_sql())


def test_bpe_count_col_matches_bpe_count_sql(docs, duck):
    assert _spark(docs, bpe_count_col(F.col("text"))) == _duck(
        duck, R._bpe_count_sql()
    )


@pytest.mark.parametrize("start,width", [(1, 8), (9, 8), (1, 15)])
def test_sha_int_matches_sha_int_sql(docs, duck, start, width):
    assert _spark(docs, sha_int(F.col("text"), start, width)) == _duck(
        duck, R._sha_int_sql("text", start, width)
    )
