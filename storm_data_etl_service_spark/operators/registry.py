"""Query registry: every implemented operator as a named (Spark
builder, DuckDB oracle SQL) pair.

This is the correctness contract surface: the driver runs the Spark
side and the oracle side over the same parquet tables and hash-matches
values (BASELINE.json).  Column names and value formats are therefore
aligned field-by-field between the two dialects; order-dependent
floats are made deterministic (decimal sums, explicit tiebreaks) in
BOTH dialects.

Oracle-SQL dialect notes (DuckDB 1.0):
* ``count(*)`` → BIGINT matches Spark's LongType.
* ``row_number()`` → BIGINT, cast to INTEGER to match Spark.
* ``regexp_extract`` returns '' on no-match in both dialects.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from storm_data_etl_service_spark.operators import analytics as A
from storm_data_etl_service_spark.operators import dedup as D
from storm_data_etl_service_spark.operators import graph as G
from storm_data_etl_service_spark.operators import pipeline_ops as P
from storm_data_etl_service_spark.operators import multimodal as M
from storm_data_etl_service_spark.operators import relational as R
from storm_data_etl_service_spark.operators import similarity as S
from storm_data_etl_service_spark.operators import text as X
from storm_data_etl_service_spark.operators import windows as W
from storm_data_etl_service_spark.schemas import load_tables


@dataclass
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → non-SQL-expressible; rows-only check
    tags: tuple = field(default=())


def _t(fn):
    """Lift a tables-dict builder to the (spark, sf_dir) signature."""
    return lambda spark, sf_dir: fn(load_tables(spark, sf_dir))


_DSUM = "cast(sum(cast({expr} AS DECIMAL(25,6))) AS DOUBLE)"


def _dsum(expr: str) -> str:
    return _DSUM.format(expr=expr)


# --------------------------------------------------------------------------
# storm enrichment — the reference's whole transform chain, oracle-checked
# over an inline VALUES fixture rendered identically on both sides.
# --------------------------------------------------------------------------

def _storm_enrich_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.functions.enrich import enrich, flatten
    from storm_data_etl_service_spark.schemas import ensure_session_confs
    from storm_data_etl_service_spark.sources.storm_fixture import (
        FROZEN_CLOCK,
        spark_fixture_df,
    )

    ensure_session_confs(spark)

    df = enrich(
        spark_fixture_df(spark),
        processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"),
    )
    return flatten(df)


def _enrichment_oracle(source_sql: str, base_ts_sql: str, processed_at_sql: str) -> str:
    """The whole P1-P14 chain in DuckDB SQL over any source relation
    producing the 11 raw string columns.  Kept field-for-field aligned
    with ``functions.enrich`` — every divergence is a correctness bug
    the harness will catch."""
    iso_shape = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$"
    loc_re = r"^(\d+(?:\.\d+)?)\s+([NSEW]{1,3})\s+(.+)$"
    office_re = r"\(([A-Z]{3,5})\)\s*$"
    return f"""
WITH raw AS ({source_sql}),
p1 AS (
  SELECT *,
    CASE WHEN "EventType" IN ('hail','wind','tornado') THEN "EventType" ELSE '' END AS et,
    {base_ts_sql} AS base_ts
  FROM raw),
p2 AS (
  SELECT *,
    trim(CASE WHEN et = 'hail' THEN "Size"
              WHEN et = 'tornado' THEN regexp_replace(trim("F_Scale"), '^(EF|F)', '')
              WHEN et = 'wind' THEN "Speed"
              ELSE '' END) AS mag_str
  FROM p1),
p3 AS (
  SELECT *,
    CASE WHEN upper(mag_str) = 'UNK' THEN 0.0
         ELSE coalesce(try_cast(trim(mag_str) AS DOUBLE), 0.0) END AS raw_mag,
    coalesce(try_cast(trim("Lat") AS DOUBLE), 0.0) AS geo_lat,
    coalesce(try_cast(trim("Lon") AS DOUBLE), 0.0) AS geo_lon,
    CASE WHEN et = 'hail' THEN 'in' WHEN et = 'wind' THEN 'mph'
         WHEN et = 'tornado' THEN 'f_scale' ELSE '' END AS unit
  FROM p2),
p4 AS (
  SELECT *,
    CASE WHEN et = 'hail' AND unit = 'in' AND raw_mag >= 10
         THEN raw_mag / 100 ELSE raw_mag END AS magnitude,
    try_cast(substr(lpad(trim("Time"), 4, '0'), 1, 2) AS INTEGER) AS hh,
    try_cast(substr(lpad(trim("Time"), 4, '0'), 3, 2) AS INTEGER) AS mm,
    regexp_matches(trim("Time"), '^\\d{{3,4}}$') AS hhmm_shape,
    CASE WHEN regexp_matches(trim("Time"), '{iso_shape}')
         THEN try_strptime(substr(trim("Time"), 1, 19), '%Y-%m-%dT%H:%M:%S') END AS iso_ts
  FROM p3),
p5 AS (
  SELECT *,
    CASE WHEN trim("Time") = '' THEN base_ts
         ELSE coalesce(iso_ts,
              CASE WHEN hhmm_shape AND hh <= 23 AND mm <= 59
                   THEN make_timestamp(year(base_ts), month(base_ts), day(base_ts), hh, mm, 0.0)
                   ELSE base_ts END) END AS event_time,
    CASE WHEN raw_mag = floor(raw_mag) THEN cast(cast(raw_mag AS BIGINT) AS VARCHAR)
         ELSE cast(raw_mag AS VARCHAR) END AS mag_g
  FROM p4),
p6 AS (
  SELECT *,
    substr(sha256(concat_ws('|', et, "State", printf('%.4f', geo_lat),
                            printf('%.4f', geo_lon), trim("Time"), mag_g)), 1, 16) AS digest,
    regexp_matches("Location", '{loc_re}') AS loc_ok
  FROM p5)
SELECT
  CASE WHEN et = '' THEN digest ELSE et || '-' || digest END AS id,
  et AS event_type,
  geo_lat, geo_lon,
  magnitude AS measurement_magnitude,
  unit AS measurement_unit,
  CASE WHEN magnitude = 0 THEN NULL
       WHEN et = 'hail' THEN (CASE WHEN magnitude < 0.75 THEN 'minor'
                                   WHEN magnitude < 1.5 THEN 'moderate'
                                   WHEN magnitude < 2.5 THEN 'severe'
                                   ELSE 'extreme' END)
       WHEN et = 'wind' THEN (CASE WHEN magnitude < 50 THEN 'minor'
                                   WHEN magnitude < 74 THEN 'moderate'
                                   WHEN magnitude < 96 THEN 'severe'
                                   ELSE 'extreme' END)
       WHEN et = 'tornado' THEN (CASE WHEN magnitude <= 1 THEN 'minor'
                                      WHEN magnitude = 2 THEN 'moderate'
                                      WHEN magnitude <= 4 THEN 'severe'
                                      ELSE 'extreme' END)
       ELSE NULL END AS measurement_severity,
  event_time,
  "Location" AS location_raw,
  CASE WHEN loc_ok THEN trim(regexp_extract("Location", '{loc_re}', 3)) ELSE "Location" END AS location_name,
  CASE WHEN loc_ok THEN try_cast(regexp_extract("Location", '{loc_re}', 1) AS DOUBLE) END AS location_distance,
  CASE WHEN loc_ok THEN regexp_extract("Location", '{loc_re}', 2) END AS location_direction,
  "State" AS location_state,
  "County" AS location_county,
  "Comments" AS comments,
  regexp_extract(trim("Comments"), '{office_re}', 1) AS source_office,
  date_trunc('hour', event_time) AS time_bucket,
  {processed_at_sql} AS processed_at
FROM p6
"""


def _storm_enrich_oracle() -> str:
    from storm_data_etl_service_spark.sources.storm_fixture import duckdb_values_sql

    return _enrichment_oracle(
        duckdb_values_sql(),
        "TIMESTAMP '2024-04-26 00:00:00'",
        "TIMESTAMP '2024-04-27 06:00:00'",
    )


# --------------------------------------------------------------------------
# enrich_events — the SAME chain applied at table scale: raw storm-like
# string records are derived deterministically from `events`, so the
# enrichment is oracle-checked on 10k+ rows (and benchmarked at sf0.1),
# not just the 29 hand-written fixture rows.  The per-row base
# timestamp varies (P4 hard part: it is a column, not a constant).
# --------------------------------------------------------------------------

def _raw_from_events(ev):
    from pyspark.sql import functions as F

    uid = F.col("user_id")
    et_raw = (
        F.when(F.col("event_type") == "click", "hail")
        .when(F.col("event_type") == "view", "wind")
        .when(F.col("event_type") == "error", "tornado")
        .when(F.col("event_type") == "signup", "flood")
        .otherwise("")
    )
    time_col = (
        F.when(uid % 17 == 0, F.lit("2510"))
        .when(uid % 19 == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .otherwise(F.date_format("ts", "HHmm"))
    )
    size = F.when(et_raw == "hail", F.format_string("%.2f", F.col("value"))).otherwise("")
    fscale = F.when(
        et_raw == "tornado",
        F.when(uid % 13 == 0, F.lit("UNK")).otherwise(
            F.concat(F.lit("EF"), (uid % 6).cast("string"))
        ),
    ).otherwise("")
    speed = F.when(
        et_raw == "wind",
        F.when(uid % 13 == 0, F.lit("UNK")).otherwise((uid % 70 + 40).cast("string")),
    ).otherwise("")
    loc = (
        F.when(uid % 4 == 0, F.concat((uid % 15 + 1).cast("string"), F.lit(" NW Springfield")))
        .when(uid % 4 == 1, F.concat(F.format_string("%.1f", (uid % 30) / F.lit(2.0)), F.lit(" ESE Austin")))
        .when(uid % 4 == 2, F.lit("Anthon"))
        .otherwise("")
    )
    state = (
        F.when(uid % 5 == 0, "TX")
        .when(uid % 5 == 1, "OK")
        .when(uid % 5 == 2, "NE")
        .when(uid % 5 == 3, "IA")
        .otherwise("KS")
    )
    comments = (
        F.when(uid % 3 == 0, "auto report (SJT)")
        .when(uid % 3 == 1, "auto report (FWD)")
        .otherwise("auto report")
    )
    return ev.select(
        time_col.alias("Time"),
        size.alias("Size"),
        fscale.alias("F_Scale"),
        speed.alias("Speed"),
        loc.alias("Location"),
        F.concat(F.lit("County"), (uid % 40).cast("string")).alias("County"),
        state.alias("State"),
        F.format_string("%.2f", (uid % 100) / F.lit(10.0) + 25.0).alias("Lat"),
        F.format_string("%.2f", (uid % 200) / F.lit(10.0) - 120.0).alias("Lon"),
        comments.alias("Comments"),
        et_raw.alias("EventType"),
        F.col("ts").alias("kafka_timestamp"),
    )


def _enrich_events_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.functions.enrich import enrich, flatten
    from storm_data_etl_service_spark.sources.storm_fixture import FROZEN_CLOCK

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    raw = _raw_from_events(ev)
    return flatten(enrich(raw, processed_at=F.lit(FROZEN_CLOCK).cast("timestamp")))


_EVENTS_RAW_SQL = """SELECT
  CASE WHEN user_id % 17 = 0 THEN '2510'
       WHEN user_id % 19 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
       ELSE strftime(ts, '%H%M') END AS "Time",
  CASE WHEN et0 = 'hail' THEN printf('%.2f', value) ELSE '' END AS "Size",
  CASE WHEN et0 = 'tornado' THEN
    (CASE WHEN user_id % 13 = 0 THEN 'UNK' ELSE 'EF' || cast(user_id % 6 AS VARCHAR) END)
  ELSE '' END AS "F_Scale",
  CASE WHEN et0 = 'wind' THEN
    (CASE WHEN user_id % 13 = 0 THEN 'UNK' ELSE cast(user_id % 70 + 40 AS VARCHAR) END)
  ELSE '' END AS "Speed",
  CASE WHEN user_id % 4 = 0 THEN cast(user_id % 15 + 1 AS VARCHAR) || ' NW Springfield'
       WHEN user_id % 4 = 1 THEN printf('%.1f', (user_id % 30) / 2.0) || ' ESE Austin'
       WHEN user_id % 4 = 2 THEN 'Anthon'
       ELSE '' END AS "Location",
  'County' || cast(user_id % 40 AS VARCHAR) AS "County",
  CASE WHEN user_id % 5 = 0 THEN 'TX' WHEN user_id % 5 = 1 THEN 'OK'
       WHEN user_id % 5 = 2 THEN 'NE' WHEN user_id % 5 = 3 THEN 'IA'
       ELSE 'KS' END AS "State",
  printf('%.2f', (user_id % 100) / 10.0 + 25.0) AS "Lat",
  printf('%.2f', (user_id % 200) / 10.0 - 120.0) AS "Lon",
  CASE WHEN user_id % 3 = 0 THEN 'auto report (SJT)'
       WHEN user_id % 3 = 1 THEN 'auto report (FWD)'
       ELSE 'auto report' END AS "Comments",
  CASE WHEN et0 = 'flood' THEN 'flood' ELSE et0 END AS "EventType",
  ts AS base_src
FROM (SELECT *, CASE event_type WHEN 'click' THEN 'hail' WHEN 'view' THEN 'wind'
                WHEN 'error' THEN 'tornado' WHEN 'signup' THEN 'flood'
                ELSE '' END AS et0 FROM events) e"""


def _enrich_events_oracle() -> str:
    return _enrichment_oracle(
        _EVENTS_RAW_SQL, "base_src", "TIMESTAMP '2024-04-27 06:00:00'"
    )


# --------------------------------------------------------------------------
# oracles for the training-data operators (dedup / text / similarity)
# --------------------------------------------------------------------------

def _re2_sql(java_regex: str) -> str:
    r"""A Spark (Java) regex as a DuckDB (RE2) string literal.  Java's
    ``\s`` is ``[ \t\n\x0B\f\r]``; RE2's lacks ``\x0B``, and RE2's
    ``[:space:]`` is exactly Java's class, so every ``\s`` is rewritten
    to it (inside a bracket class or standalone)."""
    re2 = re.sub(
        r"\[[^\]]*\]|\\s",
        lambda m: m[0].replace(r"\s", "[:space:]") if m[0][0] == "[" else "[[:space:]]",
        java_regex,
    )
    return "'" + re2.replace("'", "''") + "'"


_WS_RUN_SQL = _re2_sql(r"\s+")


def _tokens_sql(text: str = "text") -> str:
    """DuckDB twin of ``text.tokens_col``: whitespace tokens, empties
    dropped."""
    return f"list_filter(regexp_split_to_array({text}, {_WS_RUN_SQL}), x -> x != '')"


def _bigrams_sql(ts: str) -> str:
    """DuckDB twin of ``text.bigrams_col``: adjacent tokens joined by a
    space; ``[]`` under two tokens (``generate_series(1, 0)`` is empty)."""
    return (
        f"list_transform(generate_series(1, len({ts}) - 1),"
        f" i -> {ts}[i] || ' ' || {ts}[i + 1])"
    )


def _sha_int_sql(expr: str, start: int = 1, width: int = 8) -> str:
    """DuckDB twin of ``text.sha_int``: ``width`` hex chars of
    ``sha256(expr)`` from ``start``, as a BIGINT."""
    return f"('0x' || substr(sha256({expr}), {start}, {width}))::BIGINT"


def _split_sql(id_col: str, rel: str) -> str:
    """The ``s`` CTE holding the batch/index boundary ``t0`` of
    ``rel`` — the twin of ``dedup.with_id_split``."""
    return f"""s AS (SELECT cast(floor((max({id_col}) + 1) * {D.INCREMENTAL_SPLIT}) AS BIGINT)
        AS t0 FROM {rel})"""


def _bloom_bits_sql(h: str = "h") -> str:
    """Bloom bit position ``i`` (bound by the caller) of the content
    key ``h`` — the twin of ``dedup.bloom_bit_positions``."""
    return f"""{_sha_int_sql(f"'bloom' || i || '|' || {h}")} % {D.BLOOM_BITS}"""


_BPE_SQL = _re2_sql(X.BPE_PATTERN)
_WS_ONLY_SQL = _re2_sql(r"^\s+$")


def _bpe_count_sql(text: str = "text") -> str:
    """DuckDB twin of ``text.bpe_count_col``."""
    return (
        f"len(list_filter(regexp_extract_all({text}, {_BPE_SQL}),"
        f" x -> NOT regexp_matches(x, {_WS_ONLY_SQL})))"
    )


def _norm_text_sql(text: str = "text") -> str:
    """DuckDB twin of ``dedup.normalized_text_col``."""
    return f"trim(regexp_replace(lower({text}), {_WS_RUN_SQL}, ' ', 'g'))"


#: pipeline_ops' train/valid/test bucket, ``_sha_key("split|", doc_id) % 100``
_SPLIT_BUCKET_SQL = _sha_int_sql("'split|' || cast(doc_id AS VARCHAR)") + " % 100"


#: Shared CTE prefix: whitespace tokens and distinct word-3-gram
#: shingles — the DuckDB twin of text.tokens_col / dedup.shingles_col.
_TOKS_CTE = f"""toks AS (
  SELECT doc_id, text, {_tokens_sql()} AS t
  FROM documents),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
    THEN list_transform(generate_series(1, len(t) - 2),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
    ELSE [] END) AS shingles
  FROM toks),
shf AS (SELECT * FROM sh WHERE len(shingles) > 0)"""

#: The naive all-shingles Jaccard definition — kept ONLY as the
#: independent ground truth for tests/test_training_ops.py's
#: oracle-equivalence check; the REGISTERED oracle below uses the same
#: prefix-filter candidate restriction as the Spark plan (provably
#: identical output, PPJoin 100%-recall bound), which keeps the DuckDB
#: side feasible at sf1.6 density where the df² shingle self-join is
#: not (>30 min vs seconds).
_NGRAM_JACCARD_NAIVE_ORACLE = f"""WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shf),
counts AS (SELECT doc_id, len(shingles) AS ns FROM shf),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
FROM common
JOIN (SELECT doc_id AS doc_a, ns AS na FROM counts) USING (doc_a)
JOIN (SELECT doc_id AS doc_b, ns AS nb FROM counts) USING (doc_b)
WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.8"""

def _rank_ctes(sets: str = "shf") -> str:
    """Rarest-first shingle ranking over a (doc_id, shingles) relation
    ``sets`` (PPJoin global order: document frequency, then shingle
    text — the sort key of ``dedup._ranked_shingles``' struct(df, s)
    sort): the ``ex``, ``dfq`` and ``ranked`` CTEs."""
    return f"""ex AS (SELECT doc_id, unnest(shingles) AS s FROM {sets}),
dfq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
ranked AS (
  SELECT doc_id, list(s ORDER BY df, s) AS ordered
  FROM ex JOIN dfq USING (s) GROUP BY doc_id)"""


_PPJOIN_RANK_CTES = f"{_TOKS_CTE},\n{_rank_ctes()}"


def _prefix_sql(theta: float, ranked: str = "ranked") -> str:
    """(doc_id, ns, s) rows of each doc's first ns - ceil(θ·ns) + 1
    rarest shingles, integer-exact through θ = p/q — the twin of
    ``dedup._prefix_rows``."""
    p, q = D.threshold_ratio(theta)
    return f"""SELECT doc_id, len(ordered) AS ns,
    unnest(ordered[1 : len(ordered) - ({p} * len(ordered) + {q - 1}) // {q} + 1]) AS s
  FROM {ranked}"""


def _jaccard_cand_sql() -> str:
    """Symmetric J ≥ θ candidates over a ``pre`` prefix relation: pairs
    sharing a prefix shingle that pass the p·max <= q·min size gate —
    the twin of ``dedup._prefix_candidates``."""
    p, q = D.threshold_ratio(D.JACCARD_THRESHOLD)
    return f"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pre a JOIN pre b
    ON a.s = b.s AND a.doc_id < b.doc_id
   AND {p} * greatest(a.ns, b.ns) <= {q} * least(a.ns, b.ns)"""


def _overlap_sql(a: str, b: str, pairs: str = "cand", sets: str = "shf") -> str:
    """``pairs`` (columns ``a``, ``b``) with the exact overlap of their
    shingle sets: common, na, nb — the twin of ``dedup._with_overlap``."""
    return f"""SELECT {a}, {b},
    len(list_intersect(sa.shingles, sb.shingles)) AS common,
    len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM {pairs}
  JOIN {sets} sa ON sa.doc_id = {a}
  JOIN {sets} sb ON sb.doc_id = {b}"""


#: |A ∩ B| / |A ∪ B| over ``_overlap_sql``'s columns (``dedup._jaccard``)
_JACCARD_SQL = "CAST(common AS DOUBLE) / (na + nb - common)"


def _jaccard_pairs_sql(v: str = "v") -> str:
    """The J ≥ θ pairs (doc_a, doc_b, jaccard) of an overlap table."""
    return f"""SELECT doc_a, doc_b, {_JACCARD_SQL} AS jaccard
FROM {v} WHERE {_JACCARD_SQL} >= {D.JACCARD_THRESHOLD}"""


# J >= 0.8 pairs must share a prefix shingle and pass the size gate;
# only those candidates are verified.
_NGRAM_JACCARD_ORACLE = f"""WITH {_PPJOIN_RANK_CTES},
pre AS ({_prefix_sql(D.JACCARD_THRESHOLD)}),
cand AS ({_jaccard_cand_sql()}),
v AS ({_overlap_sql("doc_a", "doc_b")})
{_jaccard_pairs_sql()}"""


# Directed variant: the sub side's containment prefix against the full
# super side, gated by q·n_super >= p·n_sub, verified on the candidates
# only.
_CON_P, _CON_Q = D.threshold_ratio(D.CONTAINMENT_THRESHOLD)
_CONTAINMENT_ORACLE = f"""WITH {_PPJOIN_RANK_CTES},
subp AS ({_prefix_sql(D.CONTAINMENT_THRESHOLD)}),
supf AS (SELECT doc_id AS doc_super, len(shingles) AS ns_super,
                unnest(shingles) AS s
         FROM shf),
cand AS (
  SELECT DISTINCT subp.doc_id AS doc_sub, doc_super
  FROM subp JOIN supf USING (s)
  WHERE subp.doc_id != doc_super AND {_CON_Q} * ns_super >= {_CON_P} * subp.ns),
v AS ({_overlap_sql("doc_sub", "doc_super")})
SELECT doc_sub, doc_super,
  CAST(na AS BIGINT) AS n_sub, CAST(nb AS BIGINT) AS n_super,
  CAST(common AS DOUBLE) / na AS containment,
  {_JACCARD_SQL} AS jaccard
FROM v WHERE CAST(common AS DOUBLE) / na >= {D.CONTAINMENT_THRESHOLD}"""


def _fuzzy_distance_sql(pairs: str) -> str:
    """fuzzy_neardup_distance over a Jaccard pair query ``pairs``."""
    return f"""WITH pairs AS ({pairs}),
p40 AS (SELECT doc_id, substr(text, 1, 40) AS p FROM documents)
SELECT doc_a, doc_b, levenshtein(da.p, db.p) AS prefix_edit_distance
FROM pairs
JOIN p40 da ON da.doc_id = doc_a
JOIN p40 db ON db.doc_id = doc_b"""


def _power_sql(x: str, n: int) -> str:
    """``x^n`` as the IEEE multiply chain of ``dedup._power``."""
    if n <= 3:
        return " * ".join([x] * n)
    if n % 2:
        raise ValueError(f"no multiply chain for x^{n}")
    half = _power_sql(x, n // 2)
    return f"({half}) * ({half})"


def _band_calibration_sql(jp: str) -> str:
    """minhash_band_calibration over a Jaccard pair query ``jp``: per
    banding (r, b) and 0.05 bucket, the expected detections
    1 - (1 - s^r)^b, floor-quantized to 1e-9 per pair."""

    def pow_case(col: str, x: str) -> str:
        whens = " ".join(f"WHEN {n} THEN {_power_sql(x, n)}" for n, _ in D.BAND_LAYOUTS)
        return f"CASE {col} {whens} END"

    layouts = ", ".join(f"({r}, {b})" for r, b in D.BAND_LAYOUTS)
    return f"""WITH jp AS ({jp}),
cfg AS (SELECT * FROM (VALUES {layouts}) AS c(r_rows, n_bands)),
e AS (
  SELECT cast(r_rows AS INTEGER) AS r_rows,
         cast(n_bands AS INTEGER) AS n_bands,
         floor(jaccard * 20) / 20.0 AS jaccard_bucket,
         cast(floor((1.0 - {pow_case("n_bands", "m")}) * 1e9) AS BIGINT) AS pq
  FROM (
    SELECT r_rows, n_bands, jaccard, 1.0 - {pow_case("r_rows", "jaccard")} AS m
    FROM jp CROSS JOIN cfg))
SELECT r_rows, n_bands, jaccard_bucket,
  count(*) AS n_pairs,
  cast(sum(pq) AS DOUBLE) / 1e9 AS expected_detected,
  cast(sum(pq) AS DOUBLE) / (1e9 * count(*)) AS detect_rate
FROM e GROUP BY 1, 2, 3"""


def _minhash_oracle() -> str:
    from storm_data_etl_service_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_P,
        minhash_params,
    )

    perms = ", ".join(
        f"list_min(list_transform(base, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in minhash_params()
    )
    # band i's key: signature slots i*LSH_ROWS+1 .. i*LSH_ROWS+LSH_ROWS,
    # comma-joined (the twin of dedup.lsh_band_keys); wrapped after
    # every second slot
    key = ""
    for k in range(LSH_ROWS):
        if k:
            key += " || ',' || " if k % 2 else "\n                || ',' || "
        key += f"cast(mh[{LSH_ROWS}*i+{k + 1}] AS VARCHAR)"
    return f"""WITH {_TOKS_CTE},
hashed AS (
  SELECT doc_id, list_transform(shingles,
    s -> {_sha_int_sql('s', width=15)} % {MINHASH_P}) AS base
  FROM shf),
sig AS (SELECT doc_id, [{perms}] AS mh FROM hashed),
bands AS (
  SELECT doc_id, i AS band,
         sha256({key}) AS key
  FROM sig, (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS i)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b FROM pairs"""


def _simhash_oracle() -> str:
    """Programmatically build the 64-bit SimHash in SQL, mirroring
    dedup.dedup_simhash bit-for-bit."""
    nibbles = []
    for half in ("h1", "h2"):
        for nib in range(8):
            bits = []
            for bit in range(4):
                shift = 31 - (nib * 4 + bit)
                vote = (
                    f"coalesce(list_sum(list_transform({half},"
                    f" x -> ((x >> {shift}) & 1) * 2 - 1)), 0)"
                )
                bits.append(f"(CASE WHEN {vote} > 0 THEN 1 ELSE 0 END)")
            val = f"({bits[0]}*8 + {bits[1]}*4 + {bits[2]}*2 + {bits[3]})"
            nibbles.append(f"substr('0123456789abcdef', {val} + 1, 1)")
    hex_expr = " || ".join(nibbles)
    return f"""WITH {_TOKS_CTE},
hashed AS (
  SELECT doc_id,
    list_transform(t, x -> {_sha_int_sql('x')}) AS h1,
    list_transform(t, x -> {_sha_int_sql('x', 9)}) AS h2
  FROM toks WHERE len(t) > 0)
SELECT doc_id, {hex_expr} AS simhash FROM hashed"""


_TEXT_STATS_ORACLE = rf"""WITH {_TOKS_CTE}
SELECT doc_id,
  len(t) AS n_tokens,
  length(text) AS n_chars,
  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS DOUBLE)
    / greatest(len(t), 1) AS avg_token_len,
  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
    / greatest(length(text), 1) AS punct_ratio,
  CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE)
    / greatest(len(t), 1) AS stopword_ratio
FROM toks"""


def _lang_id_oracle() -> str:
    from storm_data_etl_service_spark.operators.text import CJK_PATTERN, LANG_PATTERNS

    score = {
        lang: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for lang, pat in LANG_PATTERNS.items()
    }
    zh = f"len(regexp_extract_all(text, '{CJK_PATTERN}'))"
    return f"""SELECT doc_id,
  {score['en']} AS en_score, {score['es']} AS es_score,
  {score['de']} AS de_score, {score['fr']} AS fr_score,
  {zh} AS zh_score,
  CASE WHEN {zh} > 0 THEN 'zh'
       WHEN {score['en']} >= {score['es']} AND {score['en']} >= {score['de']}
            AND {score['en']} >= {score['fr']} THEN 'en'
       WHEN {score['es']} >= {score['de']} AND {score['es']} >= {score['fr']} THEN 'es'
       WHEN {score['de']} >= {score['fr']} THEN 'de'
       ELSE 'fr' END AS lang_pred
FROM documents"""


_FINGERPRINT_ORACLE = f"""WITH {_TOKS_CTE},
hashed AS (
  SELECT doc_id,
    list_transform(t, x -> {_sha_int_sql('x', width=15)} % 2147483647) AS hs
  FROM toks)
SELECT doc_id,
  CASE WHEN len(hs) = 0 THEN 0
       ELSE list_reduce(hs, (acc, x) -> (acc * 131 + x) % 2147483647) END AS fingerprint
FROM hashed"""

def _fold_sql(n: str, term: str) -> str:
    """Σ ``term`` over i = 1..``n`` as a sequential left fold: the one
    DuckDB spelling of the dimension loop.  It adds in the same IEEE
    order (acc ← acc + termᵢ) as the Spark ``F.aggregate`` folds and
    the Arrow kernels' ``similarity._cosine_core``, so they agree bit
    for bit."""
    return f"list_reduce(list_transform(generate_series(1, {n}), i -> {term}), (x,y) -> x+y)"


def _dot_sql(a: str, b: str) -> str:
    """a·b over ``len(b)`` components — the twin of similarity._dot."""
    return _fold_sql(f"len({b})", f"{a}[i]*{b}[i]")


def _cosine_sql(a: str, b: str) -> str:
    """The twin of similarity.cosine, bit-equal to it."""
    return f"""{_dot_sql(a, b)}
   / (sqrt({_dot_sql(a, a)})
      * sqrt({_dot_sql(b, b)}))"""


#: The embeddings as DOUBLE[] vectors: the ``e`` CTE every vector
#: oracle starts from.
_EMB_CTE = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


_ANN_TOPK_ORACLE = f"""WITH {_EMB_CTE},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
p AS (
  SELECT query_id, vec_id,
    {_cosine_sql('qv', 'v')} AS cosine
  FROM q, e WHERE vec_id != query_id)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, cast(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk FROM p)
WHERE rk <= 10"""

_NEAR_DUP_ORACLE = f"""WITH {_EMB_CTE}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  {_cosine_sql('a.v', 'b.v')} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_cosine_sql('a.v', 'b.v')} >= {S.NEAR_DUP_COSINE}"""


def _bucket_sql(n_planes: int) -> str:
    from storm_data_etl_service_spark.operators.similarity import plane_components

    bits = []
    for p in range(n_planes):
        lits = ", ".join(repr(c) for c in plane_components(p))
        proj = _fold_sql("len(v)", f"v[i] * ([{lits}]::DOUBLE[])[i]")
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _lsh_bucket_ctes(*extra: str) -> str:
    """The auto-width LSH index as CTEs — the twin of
    similarity._lsh_bucketed: ``e``, the width ``nb`` (``bits``) and
    ``bucketed`` = (vec_id, v, ``extra`` columns, pfx), pfx being the
    first ``bits`` of the MAX_LSH_PLANES sign bits."""
    from storm_data_etl_service_spark.operators.similarity import MAX_LSH_PLANES

    cols = "".join(f", {c}" for c in extra)
    return f"""{_EMB_CTE},
{_auto_bits_cte()},
fb AS (SELECT vec_id, v{cols}, {_bucket_sql(MAX_LSH_PLANES)} AS fullpfx FROM e),
bucketed AS (SELECT fb.* EXCLUDE (fullpfx), substr(fullpfx, 1, bits) AS pfx
             FROM fb, nb)"""


#: The vector norm as the extra ``nrm`` column of ``_lsh_bucket_ctes``.
_NRM = f"sqrt({_dot_sql('v', 'v')}) AS nrm"


def _lsh_buckets_oracle() -> str:
    """Twin of similarity.ann_lsh_buckets."""
    return f"""WITH {_lsh_bucket_ctes()}
SELECT vec_id, pfx AS bucket FROM bucketed"""


def _lsh_search_oracle() -> str:
    """Twin of similarity.ann_lsh_search: prefix width AND multi-probe
    radius (1 + bits hamming-1 flips) both derived from count(*)."""
    from storm_data_etl_service_spark.operators.similarity import N_QUERIES

    return f"""WITH {_lsh_bucket_ctes(_NRM)},
q0 AS (SELECT * FROM bucketed WHERE vec_id < {N_QUERIES}),
{_dyn_probe_cte('q0')},
cands AS (
  SELECT src_id AS query_id, b.vec_id,
    {_dot_sql('qv', 'b.v')} / (qn * b.nrm) AS cosine
  FROM q JOIN bucketed b ON b.pfx = q.probe_pfx AND b.vec_id != q.src_id)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, cast(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk FROM cands)
WHERE rk <= 5"""


def _auto_bits_cte() -> str:
    """The ``knn_auto_bits`` width as a DuckDB scalar over count(*) —
    closed form, so the oracle derives the IDENTICAL prefix width the
    Spark side derives from its own count (similarity.knn_auto_bits).
    n/target is a power-of-two division (exact in IEEE doubles) and
    log2 is exact at power-of-two arguments in both engines, so the
    ceil never straddles an ulp boundary differently."""
    from storm_data_etl_service_spark.operators.similarity import (
        KNN_TARGET_BUCKET,
        MAX_LSH_PLANES,
        SEARCH_PREFIX_BITS,
    )

    return f"""nb AS (
  SELECT CASE WHEN count(*) <= {KNN_TARGET_BUCKET} THEN {SEARCH_PREFIX_BITS}
         ELSE least({MAX_LSH_PLANES}, greatest({SEARCH_PREFIX_BITS},
              cast(ceil(log2(count(*) / {KNN_TARGET_BUCKET}.0)) AS INTEGER)))
         END AS bits
  FROM e)"""


def _dyn_probe_cte(src: str) -> str:
    """Multi-probe expansion at a RUNTIME prefix width: the identity
    prefix plus each hamming-1 flip at positions 1..bits — the SQL
    twin of similarity._probe_prefixes with ``bits`` read from the
    ``nb`` CTE instead of baked in."""
    return f"""q AS (
  SELECT vec_id AS src_id, v AS qv, nrm AS qn, pfx AS probe_pfx FROM {src}
  UNION ALL
  SELECT vec_id, v, nrm,
    substr(pfx, 1, i - 1)
      || (CASE WHEN substr(pfx, i, 1) = '1' THEN '0' ELSE '1' END)
      || substr(pfx, i + 1)
  FROM (SELECT vec_id, v, nrm, pfx, unnest(range(1, bits + 1)) AS i
        FROM {src}, nb))"""


def _knn_graph_oracle() -> str:
    from storm_data_etl_service_spark.operators.similarity import KNN_K

    return f"""WITH {_lsh_bucket_ctes(_NRM)},
{_dyn_probe_cte('bucketed')},
cands AS (
  SELECT src_id, b.vec_id AS dst_id,
    {_dot_sql('qv', 'b.v')} / (qn * b.nrm) AS cosine
  FROM q JOIN bucketed b ON b.pfx = q.probe_pfx AND b.vec_id != q.src_id)
SELECT src_id, dst_id, cosine, rk FROM (
  SELECT *, cast(row_number() OVER (PARTITION BY src_id
             ORDER BY cosine DESC, dst_id) AS INTEGER) AS rk FROM cands)
WHERE rk <= {KNN_K}"""


def _semantic_contam_oracle() -> str:
    from storm_data_etl_service_spark.operators.similarity import NEAR_DUP_COSINE

    return f"""WITH {_lsh_bucket_ctes(_NRM)},
{_split_sql("vec_id", "e")},
train AS (SELECT b.* FROM bucketed b, s WHERE vec_id < t0),
ev AS (SELECT b.* FROM bucketed b, s WHERE vec_id >= t0),
{_dyn_probe_cte('ev')},
cands AS (
  SELECT src_id, t.vec_id AS dst_id,
    {_dot_sql('qv', 't.v')} / (qn * t.nrm) AS cosine
  FROM q JOIN train t ON t.pfx = q.probe_pfx),
best AS (
  SELECT src_id, dst_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY src_id
               ORDER BY cosine DESC, dst_id) AS rk FROM cands)
  WHERE rk = 1)
SELECT ev.vec_id, best.dst_id AS nearest_train_id, best.cosine AS max_cosine,
  coalesce(best.cosine >= {NEAR_DUP_COSINE}, FALSE) AS contaminated
FROM ev LEFT JOIN best ON best.src_id = ev.vec_id"""


def _l2_sql(a: str, b: str, dim: int) -> str:
    """Squared L2 distance over ``dim`` components as a sequential left
    fold — the twin of similarity._l2sq, bit-equal to it."""
    return _fold_sql(str(dim), f"({a}[i]-{b}[i])*({a}[i]-{b}[i])")


def _lloyd_ctes(
    k: int | str, dim: int, train: str = "e", corpus: str = "e", tag: str = ""
) -> list[str]:
    """The twin of similarity.kmeans_centroids + _assign_cells as CTEs:
    seed ``c{tag}0`` = the k lowest vec_ids of ``train``, KMEANS_ITERS
    assign (``a{tag}i``) / update (``c{tag}i+1``) rounds over
    ``train``, and ``af{tag}`` = the final assignment of ``corpus``.
    A string ``k`` names the column of a ``kq`` CTE the caller defines
    (auto-K forms); the rounds are K-agnostic past the seed.

    Assignment is the window argmin by (distance, cid); the update
    folds each dimension in vec_id order and divides by the count,
    the IEEE order of the Spark side's vector-wise fold."""
    from storm_data_etl_service_spark.operators.similarity import KMEANS_ITERS

    def assign(cent: str, src: str) -> str:
        return f"""SELECT vec_id, v, cid FROM (
  SELECT e.vec_id, e.v, c.cid,
    row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_l2_sql('e.v', 'c.cv', dim)}, c.cid) AS rk
  FROM {src} e, {cent} c) WHERE rk = 1"""

    def update(best: str) -> str:
        return f"""SELECT cid, list(m ORDER BY pos) AS cv FROM (
  SELECT cid, pos,
    list_reduce(list(val ORDER BY vec_id), (x,y) -> x+y) / count(*) AS m
  FROM (SELECT cid, vec_id, r.pos AS pos, v[r.pos] AS val
        FROM {best}, range(1, {dim + 1}) r(pos))
  GROUP BY cid, pos) GROUP BY cid"""

    seed_from = f"{train}, kq" if isinstance(k, str) else train
    ctes = [
        f"c{tag}0 AS (SELECT cast(vec_id AS INTEGER) AS cid, v AS cv"
        f" FROM {seed_from} WHERE vec_id < {k})"
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(f"a{tag}{i} AS ({assign(f'c{tag}{i}', train)})")
        ctes.append(f"c{tag}{i + 1} AS ({update(f'a{tag}{i}')})")
    ctes.append(f"af{tag} AS ({assign(f'c{tag}{KMEANS_ITERS}', corpus)})")
    return ctes


def _label_mean_ctes(src: str = "embeddings") -> str:
    """Per-label centroid CTEs ``ex`` (label, vec_id, pos, val) and
    ``per_dim`` (label, pos, mv, cnt) over an embeddings-shaped
    relation — the twin of similarity._centroid_dims: floor(val·1e9)
    fixed-point sums, exact and partition-order-independent."""
    return f"""ex AS (
  SELECT label, vec_id, i AS pos, cast(embedding[i] AS DOUBLE) AS val
  FROM {src}, unnest(generate_series(1, len(embedding))) AS u(i)),
per_dim AS (
  SELECT label, pos,
    cast(sum(cast(floor(val * 1e9) AS DECIMAL(25,0))) AS DOUBLE)
      / (count(*) * 1e9) AS mv,
    count(*) AS cnt
  FROM ex GROUP BY label, pos)"""


def _semdedup_pairs_ctes(auto_k: bool = False) -> str:
    """Shared SemDeDup CTE chain (seeded Lloyd unroll → final
    assignments ``af`` → within-cell pairs ≥ NEAR_DUP_COSINE as
    ``pairs``), composed by both the semdedup oracle and the
    dedup-ladder rung-4 oracle.  ``auto_k=True`` derives the seed
    count K = max(KMEANS_K, ⌈n / SEMDEDUP_TARGET_CELL⌉) from
    count(*) inside the SQL — the same closed form as
    similarity.semdedup_auto_k, so the oracle replays the production
    K ∝ n knob at any scale."""
    from storm_data_etl_service_spark.operators.similarity import (
        EMBEDDING_DIM,
        KMEANS_K,
        NEAR_DUP_COSINE,
        SEMDEDUP_TARGET_CELL,
    )

    ctes = [_EMB_CTE]
    if auto_k:
        # ceil division is exact: n / 4096.0 is a power-of-two divide
        ctes.append(
            f"kq AS (SELECT greatest({KMEANS_K}, cast(ceil(count(*)"
            f" / {SEMDEDUP_TARGET_CELL}.0) AS BIGINT)) AS k FROM e)"
        )
    ctes += _lloyd_ctes("k" if auto_k else KMEANS_K, EMBEDDING_DIM)
    ctes.append(
        f"""pairs AS (
  SELECT cid, id_a, id_b, cos FROM (
    SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
      {_cosine_sql('a.v', 'b.v')} AS cos
    FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id)
  WHERE cos >= {NEAR_DUP_COSINE})"""
    )
    return ",\n".join(ctes)


def _semdedup_pairs_oracle(auto_k: bool = False) -> str:
    """SemDeDup pair list: the shared CTE chain projected to pairs."""
    return f"""WITH {_semdedup_pairs_ctes(auto_k)}
SELECT cid, id_a, id_b, cos FROM pairs"""


def _semdedup_oracle(auto_k: bool = False) -> str:
    """SemDeDup unrolled: the same seeded k-means CTE chain as the IVF
    oracle, then within-cell pairs above NEAR_DUP_COSINE and the
    min-id-wins keep flag."""
    return f"""WITH {_semdedup_pairs_ctes(auto_k)},
evidence AS (
  SELECT id_b AS vec_id, min(id_a) AS dup_of, max(cos) AS max_cos
  FROM pairs GROUP BY id_b)
SELECT af.vec_id, af.cid, ev.dup_of, ev.max_cos,
       ev.dup_of IS NULL AS kept
FROM af LEFT JOIN evidence ev ON af.vec_id = ev.vec_id"""


#: The sqrt-temperature source mixture, twin of
#: ``pipeline_ops.source_mixture_weights``: per-source weight
#: floor(√n · 1e9) / 1e9, its share, and the boost share / (n / N).
_MIXTURE_WEIGHT_CTES = """counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
staged AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * 1000000000.0) AS BIGINT) AS w
  FROM counts),
weights AS (
  SELECT source, n_docs,
    w / 1000000000.0 AS weight,
    CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS share,
    (CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE))
      / (CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE)) AS boost
  FROM staged)"""

#: Per-document copy counts, twin of ``pipeline_ops.mixture_sample_assign``:
#: floor(boost), plus one more iff the doc's sha256 draw u ∈ [0, 1)
#: falls under frac(boost).
_MIXTURE_COPIES_CTES = f"""{_MIXTURE_WEIGHT_CTES},
drawn AS (
  SELECT doc_id, d.source, boost,
    CAST({_sha_int_sql("'mix|' || doc_id")} % 1000000000
         AS DOUBLE) / 1000000000.0 AS u
  FROM documents d JOIN weights USING (source)),
copies AS (
  SELECT doc_id, source, boost,
    CAST(floor(boost) + (CASE WHEN u < boost - floor(boost) THEN 1 ELSE 0 END)
         AS BIGINT) AS n_copies
  FROM drawn)"""


# --------------------------------------------------------------------------
# the registry
# --------------------------------------------------------------------------

REGISTRY: dict[str, QuerySpec] = {
    "storm_enrich": QuerySpec(
        _storm_enrich_spark, _storm_enrich_oracle(), ("enrichment", "P1-P14")
    ),
    "enrich_events": QuerySpec(
        _enrich_events_spark, _enrich_events_oracle(), ("enrichment", "bench")
    ),
    "q1_group_count": QuerySpec(
        _t(R.q1_group_count),
        "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority",
        ("agg",),
    ),
    "q2_group_count_composite": QuerySpec(
        _t(R.q2_group_count_composite),
        "SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer"
        " GROUP BY c_nationkey, c_mktsegment",
        ("agg",),
    ),
    "q3_filter_eq_count": QuerySpec(
        _t(R.q3_filter_eq_count),
        "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R'",
        ("filter",),
    ),
    "q4_filter_conj_count": QuerySpec(
        _t(R.q4_filter_conj_count),
        "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R'"
        " AND l_linestatus = 'F' AND l_discount >= 0.05",
        ("filter",),
    ),
    "q5_filter_in_count": QuerySpec(
        _t(R.q5_filter_in_count),
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus IN ('O','F')",
        ("filter",),
    ),
    "q6_filter_threshold_count": QuerySpec(
        _t(R.q6_filter_threshold_count),
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity >= 30",
        ("filter",),
    ),
    "q7_bounding_box_count": QuerySpec(
        _t(R.q7_bounding_box_count),
        "SELECT count(*) AS n FROM part WHERE abs(p_size - 25) <= 10"
        " AND abs(p_retailprice - 1500) <= 500",
        ("filter", "geo"),
    ),
    "q8_filtered_max": QuerySpec(
        _t(R.q8_filtered_max),
        "SELECT max(l_extendedprice) AS max_price FROM lineitem WHERE l_returnflag = 'R'",
        ("agg",),
    ),
    "q9_topn": QuerySpec(
        _t(R.q9_topn),
        "SELECT c_nationkey, count(*) AS n FROM customer GROUP BY c_nationkey"
        " ORDER BY n DESC, c_nationkey LIMIT 5",
        ("agg", "topk"),
    ),
    "q9_grouped_topk": QuerySpec(
        _t(R.q9_grouped_topk),
        "SELECT c_custkey, c_nationkey, c_acctbal, rk FROM ("
        "  SELECT c_custkey, c_nationkey, c_acctbal,"
        "         cast(row_number() OVER (PARTITION BY c_nationkey"
        "              ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk"
        "  FROM customer) WHERE rk <= 3",
        ("window", "topk"),
    ),
    "q10_first_row": QuerySpec(
        _t(R.q10_first_row),
        "SELECT * FROM orders ORDER BY o_orderkey LIMIT 1",
        ("sort",),
    ),
    "q11_conditional_count": QuerySpec(
        _t(R.q11_conditional_count),
        "SELECT count(*) AS n_total,"
        " count(CASE WHEN value > 250 THEN 1 END) AS n_high_value FROM events",
        ("agg",),
    ),
    "q12_dup_detect": QuerySpec(
        _t(R.q12_dup_detect),
        "SELECT user_id, event_type, count(*) AS n FROM events"
        " GROUP BY user_id, event_type HAVING count(*) > 1",
        ("dedup",),
    ),
    "q12_dedup_first_wins": QuerySpec(
        _t(R.q12_dedup_first_wins),
        "SELECT event_id, user_id, event_type, value FROM ("
        "  SELECT event_id, user_id, event_type, value,"
        "         row_number() OVER (PARTITION BY user_id, event_type"
        "                            ORDER BY event_id) AS rk"
        "  FROM events) WHERE rk = 1",
        ("dedup", "window"),
    ),
    "q13_anti_join": QuerySpec(
        _t(R.q13_anti_join),
        "SELECT o.* FROM orders o WHERE NOT EXISTS ("
        "  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)",
        ("join",),
    ),
    "q14_join_compare": QuerySpec(
        _t(R.q14_join_compare),
        "SELECT c_custkey, c_name, n_name, c_acctbal FROM customer"
        " JOIN nation ON c_nationkey = n_nationkey",
        ("join",),
    ),
    "q15_except_all": QuerySpec(
        _t(R.q15_except_all),
        "SELECT * FROM region EXCEPT ALL SELECT * FROM region WHERE r_regionkey < 3",
        ("setop",),
    ),
    "q16_domain_violations": QuerySpec(
        _t(R.q16_domain_violations),
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus NOT IN ('O','F','P')",
        ("validation",),
    ),
    "q16_crossfield_check": QuerySpec(
        _t(R.q16_crossfield_check),
        "SELECT count(*) AS n FROM events WHERE (value > 0) != (props IS NOT NULL)",
        ("validation",),
    ),
    "q17_count_parity": QuerySpec(
        _t(R.q17_count_parity),
        "WITH a AS (SELECT event_type, count(*) AS n_a FROM events"
        "           WHERE user_id % 2 = 0 GROUP BY event_type),"
        "     b AS (SELECT event_type, count(*) AS n_b FROM events"
        "           WHERE user_id % 2 = 1 GROUP BY event_type)"
        " SELECT coalesce(a.event_type, b.event_type) AS event_type, n_a, n_b"
        " FROM a FULL OUTER JOIN b ON a.event_type = b.event_type"
        " WHERE n_a IS DISTINCT FROM n_b",
        ("validation", "join"),
    ),
    "p13_hourly_rollup": QuerySpec(
        _t(R.p13_hourly_rollup),
        "SELECT date_trunc('hour', ts) AS bucket, count(*) AS n,"
        f" {_dsum('value')} AS sum_value FROM events GROUP BY date_trunc('hour', ts)",
        ("agg", "window-time"),
    ),
    "p5_deterministic_id": QuerySpec(
        _t(R.p5_deterministic_id),
        "SELECT event_id, substr(sha256(concat_ws('|', event_type,"
        " cast(user_id AS VARCHAR), printf('%.4f', value))), 1, 16) AS content_id"
        " FROM events",
        ("id",),
    ),
    "tpch_q1_pricing_summary": QuerySpec(
        _t(R.tpch_q1_pricing_summary),
        f"""WITH agg AS (
  SELECT l_returnflag, l_linestatus,
    {_dsum('l_quantity')} AS sum_qty,
    {_dsum('l_extendedprice')} AS sum_base_price,
    {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
    {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
    {_dsum('l_discount')} AS sum_disc,
    count(*) AS count_order
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
       sum_charge, sum_qty / count_order AS avg_qty,
       sum_base_price / count_order AS avg_price,
       sum_disc / count_order AS avg_disc, count_order
FROM agg""",
        ("bench", "agg"),
    ),
    "tpch_q3_top_revenue_orders": QuerySpec(
        _t(R.tpch_q3_top_revenue_orders),
        f"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        ("bench", "join"),
    ),
    "rollup_agg": QuerySpec(
        _t(A.rollup_agg),
        "SELECT event_type, half, count(*) AS n FROM"
        " (SELECT event_type, user_id % 2 AS half FROM events)"
        " GROUP BY ROLLUP(event_type, half)",
        ("multidim",),
    ),
    "cube_agg": QuerySpec(
        _t(A.cube_agg),
        "SELECT event_type, half, count(*) AS n FROM"
        " (SELECT event_type, user_id % 2 AS half FROM events)"
        " GROUP BY CUBE(event_type, half)",
        ("multidim",),
    ),
    "grouping_sets_sql": QuerySpec(
        lambda spark, sf_dir: A.grouping_sets_sql(spark, load_tables(spark, sf_dir)),
        "SELECT event_type, user_id % 2 AS half, count(*) AS n FROM events"
        " GROUP BY GROUPING SETS ((event_type), (user_id % 2), ())",
        ("multidim", "sql-api"),
    ),
    "pivot_agg": QuerySpec(
        _t(A.pivot_agg),
        "SELECT user_id % 3 AS grp,"
        " count(CASE WHEN event_type = 'click' THEN 1 END) AS click,"
        " count(CASE WHEN event_type = 'error' THEN 1 END) AS error,"
        " count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,"
        " count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,"
        " count(CASE WHEN event_type = 'view' THEN 1 END) AS view"
        " FROM events GROUP BY user_id % 3",
        ("multidim", "pivot"),
    ),
    "intersect_all": QuerySpec(
        _t(A.intersect_all_op),
        "SELECT * FROM region INTERSECT ALL"
        " SELECT * FROM region WHERE r_regionkey >= 2",
        ("setop",),
    ),
    "distinct_counts": QuerySpec(
        _t(A.distinct_counts),
        "SELECT count(DISTINCT user_id) AS n_users,"
        " count(DISTINCT event_type) AS n_types FROM events",
        ("agg",),
    ),
    "dataset_split_assign": QuerySpec(
        _t(P.dataset_split_assign),
        f"SELECT doc_id, {_SPLIT_BUCKET_SQL} AS bucket,"
        f" CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'"
        f"      WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'valid'"
        "      ELSE 'test' END AS split"
        " FROM documents",
        ("pipeline", "split"),
    ),
    "text_scrub_pii": QuerySpec(
        _t(P.text_scrub_pii),
        r"""SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' contact user' || cast(doc_id AS VARCHAR)
             || '@example.com or 555-123-4567 ref 1234567890123',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
    '\b\d{9,}\b', '<ID>', 'g') AS scrubbed
FROM documents""",
        ("pipeline", "text"),
    ),
    "ngram_counts": QuerySpec(
        _t(P.ngram_counts),
        f"""WITH toks AS (SELECT {_tokens_sql()} AS t FROM documents),
bi AS (SELECT unnest({_bigrams_sql('t')}) AS bigram FROM toks)
SELECT bigram, count(*) AS n FROM bi GROUP BY bigram HAVING count(*) >= 40""",
        ("pipeline", "text"),
    ),
    "upsert_merge": QuerySpec(
        _t(P.upsert_merge),
        """WITH updates AS (
  SELECT doc_id, text, lang, 'updated' AS source, n_chars
  FROM documents WHERE doc_id % 10 = 0),
inserts AS (
  SELECT doc_id + 100000 AS doc_id, text, lang, 'inserted' AS source, n_chars
  FROM documents WHERE doc_id % 25 = 0),
changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
SELECT coalesce(c.doc_id, b.doc_id) AS doc_id,
       coalesce(c.text, b.text) AS text,
       coalesce(c.lang, b.lang) AS lang,
       coalesce(c.source, b.source) AS source,
       coalesce(c.n_chars, b.n_chars) AS n_chars
FROM documents b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id""",
        ("pipeline", "merge"),
    ),
    "outlier_filter_count": QuerySpec(
        _t(P.outlier_filter_count),
        """WITH p AS (SELECT quantile_cont(value, 0.99) AS q FROM events)
SELECT count(*) AS n_outliers, max(value) AS max_value
FROM events, p WHERE value > q""",
        ("pipeline", "percentile"),
    ),
    "props_extract": QuerySpec(
        _t(P.props_extract),
        "SELECT try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k,"
        " count(*) AS n FROM events GROUP BY 1",
        ("pipeline", "json"),
    ),
    "percentile_summary": QuerySpec(
        _t(A.percentile_summary),
        "SELECT l_returnflag, quantile_cont(l_extendedprice, 0.25) AS p25,"
        " quantile_cont(l_extendedprice, 0.5) AS p50,"
        " quantile_cont(l_extendedprice, 0.75) AS p75, count(*) AS n"
        " FROM lineitem GROUP BY l_returnflag",
        ("agg", "percentile"),
    ),
    "value_histogram": QuerySpec(
        _t(A.value_histogram),
        "SELECT bucket, count(*) AS n, CAST(bucket * 50.0 AS DOUBLE) AS lo,"
        " CAST((bucket + 1) * 50.0 AS DOUBLE) AS hi FROM"
        " (SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket FROM events)"
        " GROUP BY bucket",
        ("agg", "histogram"),
    ),
    "funnel_conversion": QuerySpec(
        _t(A.funnel_conversion),
        """WITH fc AS (
  SELECT user_id, min(CASE WHEN event_type = 'click' THEN ts END) AS fc
  FROM events GROUP BY user_id),
conv AS (
  SELECT fc.user_id, any_value(fc.fc) AS fc,
         max(CASE WHEN e.event_type = 'purchase' AND e.ts > fc.fc
                  THEN 1 ELSE 0 END) AS converted
  FROM fc JOIN events e USING (user_id) GROUP BY fc.user_id)
SELECT count(*) AS n_users, count(fc) AS n_clicked,
       CAST(sum(converted) AS BIGINT) AS n_converted FROM conv""",
        ("funnel", "join"),
    ),
    "fuzzy_neardup_distance": QuerySpec(
        _t(A.fuzzy_neardup_distance),
        # The dedup_jaccard_prefix_join oracle composed as the pair
        # source: prefix-filtered PPJoin, identical to the naive df²
        # shingle self-join (test_fuzzy_oracle_prefix_matches_naive
        # pins this query's full output) and feasible at sf1.6
        # density, where the common-shingle self-join was the measured
        # blocker; the Levenshtein tail stays O(candidates).
        _fuzzy_distance_sql(_NGRAM_JACCARD_ORACLE),
        ("dedup", "fuzzy"),
    ),
    "salted_group_sum": QuerySpec(
        _t(A.salted_group_sum),
        "SELECT event_type, count(*) AS n,"
        f" {_dsum('value')} AS sum_value FROM events GROUP BY event_type",
        ("agg", "skew"),
    ),
    "approx_distinct_counts": QuerySpec(
        _t(A.approx_distinct_counts),
        # The sketch estimate is approximate by design; the checked
        # contract is the exact counts + a Spark-verified error-bound
        # flag that must be literally TRUE (see analytics.py docstring).
        "SELECT count(DISTINCT user_id) AS n_users,"
        " count(DISTINCT event_type) AS n_types,"
        " TRUE AS hll_within_bound FROM events",
        ("agg", "sketch"),
    ),
    "ann_lsh_search": QuerySpec(
        _t(S.ann_lsh_search), _lsh_search_oracle(), ("similarity", "lsh")
    ),
    "tumbling_window_agg": QuerySpec(
        _t(W.tumbling_window_agg),
        f"""WITH b AS (
  SELECT make_timestamp(CAST(floor(epoch(ts)/21600)*21600 AS BIGINT)*1000000) AS bucket_start,
         value FROM events)
SELECT bucket_start, bucket_start + INTERVAL 6 HOUR AS bucket_end,
       count(*) AS n, {_dsum('value')} AS sum_value
FROM b GROUP BY bucket_start""",
        ("window-time",),
    ),
    "sliding_window_agg": QuerySpec(
        _t(W.sliding_window_agg),
        """WITH starts AS (
  SELECT make_timestamp((CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) - off)*1000000) AS bucket_start
  FROM events, (VALUES (0), (3600)) AS o(off))
SELECT bucket_start, bucket_start + INTERVAL 2 HOUR AS bucket_end, count(*) AS n
FROM starts GROUP BY bucket_start""",
        ("window-time",),
    ),
    "session_window_agg": QuerySpec(
        _t(W.session_window_agg),
        f"""WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 5 MINUTE
         THEN 0 ELSE 1 END AS new_s
  FROM events),
s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid FROM o)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 5 MINUTE AS session_end,
       count(*) AS n, {_dsum('value')} AS sum_value
FROM s GROUP BY user_id, sid""",
        ("window-time", "session"),
    ),
    "multimodal_decode_stats": QuerySpec(
        _t(M.multimodal_decode_stats),
        """SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha,
       lower(hex(encode(substr(text, 1, 4)))) AS byte_signature
FROM documents""",
        ("multimodal", "pandas-udf"),
    ),
    "dedup_exact": QuerySpec(
        _t(D.dedup_exact),
        "SELECT sha256(text) AS content_hash, min(doc_id) AS keep_doc_id,"
        " count(*) AS n_copies FROM documents GROUP BY sha256(text)",
        ("dedup",),
    ),
    "dedup_containment": QuerySpec(
        # Asymmetric near-superset detection: directed containment
        # |sub ∩ super| / |sub| >= 0.9 — catches short-doc-inside-
        # long-doc duplication that symmetric Jaccard dilutes away.
        _t(D.dedup_containment),
        # Directed prefix-filtered form (same output as the naive
        # all-pairs definition — the asymmetric PPJoin bound is exact;
        # equivalence additionally pinned in tests) — feasible at
        # sf1.6 density where the df² shingle self-join is not.
        _CONTAINMENT_ORACLE,
        ("dedup", "neardup", "containment"),
    ),
    "dedup_jaccard_prefix_join": QuerySpec(
        # Same contract as dedup_ngram_jaccard — same oracle — but via
        # the prefix-filtering plan (exact recall, no common-shingle
        # join blowup); the oracle-parity check proves the pruning
        # loses nothing.
        _t(D.dedup_jaccard_prefix_join),
        _NGRAM_JACCARD_ORACLE,
        ("dedup", "neardup", "scale"),
    ),
    "dedup_ngram_jaccard": QuerySpec(
        _t(D.dedup_ngram_jaccard), _NGRAM_JACCARD_ORACLE, ("dedup", "neardup")
    ),
    "duplicated_span_report": QuerySpec(
        _t(D.duplicated_span_report),
        f"""WITH toks AS (SELECT doc_id, {_tokens_sql()} AS t FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 9),
         i -> struct_pack(pos := i, span := array_to_string(t[i:i+9], ' ')))) AS u
  FROM toks WHERE len(t) >= 10),
gg AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM g)
SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
       min(doc_id * 1000000 + pos) // 1000000 AS first_doc_id,
       min(doc_id * 1000000 + pos) % 1000000 AS first_pos
FROM gg GROUP BY span HAVING count(DISTINCT doc_id) >= 2""",
        ("dedup", "text", "substring"),
    ),
    "dedup_minhash_lsh": QuerySpec(
        _t(D.dedup_minhash_lsh), _minhash_oracle(), ("dedup", "neardup", "lsh")
    ),
    "dedup_simhash": QuerySpec(
        _t(D.dedup_simhash), _simhash_oracle(), ("dedup", "neardup")
    ),
    "text_stats": QuerySpec(_t(X.text_stats), _TEXT_STATS_ORACLE, ("text",)),
    "text_lang_id": QuerySpec(_t(X.text_lang_id), _lang_id_oracle(), ("text",)),
    "text_fingerprint": QuerySpec(
        _t(X.text_fingerprint), _FINGERPRINT_ORACLE, ("text",)
    ),
    "text_token_count": QuerySpec(
        _t(X.text_token_count),
        f"""SELECT doc_id, len({_tokens_sql()}) AS n_ws_tokens,
  {_bpe_count_sql()} AS n_bpe_tokens
FROM documents""",
        ("text",),
    ),
    "asof_join_last_click": QuerySpec(
        _t(R.asof_join_last_click),
        """SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts""",
        ("join", "temporal"),
    ),
    "range_join_pairs": QuerySpec(
        _t(R.range_join_pairs),
        """SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 5 MINUTE""",
        ("join", "temporal"),
    ),
    "ann_cosine_topk": QuerySpec(
        _t(S.ann_cosine_topk), _ANN_TOPK_ORACLE, ("similarity",)
    ),
    "embedding_near_dup": QuerySpec(
        _t(S.embedding_near_dup), _NEAR_DUP_ORACLE, ("similarity", "neardup")
    ),
    "ann_lsh_buckets": QuerySpec(
        _t(S.ann_lsh_buckets), _lsh_buckets_oracle(), ("similarity", "lsh")
    ),
    "tpch_q6_forecast_revenue": QuerySpec(
        _t(R.tpch_q6_forecast_revenue),
        f"""SELECT {_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
        ("bench", "filter"),
    ),
    "tpch_q5_regional_revenue": QuerySpec(
        _t(R.tpch_q5_regional_revenue),
        f"""SELECT n_name, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' GROUP BY n_name""",
        ("bench", "join"),
    ),
    "tpch_q4_priority_semijoin": QuerySpec(
        _t(R.tpch_q4_priority_semijoin),
        """SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority""",
        ("bench", "semijoin"),
    ),
    "tpch_q12_priority_by_linestatus": QuerySpec(
        _t(R.tpch_q12_priority_by_linestatus),
        """SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
    AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus""",
        ("bench", "join"),
    ),
    "tpch_q14_promo_revenue": QuerySpec(
        _t(R.tpch_q14_promo_revenue),
        f"""WITH agg AS (
  SELECT
    {_dsum("CASE WHEN p_type = 'PROMO'"
           " THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
      AS promo_revenue,
    {_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00')
SELECT promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_pct
FROM agg""",
        ("bench", "join"),
    ),
    "tpch_q17_small_quantity_revenue": QuerySpec(
        _t(R.tpch_q17_small_quantity_revenue),
        f"""WITH thresholds AS (
  SELECT l_partkey AS t_partkey,
    (cast(sum(cast(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*)) * 0.2
      AS qty_threshold
  FROM lineitem GROUP BY l_partkey)
SELECT {_dsum('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem JOIN thresholds ON l_partkey = t_partkey
WHERE l_quantity < qty_threshold""",
        ("bench", "decorrelate"),
    ),
    "tpch_q18_large_orders": QuerySpec(
        _t(R.tpch_q18_large_orders),
        f"""WITH big AS (
  SELECT l_orderkey, {_dsum('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 300.0)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
        ("bench", "having"),
    ),
    "tpch_q19_disjunctive_filter": QuerySpec(
        _t(R.tpch_q19_disjunctive_filter),
        f"""SELECT {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)""",
        ("bench", "disjunction"),
    ),
    "tpch_q22_idle_customers": QuerySpec(
        _t(R.tpch_q22_idle_customers),
        f"""WITH avg_bal AS (
  SELECT cast(sum(cast(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / count(*)
    AS avg_bal
  FROM customer WHERE c_acctbal > 0.0)
SELECT c_nationkey, count(*) AS numcust, {_dsum('c_acctbal')} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
GROUP BY c_nationkey""",
        ("bench", "antijoin"),
    ),
    "moving_avg_events": QuerySpec(
        _t(A.moving_avg_events),
        """SELECT user_id, event_id,
  avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS trailing_avg
FROM events""",
        ("analytics", "window-frame"),
    ),
    "balance_deciles": QuerySpec(
        _t(A.balance_deciles),
        """SELECT c_custkey, c_acctbal,
  cast(ntile(10) OVER w AS INTEGER) AS decile,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cume
FROM customer WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)""",
        ("analytics", "ranking"),
    ),
    "forward_fill_values": QuerySpec(
        _t(A.forward_fill_values),
        """SELECT user_id, event_id,
  last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM events""",
        ("analytics", "gap-fill"),
    ),
    "user_gap_stats": QuerySpec(
        _t(A.user_gap_stats),
        """WITH g AS (
  SELECT user_id,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT user_id, count(*) AS n_gaps, CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
       cast(sum(gap_us) AS DOUBLE) / count(*) AS avg_gap_us
FROM g WHERE gap_us IS NOT NULL GROUP BY user_id""",
        ("analytics", "window-func"),
    ),
    "scd2_history": QuerySpec(
        _t(A.scd2_history),
        """SELECT user_id, event_id, event_type AS state, ts AS effective_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM events""",
        ("analytics", "cdc", "window-func"),
    ),
    "salted_skew_join": QuerySpec(
        _t(A.salted_skew_join),
        """WITH dim AS (
  SELECT event_type, count(*) AS type_total FROM events GROUP BY event_type)
SELECT e.event_type, count(*) AS n, max(type_total) AS type_total
FROM events e JOIN dim USING (event_type) GROUP BY e.event_type""",
        ("scale", "skew"),
    ),
    "approx_quantile_summary": QuerySpec(
        # Sketch values are engine-specific; the checked contract is
        # the exact counts + Spark-verified rank-accuracy flags that
        # must be literally TRUE (see analytics.py docstring).  The
        # public operator ALSO emits p50_approx/p95_approx — projected
        # away here so the oracle checks the portable columns only.
        lambda spark, sf_dir: A.approx_quantile_summary(
            load_tables(spark, sf_dir)
        ).drop("p50_approx", "p95_approx"),
        "SELECT event_type, count(value) AS n_values,"
        " TRUE AS p50_within_bound, TRUE AS p95_within_bound"
        " FROM events GROUP BY event_type",
        ("analytics", "approx"),
    ),
    "text_repetition_stats": QuerySpec(
        _t(X.text_repetition_stats),
        f"""WITH toks AS (SELECT doc_id, {_tokens_sql()} AS t FROM documents),
nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
freq AS (
  SELECT doc_id, max(c) AS top, sum(c) AS total, count(*) AS dist FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM nz) GROUP BY doc_id, tok)
  GROUP BY doc_id),
bi AS (
  SELECT doc_id, len(t) - 1 AS n_bi,
    len(list_distinct({_bigrams_sql('t')})) AS d_bi
  FROM nz)
SELECT f.doc_id, CAST(total AS BIGINT) AS n_tokens,
  cast(top AS DOUBLE) / total AS top_token_share,
  cast(dist AS DOUBLE) / total AS type_token_ratio,
  CASE WHEN n_bi > 0 THEN 1 - cast(d_bi AS DOUBLE) / n_bi
       ELSE 0.0 END AS dup_bigram_frac
FROM freq f JOIN bi USING (doc_id)""",
        ("text", "quality"),
    ),
    "per_source_cap_sample": QuerySpec(
        _t(P.per_source_cap_sample),
        f"""WITH ranked AS (
  SELECT doc_id, source,
    cast(row_number() OVER (PARTITION BY source ORDER BY
      {_sha_int_sql("'cap|' || cast(doc_id AS VARCHAR)")},
      doc_id) AS INTEGER) AS sample_rank
  FROM documents)
SELECT doc_id, source, sample_rank FROM ranked WHERE sample_rank <= 10""",
        ("pipeline", "sampling"),
    ),
    "sequence_pack_assign": QuerySpec(
        _t(P.sequence_pack_assign),
        f"""WITH h AS (
  SELECT doc_id, n_chars,
    {_sha_int_sql("'pack|' || cast(doc_id AS VARCHAR)")} AS _h
  FROM documents),
laid AS (
  SELECT doc_id, _h % 8 AS bucket,
    sum(n_chars) OVER (PARTITION BY _h % 8 ORDER BY _h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stream_end,
    n_chars
  FROM h)
SELECT doc_id, bucket, CAST(stream_end - n_chars AS BIGINT) AS stream_offset,
       cast(floor((stream_end - n_chars) / 2000.0) AS BIGINT) AS seq_id
FROM laid""",
        ("pipeline", "packing"),
    ),
    "source_blocklist_filter": QuerySpec(
        _t(P.source_blocklist_filter),
        """WITH bad AS (
  SELECT source AS bad_source
  FROM documents GROUP BY source
  HAVING cast(sum(cast(n_chars AS DECIMAL(25,6))) AS DOUBLE) / count(*) < 290.0)
SELECT lang, count(*) AS n_docs
FROM documents
WHERE source NOT IN (SELECT bad_source FROM bad)
GROUP BY lang""",
        ("pipeline", "filter"),
    ),
    "eval_decontamination": QuerySpec(
        _t(P.eval_decontamination),
        f"""WITH {_TOKS_CTE},
ev AS (SELECT doc_id AS eval_doc_id, unnest(shingles) AS s FROM shf WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, unnest(shingles) AS s FROM shf WHERE doc_id % 20 != 0),
cnt AS (SELECT doc_id, len(shingles) AS ns FROM shf WHERE doc_id % 20 != 0),
hits AS (
  SELECT tr.doc_id,
         count(DISTINCT tr.s) AS hit_grams,
         count(DISTINCT ev.eval_doc_id) AS eval_docs_hit
  FROM tr JOIN ev ON tr.s = ev.s
  GROUP BY 1)
SELECT doc_id, hit_grams, eval_docs_hit,
       CAST(hit_grams AS DOUBLE) / ns AS contaminated_share
FROM hits JOIN cnt USING (doc_id)""",
        ("pipeline", "decontamination", "neardup"),
    ),
    "curation_attrition_report": QuerySpec(
        _t(P.curation_attrition_report),
        """WITH labeled AS (
  SELECT doc_id, CASE WHEN n_chars < 150 THEN 'too_short'
                      WHEN lang = 'zh' THEN 'lang_excluded' END AS stage
  FROM documents WHERE n_chars < 150 OR lang = 'zh'
  UNION ALL
  SELECT doc_id, CASE WHEN rn > 1 THEN 'exact_duplicate' ELSE 'retained' END
  FROM (SELECT doc_id,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM documents WHERE NOT (n_chars < 150 OR lang = 'zh'))),
counts AS (SELECT stage, count(*) AS n_docs FROM labeled GROUP BY stage),
num AS (SELECT stage, n_docs,
        CASE stage WHEN 'too_short' THEN 1 WHEN 'lang_excluded' THEN 2
                   WHEN 'exact_duplicate' THEN 3 ELSE 4 END AS stage_no
        FROM counts)
SELECT stage_no, stage, n_docs,
       CAST(sum(n_docs) OVER (ORDER BY stage_no DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_entering
FROM num""",
        ("pipeline", "curation", "funnel"),
    ),
    "source_mixture_weights": QuerySpec(
        _t(P.source_mixture_weights),
        f"WITH {_MIXTURE_WEIGHT_CTES}\nSELECT * FROM weights",
        ("pipeline", "mixture"),
    ),
    "corpus_curation_pipeline": QuerySpec(
        _t(P.corpus_curation_pipeline),
        f"""WITH gated AS (
  SELECT * FROM documents WHERE n_chars >= 150 AND lang <> 'zh'),
canonical AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS _rn
    FROM gated) WHERE _rn = 1),
assigned AS (
  SELECT lang, n_chars,
    CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
         WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'valid'
         ELSE 'test' END AS split
  FROM canonical)
SELECT lang, split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY lang, split""",
        ("pipeline", "curation"),
    ),
    "neardup_components": QuerySpec(
        _t(G.neardup_components),
        None,  # set below: needs the minhash oracle as a CTE
        ("dedup", "neardup", "graph", "iterative"),
    ),
}

#: The near-dup graph's label spread, the recursive twin of
#: ``graph.neardup_components``: every node of the symmetric minhash pair
#: graph paired with every label it reaches (``WITH RECURSIVE`` only).
_NEARDUP_REACH_CTES = f"""pairs AS (
{_minhash_oracle()}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
)"""

REGISTRY["neardup_components"].oracle = f"""WITH RECURSIVE {_NEARDUP_REACH_CTES}
SELECT node AS doc_id, min(label) AS component_id,
       node = min(label) AS is_canonical
FROM reach GROUP BY node"""


def _ivf_oracle(auto_k: bool = False) -> str:
    """The whole IVF pipeline — seeded k-means (fixed rounds, ordered
    double folds), cell assignment, nprobe probing, per-query top-k —
    unrolled into one DuckDB CTE chain, bit-equal to the Spark side.
    ``auto_k=True`` derives the balanced cell count K = max(KMEANS_K,
    min(⌈√(nprobe · n)⌉, n // IVF_MIN_CELL)) and the Lloyd training
    sample size min(n, IVF_TRAIN_PER_CELL · K) from count(*) inside
    the SQL — the same closed forms as similarity.ivf_auto_k (nprobe·n
    is integer-exact in a double and both engines use correctly-
    rounded IEEE sqrt, so the ceil never straddles an ulp), with
    training rounds assigning only the sample and the final pass
    assigning the full corpus, exactly like the Spark side."""
    from storm_data_etl_service_spark.operators.similarity import (
        EMBEDDING_DIM,
        IVF_MIN_CELL,
        IVF_NPROBE,
        IVF_TRAIN_PER_CELL,
        KMEANS_ITERS,
        KMEANS_K,
        N_QUERIES,
        TOPK,
    )

    ctes = [_EMB_CTE]
    if auto_k:
        ctes += [
            f"kq AS (SELECT greatest({KMEANS_K}, least("
            f"cast(ceil(sqrt({IVF_NPROBE}.0 * count(*))) AS BIGINT),"
            f" count(*) // {IVF_MIN_CELL})) AS k,"
            f" least(count(*), {IVF_TRAIN_PER_CELL} * greatest({KMEANS_K},"
            f" least(cast(ceil(sqrt({IVF_NPROBE}.0 * count(*))) AS BIGINT),"
            f" count(*) // {IVF_MIN_CELL}))) AS s FROM e)",
            # deterministic train sample: the s lowest vec_ids
            "tr AS (SELECT vec_id, v FROM ("
            "SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn"
            " FROM e), kq WHERE rn <= s)",
        ]
    ctes += _lloyd_ctes(
        "k" if auto_k else KMEANS_K, EMBEDDING_DIM, train="tr" if auto_k else "e"
    )
    final_c = f"c{KMEANS_ITERS}"
    ctes += [
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES})",
        f"""probes AS (SELECT query_id, qv, cid FROM (
  SELECT q.query_id, q.qv, c.cid,
    row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_l2_sql('q.qv', 'c.cv', EMBEDDING_DIM)}, c.cid) AS prk
  FROM q, {final_c} c) WHERE prk <= {IVF_NPROBE})""",
        """cand AS (SELECT p.query_id, p.qv, a.vec_id, a.v
  FROM probes p JOIN af a ON p.cid = a.cid WHERE a.vec_id <> p.query_id)""",
        f"""scored AS (SELECT query_id, vec_id,
  {_cosine_sql('qv', 'v')} AS cosine FROM cand)""",
    ]
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT *, cast(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk FROM scored)
WHERE rk <= {TOPK}"""


REGISTRY["ann_ivf_search"] = QuerySpec(
    _t(S.ann_ivf_search), _ivf_oracle(), ("similarity", "ivf", "iterative")
)

REGISTRY["ann_ivf_auto"] = QuerySpec(
    # The production balanced coarse quantizer as the oracle-checked
    # form: k=None derives K = max(KMEANS_K, min(⌈√(nprobe · n)⌉,
    # n // IVF_MIN_CELL)) — equalizing per-query probe work (K) with
    # per-query list-scan work (nprobe · n/K) so both stay Θ(√n); a
    # fixed K lets lists grow ∝ n and a K ∝ n rule moves the same
    # linearity into the probe.  Lloyd trains on the min(n, 32·K)
    # lowest-vec_id sample (one full-corpus pass only at the final
    # assignment); the DuckDB twin derives the IDENTICAL K and sample
    # from count(*) inside the SQL.  At the two driver-gate scales the
    # derivation lands on DIFFERENT (K, sample) operating points,
    # hash-checking the knob itself.  The fixed-K `ann_ivf_search`
    # twin stays registered for determinism history (same class as
    # semdedup vs semdedup_auto).
    lambda spark, sf_dir: S.ann_ivf_search(load_tables(spark, sf_dir), k=None),
    _ivf_oracle(auto_k=True),
    ("similarity", "ivf", "iterative", "auto-k"),
)


def _pq_oracle() -> str:
    """The whole PQ pipeline — per-subspace seeded k-means codebooks,
    vector encoding, per-query distance LUTs, ADC top-k — unrolled
    into one DuckDB CTE chain, bit-equal to the Spark side."""
    from storm_data_etl_service_spark.operators.similarity import (
        KMEANS_ITERS,
        N_QUERIES,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        TOPK,
    )

    ctes = [_EMB_CTE]
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        ctes.append(
            f"e{m} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM e)"
        )
        ctes += _lloyd_ctes(
            PQ_K, PQ_SUBDIM, train=f"e{m}", corpus=f"e{m}", tag=f"{m}_"
        )
        ctes.append(
            f"""lut{m} AS (
  SELECT q.vec_id AS query_id, c.cid AS cid{m}, {_l2_sql(f'q.v[{lo}:{hi}]', 'c.cv', PQ_SUBDIM)} AS d{m}
  FROM e q, c{m}_{KMEANS_ITERS} c WHERE q.vec_id < {N_QUERIES})"""
        )
    code_cols = ", ".join(f"af{m}_.cid AS cid{m}" for m in range(PQ_M))
    code_join = " JOIN ".join(
        ["af0_"] + [f"af{m}_ USING (vec_id)" for m in range(1, PQ_M)]
    )
    ctes.append(f"codes AS (SELECT vec_id, {code_cols} FROM {code_join})")
    lut_join = " JOIN ".join(
        ["codes JOIN lut0 USING (cid0)"]
        + [f"lut{m} USING (query_id, cid{m})" for m in range(1, PQ_M)]
    )
    adc = " + ".join(f"d{m}" for m in range(PQ_M))
    ctes.append(
        f"""scored AS (
  SELECT query_id, vec_id, {adc} AS adc_dist
  FROM {lut_join}
  WHERE vec_id <> query_id)"""
    )
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT query_id, vec_id, adc_dist, rk FROM (
  SELECT *, cast(row_number() OVER (PARTITION BY query_id
             ORDER BY adc_dist, vec_id) AS INTEGER) AS rk FROM scored)
WHERE rk <= {TOPK}"""


REGISTRY["ann_pq_search"] = QuerySpec(
    _t(S.ann_pq_search), _pq_oracle(), ("similarity", "pq", "iterative")
)


# --------------------------------------------------------------------------
# Full TPC-H shape completion (relational.py tail): the 11 remaining
# query shapes, adapted where the synthetic schema lacks partsupp /
# commit dates (see builder docstrings).
# --------------------------------------------------------------------------

REGISTRY["tpch_q2_min_cost_supplier"] = QuerySpec(
    _t(R.tpch_q2_min_cost_supplier),
    """WITH parts AS (
  SELECT p_partkey, p_name FROM part WHERE p_size <= 5 AND p_type = 'SMALL'),
offers AS (
  SELECT p_partkey, p_name, l_suppkey,
         l_extendedprice / l_quantity AS unit_price
  FROM lineitem JOIN parts ON l_partkey = p_partkey WHERE l_quantity > 0),
min_price AS (
  SELECT p_partkey AS m_partkey, min(unit_price) AS min_price
  FROM offers GROUP BY p_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_price
FROM offers
JOIN min_price ON p_partkey = m_partkey AND unit_price = min_price
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""",
    ("bench", "correlated-min"),
)

REGISTRY["tpch_q7_volume_shipping"] = QuerySpec(
    _t(R.tpch_q7_volume_shipping),
    f"""SELECT supp_nation, cust_nation, l_year,
       {_dsum('volume')} AS revenue
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         cast(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE ns.n_name IN ('NATION_1','NATION_2')
    AND nc.n_name IN ('NATION_1','NATION_2')
    AND ns.n_name <> nc.n_name
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
GROUP BY supp_nation, cust_nation, l_year""",
    ("bench", "join"),
)

REGISTRY["tpch_q8_market_share"] = QuerySpec(
    _t(R.tpch_q8_market_share),
    f"""SELECT o_year, nation_revenue, total_revenue,
       nation_revenue / total_revenue AS mkt_share
FROM (
  SELECT cast(year(o_orderdate) AS INTEGER) AS o_year,
    {_dsum("CASE WHEN n_s.n_name = 'NATION_3'"
           " THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
      AS nation_revenue,
    {_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n_s ON s_nationkey = n_s.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n_c ON c_nationkey = n_c.n_nationkey
  JOIN region ON n_c.n_regionkey = r_regionkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY o_year)""",
    ("bench", "join"),
)

REGISTRY["tpch_q9_product_type_profit"] = QuerySpec(
    _t(R.tpch_q9_product_type_profit),
    f"""SELECT n_name AS nation, cast(year(o_orderdate) AS INTEGER) AS o_year,
  {_dsum('l_extendedprice * (1 - l_discount)'
         ' - 0.1 * p_retailprice * l_quantity')} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)""",
    ("bench", "join"),
)

REGISTRY["tpch_q10_returned_items"] = QuerySpec(
    _t(R.tpch_q10_returned_items),
    f"""WITH per_cust AS (
  SELECT o_custkey, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY o_custkey)
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey LIMIT 20""",
    ("bench", "join"),
)

REGISTRY["tpch_q11_important_values"] = QuerySpec(
    _t(R.tpch_q11_important_values),
    f"""WITH vals AS (
  SELECT l_partkey, {_dsum('l_extendedprice')} AS part_value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey IN (0, 1)
  GROUP BY l_partkey),
total AS (
  SELECT cast(sum(cast(part_value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
  FROM vals)
SELECT l_partkey, part_value FROM vals, total
WHERE part_value > total_value * 0.001
ORDER BY part_value DESC, l_partkey""",
    ("bench", "scalar-threshold"),
)

REGISTRY["tpch_q13_customer_distribution"] = QuerySpec(
    _t(R.tpch_q13_customer_distribution),
    """WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN (SELECT o_orderkey, o_custkey FROM orders
                   WHERE o_orderpriority <> '1-URGENT') o
    ON c_custkey = o_custkey
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""",
    ("bench", "outer-join"),
)

REGISTRY["tpch_q15_top_supplier"] = QuerySpec(
    _t(R.tpch_q15_top_supplier),
    """WITH revenue AS (
  SELECT l_suppkey,
         sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
           AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-10-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, cast(total_rev_dec AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_dec = (SELECT max(total_rev_dec) FROM revenue)
ORDER BY s_suppkey""",
    ("bench", "scalar-max"),
)

REGISTRY["tpch_q16_supplier_part_counts"] = QuerySpec(
    _t(R.tpch_q16_supplier_part_counts),
    """SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    ("bench", "distinct-agg"),
)

REGISTRY["tpch_q20_excess_shippers"] = QuerySpec(
    _t(R.tpch_q20_excess_shippers),
    f"""WITH shipped AS (
  SELECT l_suppkey, {_dsum('l_quantity')} AS red_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey),
avg_qty AS (
  SELECT cast(sum(cast(red_qty AS DECIMAL(25,6))) AS DOUBLE) / count(*)
    AS avg_qty
  FROM shipped)
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM shipped, avg_qty
                    WHERE red_qty > avg_qty)
ORDER BY s_suppkey""",
    ("bench", "semijoin"),
)

REGISTRY["tpch_q21_waiting_suppliers"] = QuerySpec(
    _t(R.tpch_q21_waiting_suppliers),
    """SELECT s_name, numwait FROM (
  SELECT l_suppkey, count(*) AS numwait
  FROM lineitem l1
  JOIN orders ON l1.l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > l1.l_shipdate)
  GROUP BY l_suppkey)
JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_name LIMIT 25""",
    ("bench", "exists-notexists"),
)


# --------------------------------------------------------------------------
# Corpus vocabulary / TF-IDF + full-outer reconciliation
# --------------------------------------------------------------------------

_TOKEN_CTE = f"""toks AS (
  SELECT doc_id, unnest({_tokens_sql()}) AS token FROM documents)"""

REGISTRY["vocab_top_tokens"] = QuerySpec(
    _t(X.vocab_top_tokens),
    f"""WITH {_TOKEN_CTE}
SELECT token, count(*) AS term_freq, count(DISTINCT doc_id) AS doc_freq
FROM toks GROUP BY token
ORDER BY term_freq DESC, token LIMIT 100""",
    ("text", "vocab"),
)

REGISTRY["tfidf_top_terms"] = QuerySpec(
    _t(X.tfidf_top_terms),
    f"""WITH {_TOKEN_CTE},
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, token, tf, df, tfidf, rk FROM (
  SELECT doc_id, token, tf, df,
    tf * ((n_docs + 1.0) / (df + 1.0)) AS tfidf,
    cast(row_number() OVER (
      PARTITION BY doc_id
      ORDER BY tf * ((n_docs + 1.0) / (df + 1.0)) DESC, token) AS INTEGER)
      AS rk
  FROM tf JOIN dfreq USING (token), nd)
WHERE rk <= 3""",
    ("text", "tfidf"),
)

REGISTRY["cms_token_frequencies"] = QuerySpec(
    # The count-min sketch is held as a (r, c, cell_n) TABLE of
    # sha256-prefix hash cells, so — unlike approx_distinct_counts,
    # whose HLL internals no oracle can reproduce — DuckDB rebuilds
    # the whole sketch bit-for-bit and the estimates hash-match.
    _t(X.cms_token_frequencies),
    f"""WITH {_TOKEN_CTE},
tf AS (SELECT token, count(*) AS exact_n FROM toks GROUP BY token),
cells AS (
  SELECT token, exact_n, r,
         {_sha_int_sql("'cms' || r || '|' || token")} % 256 AS c
  FROM tf CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)),
sketch AS (
  SELECT r, c, CAST(sum(exact_n) AS BIGINT) AS cell_n
  FROM cells GROUP BY r, c),
total AS (SELECT CAST(sum(exact_n) AS BIGINT) AS stream_n FROM tf),
probes AS (SELECT token FROM tf ORDER BY exact_n DESC, token LIMIT 20),
est AS (
  SELECT pc.token, pc.exact_n, min(s.cell_n) AS cms_estimate
  FROM cells pc
  JOIN probes USING (token)
  JOIN sketch s ON s.r = pc.r AND s.c = pc.c
  GROUP BY 1, 2)
SELECT token, exact_n, cms_estimate,
       cms_estimate >= exact_n AS no_undercount,
       (cms_estimate - exact_n) * 256 <= 3 * stream_n AS within_eps_bound
FROM est CROSS JOIN total""",
    ("text", "sketch", "cms"),
)

REGISTRY["full_outer_reconcile"] = QuerySpec(
    _t(R.full_outer_reconcile),
    f"""WITH l AS (
  SELECT o_orderkey AS l_key, o_totalprice AS l_price
  FROM orders WHERE o_orderkey % 3 <> 0),
r AS (
  SELECT o_orderkey AS r_key,
    CASE WHEN o_orderkey % 7 = 0
         THEN cast(floor(o_totalprice) AS DOUBLE)
         ELSE o_totalprice END AS r_price
  FROM orders WHERE o_orderkey % 5 <> 0)
SELECT status, count(*) AS n, {_dsum('drift')} AS total_drift
FROM (
  SELECT CASE WHEN l_key IS NULL THEN 'right_only'
              WHEN r_key IS NULL THEN 'left_only'
              WHEN l_price = r_price THEN 'match'
              ELSE 'mismatch' END AS status,
         coalesce(abs(l_price - r_price), 0.0) AS drift
  FROM l FULL OUTER JOIN r ON l_key = r_key)
GROUP BY status""",
    ("join", "full-outer", "validation"),
)


# --------------------------------------------------------------------------
# Data profiling: column stats + join-skew diagnosis
# --------------------------------------------------------------------------

REGISTRY["profile_table_stats"] = QuerySpec(
    _t(A.profile_table_stats),
    """WITH agg AS (
  SELECT count(*) AS n_rows,
    count(o_orderkey) AS nn_key, count(DISTINCT o_orderkey) AS nd_key,
    cast(min(o_orderkey) AS DOUBLE) AS min_key,
    cast(max(o_orderkey) AS DOUBLE) AS max_key,
    count(o_totalprice) AS nn_price, count(DISTINCT o_totalprice) AS nd_price,
    min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
    count(o_orderstatus) AS nn_status,
    count(DISTINCT o_orderstatus) AS nd_status
  FROM orders)
SELECT 'o_orderkey' AS "column", n_rows, n_rows - nn_key AS n_nulls,
       nd_key AS n_distinct, min_key AS min_value, max_key AS max_value
FROM agg
UNION ALL
SELECT 'o_totalprice', n_rows, n_rows - nn_price, nd_price,
       min_price, max_price FROM agg
UNION ALL
SELECT 'o_orderstatus', n_rows, n_rows - nn_status, nd_status,
       NULL, NULL FROM agg""",
    ("profiling",),
)

REGISTRY["join_skew_report"] = QuerySpec(
    _t(A.join_skew_report),
    """WITH counts AS (
  SELECT l_orderkey, count(*) AS key_rows FROM lineitem GROUP BY l_orderkey),
totals AS (
  SELECT sum(key_rows) AS total_rows, count(*) AS n_keys FROM counts)
SELECT rk, l_orderkey, key_rows,
  cast(key_rows AS DOUBLE) / total_rows AS key_share,
  cast(key_rows AS DOUBLE) / (cast(total_rows AS DOUBLE) / n_keys)
    AS skew_factor
FROM (
  SELECT *, cast(row_number() OVER (ORDER BY key_rows DESC, l_orderkey)
                 AS INTEGER) AS rk
  FROM counts, totals)
WHERE rk <= 10""",
    ("profiling", "skew"),
)


REGISTRY["embedding_label_centroids"] = QuerySpec(
    # Registered as the exploded (label, pos, value, n_vectors) scalar
    # shape: the driver's pandas canon cannot sort a list column (the
    # r5 gate error class).  S.embedding_label_centroids keeps the
    # array-assembling API for Python callers.
    _t(S.embedding_label_centroid_dims),
    f"""WITH {_label_mean_ctes()}
SELECT label, cast(pos - 1 AS INTEGER) AS pos, mv AS value,
  cnt AS n_vectors
FROM per_dim""",
    ("similarity", "centroid"),
)


#: ``p``: each user's consecutive event pairs (ts, from_type, to_type) in
#: (ts, event_id) order, twin of ``analytics._with_next_type``.
_TRANSITIONS_CTES = """pairs AS (
  SELECT ts, event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS to_type
  FROM events),
p AS (SELECT * FROM pairs WHERE to_type IS NOT NULL)"""

#: ``mid``: the event timeline's midpoint in epoch µs, twin of
#: ``analytics._mid_us``.
_TIMELINE_MID_CTE = """mid AS (
  SELECT epoch_us(min(ts)) + (epoch_us(max(ts)) - epoch_us(min(ts))) / 2
    AS mid_us
  FROM events)"""

REGISTRY["event_transition_matrix"] = QuerySpec(
    _t(A.event_transition_matrix),
    f"""WITH {_TRANSITIONS_CTES}
SELECT from_type, to_type, count(*) AS n
FROM p GROUP BY from_type, to_type""",
    ("analytics", "sequence"),
)

REGISTRY["cohort_retention"] = QuerySpec(
    _t(A.cohort_retention),
    """WITH e AS (
  SELECT user_id, date_trunc('week', ts) AS ev_week,
    cast(date_trunc('week', min(ts) OVER (PARTITION BY user_id))
         AS TIMESTAMP) AS cohort_week
  FROM events)
SELECT cohort_week,
  cast(floor(date_diff('day', cast(cohort_week AS DATE),
                       cast(ev_week AS DATE)) / 7) AS INTEGER) AS week_offset,
  count(DISTINCT user_id) AS n_users
FROM e GROUP BY cohort_week, week_offset""",
    ("analytics", "cohort"),
)

REGISTRY["linear_interpolate"] = QuerySpec(
    _t(A.linear_interpolate),
    """WITH m AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS tus,
    CASE WHEN event_type <> 'error' THEN value END AS mv,
    CASE WHEN event_type <> 'error' THEN epoch_us(ts) END AS mts
  FROM events),
w AS (
  SELECT user_id, event_id, tus, mv,
    last_value(mv IGNORE NULLS) OVER wb AS prev_v,
    first_value(mv IGNORE NULLS) OVER wf AS next_v,
    last_value(mts IGNORE NULLS) OVER wb AS prev_t,
    first_value(mts IGNORE NULLS) OVER wf AS next_t
  FROM m
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, event_id,
  CASE WHEN mv IS NOT NULL THEN mv
       WHEN prev_v IS NULL THEN next_v
       WHEN next_v IS NULL THEN prev_v
       ELSE prev_v + (next_v - prev_v)
            * ((tus - prev_t) / (next_t - prev_t))
  END AS interp_value
FROM w""",
    ("analytics", "gap-fill"),
)

_MOM = "cast(sum(cast(floor(({e}) * 1e6) AS DECIMAL(30,0))) AS DOUBLE) / 1e6"

REGISTRY["correlation_stats"] = QuerySpec(
    _t(A.correlation_stats),
    f"""WITH m AS (
  SELECT l_returnflag, cast(count(*) AS DOUBLE) AS n,
    {_MOM.format(e='l_quantity')} AS sx,
    {_MOM.format(e='l_extendedprice')} AS sy,
    {_MOM.format(e='l_quantity * l_extendedprice')} AS sxy,
    {_MOM.format(e='l_quantity * l_quantity')} AS sxx,
    {_MOM.format(e='l_extendedprice * l_extendedprice')} AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, cast(n AS BIGINT) AS n,
  (n * sxy - sx * sy)
    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price,
  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS ols_slope
FROM m""",
    ("analytics", "statistics"),
)

REGISTRY["incremental_agg_merge"] = QuerySpec(
    _t(P.incremental_agg_merge),
    f"""SELECT o_orderpriority, count(*) AS n,
  {_dsum('o_totalprice')} AS total
FROM orders GROUP BY o_orderpriority""",
    ("pipeline", "incremental"),
)

REGISTRY["zorder_cluster"] = QuerySpec(
    _t(P.zorder_cluster),
    f"""WITH z AS (
  SELECT user_id, event_id,
    {P.zorder_oracle_expr('(user_id % 65536)', 'cast(floor(value * 10) AS BIGINT) % 65536')} AS zval
  FROM events)
SELECT zval >> {P.ZORDER_PREFIX_SHIFT} AS z_prefix, count(*) AS n,
  min(zval) AS min_z, max(zval) AS max_z,
  count(DISTINCT user_id) AS n_users
FROM z GROUP BY z_prefix""",
    ("pipeline", "layout"),
)


REGISTRY["mad_outlier_stats"] = QuerySpec(
    _t(A.mad_outlier_stats),
    """WITH d AS (
  SELECT event_type, value,
    quantile_cont(value, 0.5) OVER (PARTITION BY event_type) AS med
  FROM events),
d2 AS (
  SELECT event_type, value, med,
    quantile_cont(abs(value - med), 0.5)
      OVER (PARTITION BY event_type) AS mad
  FROM d)
SELECT event_type, count(*) AS n, min(med) AS median_value,
  min(mad) AS mad,
  count(*) FILTER (WHERE abs(value - med) > 3.0 * 1.4826 * mad)
    AS n_outliers
FROM d2 GROUP BY event_type""",
    ("analytics", "statistics", "robust"),
)

REGISTRY["ratio_to_report"] = QuerySpec(
    _t(A.ratio_to_report),
    """WITH per_nation AS (
  SELECT r_name, n_name,
    sum(cast(o_totalprice AS DECIMAL(25,6))) AS rev_dec
  FROM orders, customer, nation, region
  WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
    AND n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name, cast(rev_dec AS DOUBLE) AS nation_revenue,
  cast(rev_dec AS DOUBLE)
    / cast(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE)
    AS region_share
FROM per_nation""",
    ("analytics", "olap"),
)

REGISTRY["equi_depth_histogram"] = QuerySpec(
    _t(A.equi_depth_histogram),
    """WITH q AS (
  SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qs
  FROM lineitem)
SELECT CASE WHEN l_extendedprice <= qs[1] THEN 0
            WHEN l_extendedprice <= qs[2] THEN 1
            WHEN l_extendedprice <= qs[3] THEN 2
            ELSE 3 END AS bin,
  count(*) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
FROM lineitem, q
GROUP BY bin""",
    ("analytics", "histogram"),
)

REGISTRY["centroid_similarity_matrix"] = QuerySpec(
    _t(S.centroid_similarity_matrix),
    f"""WITH {_label_mean_ctes()},
pair AS (
  SELECT a.label AS label_a, b.label AS label_b, a.mv AS av, b.mv AS bv
  FROM per_dim a JOIN per_dim b ON a.pos = b.pos AND a.label < b.label)
SELECT label_a, label_b,
  (cast(sum(cast(floor(av * bv * 1e12) AS DECIMAL(30,0))) AS DOUBLE) / 1e12)
  / (sqrt(cast(sum(cast(floor(av * av * 1e12) AS DECIMAL(30,0))) AS DOUBLE)
          / 1e12)
     * sqrt(cast(sum(cast(floor(bv * bv * 1e12) AS DECIMAL(30,0))) AS DOUBLE)
            / 1e12)) AS cosine
FROM pair GROUP BY label_a, label_b""",
    ("similarity", "centroid"),
)


def _pagerank_oracle() -> str:
    """Fixed-iteration PageRank unrolled into a chained CTE — one CTE
    per synchronous round, floor-quantized exactly like the Spark
    loop, over the same MinHash pair graph."""
    from storm_data_etl_service_spark.operators.graph import PR_DAMPING, PR_ITERS

    d = PR_DAMPING
    ctes = [
        f"pairs AS (\n{_minhash_oracle()})",
        "sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs\n"
        "        UNION SELECT doc_b, doc_a FROM pairs)",
        "deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT node, deg, floor((1.0 / n) * 1e9) / 1e9 AS rank\n"
        "       FROM deg, nn)",
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        cur = f"r{i}"
        ctes.append(
            f"""{cur} AS (
  SELECT o.node, o.deg,
    floor(((1.0 - {d}) / nn.n
           + {d} * (cast(sum(cast(floor((r.rank / r.deg) * 1e9)
                                  AS DECIMAL(25,0))) AS DOUBLE) / 1e9))
          * 1e9) / 1e9 AS rank
  FROM sym e JOIN {prev} r ON e.src = r.node
             JOIN deg o ON e.dst = o.node, nn
  GROUP BY o.node, o.deg, nn.n)"""
        )
        prev = cur
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node AS doc_id, deg, rank FROM {prev}"
    )


REGISTRY["pagerank_neardup"] = QuerySpec(
    _t(G.pagerank_neardup),
    _pagerank_oracle(),
    ("graph", "iterative", "centrality"),
)


REGISTRY["rare_token_share"] = QuerySpec(
    _t(X.rare_token_share),
    f"""WITH {_TOKEN_CTE},
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df
          FROM toks GROUP BY token)
SELECT doc_id, count(*) AS n_tokens,
  count(*) FILTER (WHERE df <= 2) AS n_rare,
  cast(count(*) FILTER (WHERE df <= 2) AS DOUBLE) / count(*)
    AS rare_share
FROM toks JOIN dfreq USING (token)
GROUP BY doc_id""",
    ("text", "quality"),
)

REGISTRY["distribution_drift_chi2"] = QuerySpec(
    _t(A.distribution_drift_chi2),
    f"""WITH {_TIMELINE_MID_CTE},
binned AS (
  SELECT event_type,
    CASE WHEN epoch_us(ts) < mid_us THEN 'a' ELSE 'b' END AS half,
    cast(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS n
  FROM events, mid
  GROUP BY event_type, half, bin),
per_half AS (
  SELECT event_type, bin,
    sum(CASE WHEN half = 'a' THEN n ELSE 0 END) AS na,
    sum(CASE WHEN half = 'b' THEN n ELSE 0 END) AS nb
  FROM binned GROUP BY event_type, bin),
totals AS (
  SELECT event_type, sum(na) AS ta, sum(nb) AS tb
  FROM per_half GROUP BY event_type)
SELECT event_type, count(*) AS n_bins,
  cast(sum(cast(floor(
    ((cast(na AS DOUBLE) / ta - cast(nb AS DOUBLE) / tb)
     * (cast(na AS DOUBLE) / ta - cast(nb AS DOUBLE) / tb)
     / (cast(nb AS DOUBLE) / tb + 1e-12)) * 1e9)
    AS DECIMAL(25,0))) AS DOUBLE) / 1e9 AS chi2
FROM per_half JOIN totals USING (event_type)
GROUP BY event_type""",
    ("analytics", "drift", "quality"),
)


REGISTRY["user_resequence_pandas"] = QuerySpec(
    _t(P.user_resequence_pandas),
    """SELECT user_id, event_id,
  cast(row_number() OVER w AS INTEGER) AS seq,
  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    ("pipeline", "pandas-udf"),
)


def _window_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.py::window_topk_counts_stream +
    rank_window_topk — same grouping, same ranking, shared helper."""
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.streaming.windows import rank_window_topk

    t = load_tables(spark, sf_dir)
    counts = (
        t["events"]
        .groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n")
    )
    return rank_window_topk(counts)


REGISTRY["window_topk_leaderboard"] = QuerySpec(
    _window_topk_batch,
    """WITH counts AS (
  SELECT date_trunc('hour', ts) AS bucket_start, event_type,
         count(*) AS n
  FROM events GROUP BY bucket_start, event_type)
SELECT bucket_start, event_type, n,
  cast(row_number() OVER (PARTITION BY bucket_start
                          ORDER BY n DESC, event_type) AS INTEGER) AS rk
FROM counts QUALIFY rk <= 3""",
    ("windows", "topk", "streaming-twin"),
)


REGISTRY["props_extract_variant"] = QuerySpec(
    _t(P.props_extract_variant),
    "SELECT try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k,"
    " count(*) AS n FROM events GROUP BY 1",
    ("pipeline", "json", "variant"),
)


_TOKEN_LIST_CTE = f"""toks_list AS (
  SELECT doc_id, source, {_tokens_sql()} AS t FROM documents)"""

REGISTRY["token_spans_udtf"] = QuerySpec(
    lambda spark, sf_dir: X.token_spans_udtf(spark, load_tables(spark, sf_dir)),
    f"""WITH {_TOKEN_LIST_CTE}
SELECT doc_id, cast(i AS INTEGER) AS pos, t[i] AS token,
  cast(length(t[i]) AS INTEGER) AS token_len
FROM toks_list, unnest(generate_series(1, len(t))) AS u(i)""",
    ("text", "udtf"),
)

REGISTRY["revenue_mom_growth"] = QuerySpec(
    _t(A.revenue_mom_growth),
    """WITH m AS (
  SELECT cast(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         sum(cast(o_totalprice AS DECIMAL(25,6))) AS rev_dec
  FROM orders GROUP BY month)
SELECT month, cast(rev_dec AS DOUBLE) AS revenue,
  cast(rev_dec AS DOUBLE)
    / cast(lag(rev_dec) OVER (ORDER BY month) AS DOUBLE) - 1.0
    AS mom_growth
FROM m""",
    ("analytics", "timeseries"),
)

REGISTRY["boilerplate_prefix_report"] = QuerySpec(
    _t(X.boilerplate_prefix_report),
    f"""WITH {_TOKEN_LIST_CTE},
per AS (
  SELECT source, array_to_string(t[1:3], ' ') AS prefix, count(*) AS n
  FROM toks_list GROUP BY source, prefix)
SELECT source, prefix AS top_prefix, n AS n_docs,
  cast(n AS DOUBLE) / sum(n) OVER (PARTITION BY source) AS share
FROM per
QUALIFY row_number() OVER (PARTITION BY source ORDER BY n DESC, prefix) = 1""",
    ("text", "boilerplate"),
)

REGISTRY["grouped_top1_spender"] = QuerySpec(
    _t(A.grouped_top1_spender),
    """WITH per AS (
  SELECT o_orderpriority, o_custkey,
         sum(cast(o_totalprice AS DECIMAL(25,6))) AS td
  FROM orders GROUP BY o_orderpriority, o_custkey),
best AS (
  SELECT o_orderpriority,
         max(struct_pack(td := td, nk := -o_custkey)) AS b
  FROM per GROUP BY o_orderpriority)
SELECT o_orderpriority, cast(b.td AS DOUBLE) AS total_spend,
       -b.nk AS top_custkey
FROM best""",
    ("analytics", "topk", "sort-free"),
)


def _minhash_accuracy_oracle() -> str:
    """Extend the MinHash CTE chain: keep its internal sig/shf CTEs
    visible and join them back onto the candidate pairs for the
    estimate-vs-exact comparison."""
    from storm_data_etl_service_spark.operators.dedup import MINHASH_SEEDS

    base = _minhash_oracle()
    final = "SELECT doc_a, doc_b FROM pairs"
    assert base.endswith(final)
    ctes = base[len("WITH ") : -len(final)].rstrip().rstrip("\n")
    s = MINHASH_SEEDS
    return f"""WITH {ctes},
v AS ({_overlap_sql("doc_a", "doc_b", pairs="pairs")}),
cmp AS (
  SELECT v.doc_a, v.doc_b,
    list_sum(list_transform(generate_series(1, {s}),
      i -> CASE WHEN ga.mh[i] = gb.mh[i] THEN 1 ELSE 0 END)) / {s}.0
      AS est_jaccard,
    {_JACCARD_SQL} AS exact_jaccard
  FROM v
  JOIN sig ga ON ga.doc_id = v.doc_a
  JOIN sig gb ON gb.doc_id = v.doc_b)
SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
  abs(est_jaccard - exact_jaccard) AS abs_error
FROM cmp"""


REGISTRY["minhash_accuracy_report"] = QuerySpec(
    _t(D.minhash_accuracy_report),
    _minhash_accuracy_oracle(),
    ("dedup", "sketch-quality"),
)

REGISTRY["weekly_active_users"] = QuerySpec(
    _t(A.weekly_active_users),
    """SELECT day, count(DISTINCT user_id) AS wau FROM (
  SELECT user_id, cast(ts AS DATE) + cast(i AS INTEGER) AS day
  FROM events, unnest(generate_series(0, 6)) AS u(i))
GROUP BY day""",
    ("analytics", "sliding-distinct"),
)

REGISTRY["event_cooccurrence_support"] = QuerySpec(
    _t(A.event_cooccurrence_support),
    """WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events),
total AS (SELECT count(DISTINCT user_id) AS total_users FROM ut)
SELECT a.event_type AS type_a, b.event_type AS type_b,
  count(*) AS n_users,
  cast(count(*) AS DOUBLE) / total_users AS support
FROM ut a JOIN ut b
  ON a.user_id = b.user_id AND a.event_type < b.event_type, total
GROUP BY type_a, type_b, total_users""",
    ("analytics", "association"),
)

REGISTRY["conversion_latency_quantiles"] = QuerySpec(
    _t(A.conversion_latency_quantiles),
    """WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
fc AS (
  SELECT user_id, min(tus) AS fc FROM ev
  WHERE event_type = 'click' GROUP BY user_id),
lat AS (
  SELECT ev.user_id, min(tus) - min(fc) AS latency_us
  FROM ev JOIN fc USING (user_id)
  WHERE event_type = 'purchase' AND tus > fc
  GROUP BY ev.user_id)
SELECT count(*) AS n_converted,
  quantile_cont(latency_us, 0.25) AS p25_us,
  quantile_cont(latency_us, 0.5) AS p50_us,
  quantile_cont(latency_us, 0.75) AS p75_us
FROM lat""",
    ("analytics", "funnel", "latency"),
)

REGISTRY["rfm_segment_counts"] = QuerySpec(
    _t(A.rfm_segment_counts),
    """WITH per_cust AS (
  SELECT o_custkey, epoch_us(max(o_orderdate)) AS recency_us,
    count(*) AS frequency,
    cast(sum(cast(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey),
q AS (
  SELECT quantile_cont(recency_us, [0.25, 0.5, 0.75]) AS qr,
         quantile_cont(frequency, [0.25, 0.5, 0.75]) AS qf,
         quantile_cont(monetary, [0.25, 0.5, 0.75]) AS qm
  FROM per_cust)
SELECT
  1 + cast(recency_us > qr[1] AS INTEGER) + cast(recency_us > qr[2] AS INTEGER)
    + cast(recency_us > qr[3] AS INTEGER) AS r_score,
  1 + cast(frequency > qf[1] AS INTEGER) + cast(frequency > qf[2] AS INTEGER)
    + cast(frequency > qf[3] AS INTEGER) AS f_score,
  1 + cast(monetary > qm[1] AS INTEGER) + cast(monetary > qm[2] AS INTEGER)
    + cast(monetary > qm[3] AS INTEGER) AS m_score,
  count(*) AS n_customers
FROM per_cust, q
GROUP BY r_score, f_score, m_score""",
    ("analytics", "segmentation"),
)


def _tri_sql(edges: str) -> str:
    """``tri``: every triangle (a, b, c) of the ``edges`` relation's
    (doc_a < doc_b) rows, by wedge closure — one row per triangle."""
    return f"""tri AS (
  SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
  FROM {edges} ab
  JOIN {edges} bc ON ab.doc_b = bc.doc_a
  WHERE EXISTS (SELECT 1 FROM {edges} ac
                WHERE ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b))"""


def _doulion_keep_sql(mod: int) -> str:
    """The DOULION edge sample over (doc_a, doc_b), twin of
    ``graph._triangle_estimate_edges``: keep an edge iff the first hex
    nibble of md5('a|b') is one of the lowest 16/``mod`` values."""
    allowed = ", ".join(f"'{c}'" for c in "0123456789abcdef"[: 16 // mod])
    return f"""substr(md5(CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR)), 1, 1)
        IN ({allowed})"""


def _triangle_oracle() -> str:
    return f"""WITH pairs AS (
{_minhash_oracle()}),
{_tri_sql("pairs")}
SELECT doc_id, count(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
GROUP BY doc_id"""


REGISTRY["neardup_triangle_count"] = QuerySpec(
    _t(G.neardup_triangle_count),
    _triangle_oracle(),
    ("graph", "triangles"),
)


def _triangle_estimate_oracle(mod: int = 4) -> str:
    """DOULION sampled estimate: same deterministic md5-nibble edge
    sample (PRF keep events — a linear residue rule degenerates to
    ~p² triangle survival, see the operator docstring), wedge-join
    enumeration on the kept edges, 1/p^3 scale-up."""
    return f"""WITH pairs AS (
{_minhash_oracle()}),
kept AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE {_doulion_keep_sql(mod)}),
{_tri_sql("kept")}
SELECT CAST({mod} AS BIGINT) AS sample_mod,
  (SELECT count(*) FROM kept) AS n_edges_kept,
  (SELECT count(*) FROM tri) AS n_tri_sampled,
  (SELECT count(*) FROM tri) * CAST({mod ** 3} AS BIGINT) AS est_triangles"""


REGISTRY["neardup_triangle_estimate"] = QuerySpec(
    _t(G.neardup_triangle_estimate),
    _triangle_estimate_oracle(),
    ("graph", "triangles", "sampled"),
)


def _triangle_stats_oracle(cutover: int | None = None) -> str:
    """The density dispatcher replayed in SQL: the SAME twin-quotient
    wedge probe (closed-form Σ d·(d−1)/2 over quotient degrees, zero
    wedge rows) and the SAME cutover CASE pick the rung, then the kept
    edge set is either every pair (exact branch, sample_mod=1) or the
    md5-nibble quarter (DOULION branch) — so the dispatch decision
    itself is oracle-checked, not just each rung's arithmetic."""
    from storm_data_etl_service_spark.operators.graph import WEDGE_CUTOVER

    cut = WEDGE_CUTOVER if cutover is None else cutover
    mod = 4  # triangle_stats' DOULION rung
    return f"""WITH pairs AS (
{_minhash_oracle()}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
closed AS (
  SELECT a AS n, list_sort(list_distinct(list_append(list(b), a))) AS nbh
  FROM sym GROUP BY a),
node_cls AS (
  SELECT n AS node, min(n) OVER (PARTITION BY nbh) AS cls FROM closed),
qe AS (
  SELECT DISTINCT least(na.cls, nb.cls) AS qa, greatest(na.cls, nb.cls) AS qb
  FROM pairs p
  JOIN node_cls na ON na.node = p.doc_a
  JOIN node_cls nb ON nb.node = p.doc_b
  WHERE na.cls != nb.cls),
qdeg AS (
  SELECT qa AS cls, count(*) AS d
  FROM (SELECT qa, qb FROM qe UNION ALL SELECT qb, qa FROM qe)
  GROUP BY qa),
probe AS (
  SELECT CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT) AS wedges
  FROM qdeg),
kept AS (
  SELECT doc_a, doc_b FROM pairs, probe
  WHERE wedges <= {cut}
     OR {_doulion_keep_sql(mod)}),
{_tri_sql("kept")}
SELECT
  CASE WHEN wedges <= {cut} THEN 'exact_census'
       ELSE 'doulion_estimate' END AS branch,
  wedges AS quotient_wedges,
  CAST(CASE WHEN wedges <= {cut} THEN 1 ELSE {mod} END AS BIGINT) AS sample_mod,
  (SELECT count(*) FROM kept) AS n_edges_kept,
  (SELECT count(*) FROM tri) AS n_tri_sampled,
  CAST((SELECT count(*) FROM tri)
       * (CASE WHEN wedges <= {cut} THEN 1 ELSE {mod ** 3} END) AS BIGINT)
    AS est_triangles
FROM probe"""


REGISTRY["triangle_stats"] = QuerySpec(
    # Auto-dispatch by density probe: exact census under WEDGE_CUTOVER
    # quotient wedges, DOULION mod-4 estimate past it.  The oracle
    # replays the probe and the CASE, so both the dispatch and the
    # chosen rung are hash-checked; the estimate branch is additionally
    # gate-checked with a forced tiny cutover in tests.
    lambda spark, sf_dir: G.triangle_stats(load_tables(spark, sf_dir)),
    _triangle_stats_oracle(),
    ("graph", "triangles", "dispatch"),
)


def _power_iteration_oracle() -> str:
    """The power-iteration rounds unrolled into SQL, fixed-point
    arithmetic identical to the Spark loop (exact BIGINT dot folds,
    decimal per-dimension sums, re-quantized normalization)."""
    from storm_data_etl_service_spark.operators.similarity import (
        EMBEDDING_DIM,
        POWER_ITERS,
    )

    n = EMBEDDING_DIM
    v0 = "[" + ", ".join(["0.125"] * n) + "]"
    ctes = [
        _EMB_CTE,
        f"v0 AS (SELECT {v0}::DOUBLE[] AS l)",
    ]
    prev = "v0"
    for r in range(1, POWER_ITERS + 1):
        ctes.append(
            f"""d{r} AS (
  SELECT vec_id,
    list_sum(list_transform(generate_series(1, {n}),
      i -> cast(floor(e.v[i] * {prev}.l[i] * 1e9) AS BIGINT))) / 1e9 AS d
  FROM e, {prev})"""
        )
        ctes.append(
            f"""y{r} AS (
  SELECT u.pos,
    cast(sum(cast(floor(e.v[u.pos] * d{r}.d * 1e9) AS DECIMAL(25,0)))
         AS DOUBLE) / 1e9 AS y
  FROM e JOIN d{r} USING (vec_id),
       unnest(generate_series(1, {n})) AS u(pos)
  GROUP BY u.pos)"""
        )
        ctes.append(
            f"""n{r} AS (
  SELECT sqrt(list_sum(list_transform(list(y ORDER BY pos),
    y -> cast(floor(y * y * 1e9) AS BIGINT))) / 1e9) AS nrm
  FROM y{r})"""
        )
        ctes.append(
            f"""v{r} AS (
  SELECT list(floor(y / nrm * 1e9) / 1e9 ORDER BY pos) AS l
  FROM y{r}, n{r})"""
        )
        prev = f"v{r}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT cast(u.i - 1 AS INTEGER) AS pos, {prev}.l[u.i] AS value,
  n{POWER_ITERS}.nrm AS eigenvalue
FROM {prev}, n{POWER_ITERS}, unnest(generate_series(1, {n})) AS u(i)"""
    )


REGISTRY["embedding_power_iteration"] = QuerySpec(
    # Registered as the exploded (pos, value, eigenvalue) scalar shape
    # — EMBEDDING_DIM rows — after the r5 driver gate errored hashing
    # the array column in its pandas canon.  Same unrolled fixed-point
    # rounds on both sides; S.embedding_power_iteration keeps the
    # array-returning API.
    _t(S.embedding_power_iteration_dims),
    _power_iteration_oracle(),
    ("similarity", "pca", "iterative"),
)


REGISTRY["crossmodal_dedup_agreement"] = QuerySpec(
    _t(D.crossmodal_dedup_agreement),
    f"""WITH tpairs AS (SELECT doc_a, doc_b FROM ({_NGRAM_JACCARD_ORACLE})),
eraw AS ({_semdedup_pairs_oracle()}),
epairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM eraw)
SELECT CASE WHEN tp.doc_a IS NOT NULL AND ep.doc_a IS NOT NULL THEN 'both'
            WHEN tp.doc_a IS NOT NULL THEN 'text_only'
            ELSE 'embedding_only' END AS signal,
       count(*) AS n_pairs
FROM tpairs tp FULL OUTER JOIN epairs ep
  ON tp.doc_a = ep.doc_a AND tp.doc_b = ep.doc_b
GROUP BY signal""",
    ("dedup", "crossmodal"),
)

REGISTRY["weekly_churn_rate"] = QuerySpec(
    _t(A.weekly_churn_rate),
    """WITH uw AS (
  SELECT DISTINCT user_id, cast(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events),
mx AS (SELECT max(week) AS max_week FROM uw),
led AS (
  SELECT user_id, week,
    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
  FROM uw),
flagged AS (
  SELECT week,
    (next_week IS NULL
     OR next_week > cast(cast(week AS DATE) + 7 AS TIMESTAMP)) AS churned
  FROM led, mx WHERE week < max_week)
SELECT week, count(*) AS n_active,
  count(*) FILTER (WHERE churned) AS n_churned,
  cast(count(*) FILTER (WHERE churned) AS DOUBLE) / count(*) AS churn_rate
FROM flagged GROUP BY week""",
    ("analytics", "retention"),
)

REGISTRY["segmented_running_total"] = QuerySpec(
    _t(A.segmented_running_total),
    """WITH seg AS (
  SELECT user_id, event_id, ts, value,
    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment
  FROM events)
SELECT user_id, event_id, CAST(segment AS BIGINT) AS segment,
  cast(sum(cast(value AS DECIMAL(25,6)))
    OVER (PARTITION BY user_id, segment ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS DOUBLE) AS running_value
FROM seg""",
    ("analytics", "window-frame", "islands"),
)

REGISTRY["part_affinity_topk"] = QuerySpec(
    _t(A.part_affinity_topk),
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*) AS n_orders
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT 25""",
    ("analytics", "association", "topk"),
)

REGISTRY["markov_prediction_accuracy"] = QuerySpec(
    _t(A.markov_prediction_accuracy),
    f"""WITH {_TRANSITIONS_CTES},
{_TIMELINE_MID_CTE},
staged AS (
  SELECT from_type, to_type, epoch_us(ts) < mid_us AS is_train
  FROM p, mid),
train_counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM staged WHERE is_train GROUP BY from_type, to_type),
model AS (
  SELECT from_type,
         max(struct_pack(n := n, to_type := to_type)).to_type AS predicted
  FROM train_counts GROUP BY from_type)
SELECT from_type, count(*) AS n_eval,
  count(*) FILTER (WHERE to_type = predicted) AS n_correct,
  cast(count(*) FILTER (WHERE to_type = predicted) AS DOUBLE) / count(*)
    AS accuracy
FROM staged JOIN model USING (from_type)
WHERE NOT is_train
GROUP BY from_type""",
    ("analytics", "ml-eval", "sequence"),
)


def _nearest_centroid_oracle() -> str:
    from storm_data_etl_service_spark.operators.similarity import EMBEDDING_DIM

    l2 = _l2_sql("t.v", "c.cv", EMBEDDING_DIM)
    return f"""WITH train AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
{_label_mean_ctes('train')},
cent AS (
  SELECT label AS pred_label, list(mv ORDER BY pos) AS cv
  FROM per_dim GROUP BY label),
test AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id % 2 = 1),
scored AS (
  SELECT t.vec_id, t.label, c.pred_label,
    row_number() OVER (PARTITION BY t.vec_id
                       ORDER BY {l2}, c.pred_label) AS rk
  FROM test t, cent c)
SELECT label, count(*) AS n_test,
  count(*) FILTER (WHERE pred_label = label) AS n_correct,
  cast(count(*) FILTER (WHERE pred_label = label) AS DOUBLE) / count(*)
    AS accuracy
FROM scored WHERE rk = 1
GROUP BY label"""


REGISTRY["nearest_centroid_accuracy"] = QuerySpec(
    _t(S.nearest_centroid_accuracy),
    _nearest_centroid_oracle(),
    ("similarity", "ml-eval", "classification"),
)

REGISTRY["seasonality_profile"] = QuerySpec(
    _t(A.seasonality_profile),
    """WITH cells AS (
  SELECT cast(isodow(ts) AS INTEGER) AS dow_iso,
         cast(hour(ts) AS INTEGER) AS hour, count(*) AS n
  FROM events GROUP BY dow_iso, hour),
total AS (SELECT count(*) AS total FROM events)
SELECT dow_iso, hour, n, cast(n AS DOUBLE) / total AS share
FROM cells, total""",
    ("analytics", "seasonality"),
)

REGISTRY["jackknife_mean_ci"] = QuerySpec(
    _t(A.jackknife_mean_ci),
    """WITH cells AS (
  SELECT event_type, cast(event_id % 10 AS INTEGER) AS b,
    count(*) AS n, sum(cast(value AS DECIMAL(25,6))) AS s
  FROM events GROUP BY event_type, b),
totals AS (
  SELECT event_type, sum(n) AS n_tot, sum(s) AS s_tot
  FROM cells GROUP BY event_type),
loo AS (
  SELECT cells.event_type, n_tot, s_tot,
    cast(s_tot - s AS DOUBLE) / cast(n_tot - n AS DOUBLE) AS m_i
  FROM cells JOIN totals USING (event_type)),
agg AS (
  SELECT event_type, CAST(min(n_tot) AS BIGINT) AS n,
    cast(min(s_tot) AS DOUBLE) / min(n_tot) AS mean_value,
    count(*) AS g,
    cast(sum(cast(floor(m_i * 1e9) AS DECIMAL(25,0))) AS DOUBLE) / 1e9
      AS sum_mi,
    cast(sum(cast(floor(m_i * m_i * 1e9) AS DECIMAL(25,0))) AS DOUBLE) / 1e9
      AS sum_mi2
  FROM loo GROUP BY event_type)
SELECT event_type, n, mean_value,
  sqrt((g - 1.0) / g * (sum_mi2 - sum_mi * sum_mi / g)) AS jackknife_se,
  mean_value - 1.96 * sqrt((g - 1.0) / g * (sum_mi2 - sum_mi * sum_mi / g))
    AS ci_lo,
  mean_value + 1.96 * sqrt((g - 1.0) / g * (sum_mi2 - sum_mi * sum_mi / g))
    AS ci_hi
FROM agg""",
    ("analytics", "statistics", "uncertainty"),
)

# Zero-filled hourly count grid (shared by the seasonal anomaly and
# autocorrelation oracles).  NEVER rebind — any oracle string built
# after a rebinding would silently change (see _TOKS_CTE note).
_HOURLY_FILLED_CTE = """hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY h),
bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM hourly),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
filled AS (
  SELECT spine.h, coalesce(n, 0) AS n
  FROM spine LEFT JOIN hourly ON spine.h = hourly.h)"""

REGISTRY["hourly_autocorrelation"] = QuerySpec(
    _t(A.hourly_autocorrelation),
    f"""WITH {_HOURLY_FILLED_CTE},
lags AS (SELECT unnest(range(1, 25)) AS lag_hours),
pairs AS (
  SELECT l.lag_hours, a.n AS x, b.n AS y
  FROM filled a
  CROSS JOIN lags l
  JOIN filled b ON b.h = a.h + l.lag_hours * INTERVAL 1 HOUR),
m AS (
  SELECT lag_hours, count(*) AS n_pairs,
         cast(sum(x) AS BIGINT) AS sx, cast(sum(y) AS BIGINT) AS sy,
         cast(sum(x * y) AS BIGINT) AS sxy,
         cast(sum(x * x) AS BIGINT) AS sxx,
         cast(sum(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag_hours)
SELECT cast(lag_hours AS INTEGER) AS lag_hours, n_pairs,
       (cast(n_pairs AS DOUBLE) * cast(sxy AS DOUBLE)
          - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))
       / sqrt((cast(n_pairs AS DOUBLE) * cast(sxx AS DOUBLE)
                 - cast(sx AS DOUBLE) * cast(sx AS DOUBLE))
              * (cast(n_pairs AS DOUBLE) * cast(syy AS DOUBLE)
                 - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))) AS acf
FROM m""",
    ("analytics", "timeseries", "autocorrelation"),
)

REGISTRY["seasonal_anomaly_hours"] = QuerySpec(
    _t(A.seasonal_anomaly_hours),
    f"""WITH {_HOURLY_FILLED_CTE},
cells AS (
  SELECT h, n, cast(isodow(h) AS INTEGER) AS dow_iso,
         cast(hour(h) AS INTEGER) AS hour
  FROM filled),
d AS (
  SELECT *, quantile_cont(n, 0.5) OVER (PARTITION BY dow_iso, hour) AS med
  FROM cells),
d2 AS (
  SELECT *, quantile_cont(abs(n - med), 0.5)
    OVER (PARTITION BY dow_iso, hour) AS mad
  FROM d)
SELECT h AS hour_ts, dow_iso, hour, n, med, mad,
       abs(n - med) AS deviation
FROM d2
WHERE abs(n - med) > greatest(3.0 * 1.4826 * mad, 2.0)""",
    ("analytics", "anomaly", "seasonality"),
)

REGISTRY["bm25_doc_ranking"] = QuerySpec(
    _t(X.bm25_doc_ranking),
    f"""WITH {_TOKEN_CTE},
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
dl AS (SELECT doc_id, cast(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
tot AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
    cast((SELECT cast(sum(dl) AS BIGINT) FROM dl) AS DOUBLE)
      / (SELECT count(*) FROM documents) AS avgdl),
scored AS (
  SELECT doc_id, count(*) AS matched_terms, min(dl) AS dl,
    cast(sum(cast(floor(
      (floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6) / 1e6)
      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
      * 1e6) AS DECIMAL(25,0))) AS DOUBLE) / 1e6 AS score
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), tot
  WHERE token IN ('join', 'vector', 'stream')
  GROUP BY doc_id)
SELECT doc_id, matched_terms, dl, score
FROM scored ORDER BY score DESC, doc_id LIMIT 10""",
    ("text", "retrieval", "bm25"),
)


_BIGRAM_CTE = f"""tl AS (SELECT {_tokens_sql()} AS ts FROM documents),
bg AS (SELECT unnest({_bigrams_sql('ts')}) AS token FROM tl)"""

REGISTRY["heavy_hitter_bigrams"] = QuerySpec(
    _t(X.heavy_hitter_bigrams),
    f"""WITH {_BIGRAM_CTE},
tot AS (SELECT count(*) AS n_total FROM bg),
cnt AS (SELECT token AS bigram, count(*) AS term_freq FROM bg GROUP BY token)
SELECT bigram, term_freq, n_total
FROM cnt, tot WHERE term_freq * {X.HH_CAPACITY + 1} > n_total""",
    ("text", "heavy-hitters", "sketch", "pandas-udf"),
)

REGISTRY["neardup_cluster_representative"] = QuerySpec(
    _t(G.neardup_cluster_representative),
    f"""WITH RECURSIVE {_NEARDUP_REACH_CTES},
comp AS (SELECT node AS doc_id, min(label) AS component_id
         FROM reach GROUP BY node),
members AS (
  SELECT c.component_id, c.doc_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id))
SELECT component_id, kept_doc_id, kept_n_chars, n_members, total_chars
FROM (
  SELECT component_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
    row_number() OVER (PARTITION BY component_id
                       ORDER BY n_chars DESC, doc_id) AS rk,
    count(*) OVER (PARTITION BY component_id) AS n_members,
    CAST(sum(n_chars) OVER (PARTITION BY component_id) AS BIGINT)
      AS total_chars
  FROM members)
WHERE rk = 1""",
    ("dedup", "neardup", "graph", "curation"),
)

REGISTRY["neardup_source_overlap"] = QuerySpec(
    _t(D.neardup_source_overlap),
    f"""WITH pairs AS (
{_minhash_oracle()}),
labeled AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b)
SELECT source_a, source_b, count(*) AS n_pairs
FROM labeled GROUP BY source_a, source_b""",
    ("dedup", "neardup", "diagnosis"),
)

REGISTRY["gini_by_source"] = QuerySpec(
    _t(A.gini_by_source),
    """WITH r AS (
  SELECT source, n_chars,
    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
    count(*) OVER (PARTITION BY source) AS n,
    sum(n_chars) OVER (PARTITION BY source) AS s
  FROM documents)
SELECT source,
  cast(sum((2 * rk - n - 1) * n_chars) AS DOUBLE) / (n * s) AS gini_n_chars
FROM r GROUP BY source, n, s""",
    ("analytics", "pandas-udaf", "quality"),
)

#: (vec_id, dim, val) rows of every embedding and each dim's int8 scale
#: max|val| (shared by the int8 quantization and exact-dedup oracles).
_INT8_SCALE_CTES = f"""e AS (
  SELECT vec_id, cast(pos - 1 AS INTEGER) AS dim,
         embedding[pos]::DOUBLE AS val
  FROM embeddings, range(1, {S.EMBEDDING_DIM} + 1) r(pos)),
sc AS (SELECT dim, max(abs(val)) AS scale FROM e GROUP BY dim)"""


def _int8_code_sql(val: str, scale: str) -> str:
    """The symmetric int8 code of ``val`` under its dim's ``scale``
    (0 on an all-zero dim), twin of ``similarity._int8_code``."""
    return (
        f"CASE WHEN {scale} = 0 THEN 0\n"
        f"         ELSE cast(round({val} / {scale} * 127) AS INTEGER) END"
    )


REGISTRY["embedding_quantize_int8"] = QuerySpec(
    _t(S.embedding_quantize_int8),
    f"""WITH {_INT8_SCALE_CTES},
coded AS (
  SELECT e.dim, e.val, sc.scale,
    {_int8_code_sql("e.val", "sc.scale")} AS q
  FROM e JOIN sc USING (dim)),
erred AS (
  SELECT dim, scale, q, abs(val - q * scale / 127) AS err FROM coded)
SELECT dim, min(scale) AS scale, count(*) AS n_vals,
  min(q) AS q_min, max(q) AS q_max,
  cast(sum(cast(floor(err * 1e6) AS BIGINT)) AS DOUBLE)
    / (1000000.0 * count(*)) AS mean_abs_err
FROM erred GROUP BY dim""",
    ("similarity", "quantization", "storage"),
)


REGISTRY["knn_graph_lsh"] = QuerySpec(
    _t(S.knn_graph_lsh),
    _knn_graph_oracle(),
    ("similarity", "knn-graph", "lsh", "pandas-udf"),
)


REGISTRY["eval_semantic_contamination"] = QuerySpec(
    _t(S.eval_semantic_contamination),
    _semantic_contam_oracle(),
    ("similarity", "decontamination", "lsh", "pandas-udf"),
)


REGISTRY["embedding_exact_dedup"] = QuerySpec(
    # Quantized-code fingerprints are pure integer/sha256 functions of
    # the vector, so the oracle rebuilds every group key bit-for-bit.
    _t(S.embedding_exact_dedup),
    f"""WITH {_INT8_SCALE_CTES},
codes AS (
  SELECT vec_id,
    string_agg(cast({_int8_code_sql("val", "scale")} AS VARCHAR),
      ',' ORDER BY dim) AS code
  FROM e JOIN sc USING (dim) GROUP BY vec_id)
SELECT sha256(code) AS code_key, count(*) AS group_size,
       min(vec_id) AS keep_vec_id
FROM codes GROUP BY 1""",
    ("dedup", "embeddings", "quantization"),
)


REGISTRY["semdedup"] = QuerySpec(
    # k pinned to the oracle K: the DuckDB twin replays the unrolled
    # Lloyd iterations with exactly KMEANS_K cells.  Production calls
    # leave k=None and get the K ∝ n auto-derivation.
    lambda spark, sf_dir: S.semdedup(load_tables(spark, sf_dir), k=S.KMEANS_K),
    _semdedup_oracle(),
    ("dedup", "semantic", "embeddings", "kmeans"),
)

REGISTRY["semdedup_pairs"] = QuerySpec(
    # Same pinned-K note as semdedup; auto-K (k=None) is bit-identical
    # while n ≤ KMEANS_K·SEMDEDUP_TARGET_CELL (all driver gate scales).
    lambda spark, sf_dir: S.semdedup_pairs(load_tables(spark, sf_dir), k=S.KMEANS_K),
    _semdedup_pairs_oracle(),
    ("dedup", "semantic", "embeddings", "pairs"),
)

REGISTRY["semdedup_auto"] = QuerySpec(
    # The production K ∝ n knob as the oracle-checked form: k=None
    # derives K = max(KMEANS_K, ceil(n / SEMDEDUP_TARGET_CELL)) from
    # one count, and the DuckDB twin derives the IDENTICAL K from
    # count(*) inside the SQL (the Lloyd unroll is K-agnostic past
    # the seed CTE).  The fixed-K `semdedup` twin stays registered
    # for determinism history.
    lambda spark, sf_dir: S.semdedup(load_tables(spark, sf_dir), k=None),
    _semdedup_oracle(auto_k=True),
    ("dedup", "semantic", "embeddings", "kmeans", "auto-k"),
)


REGISTRY["langid_confusion_report"] = QuerySpec(
    _t(X.langid_confusion_report),
    f"""WITH pred AS ({_lang_id_oracle()})
SELECT d.lang, p.lang_pred, count(*) AS n_docs
FROM documents d JOIN pred p USING (doc_id)
GROUP BY d.lang, p.lang_pred""",
    ("text", "quality", "langid"),
)

REGISTRY["media_manifest_report"] = QuerySpec(
    _t(M.media_manifest_report),
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
  count(*) AS n_items,
  cast(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
  cast(min(octet_length(encode(text))) AS BIGINT) AS min_bytes,
  cast(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
  count(DISTINCT sha256(text)) AS n_distinct_contents
FROM documents GROUP BY 1""",
    ("multimodal", "manifest"),
)

REGISTRY["video_frame_sample"] = QuerySpec(
    lambda spark, sf_dir: M.frame_sample(
        M.media_from_documents(load_tables(spark, sf_dir))
    ),
    """WITH f AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS nb
  FROM documents),
idx AS (
  SELECT media_id, text, cast(i AS BIGINT) AS frame_idx,
         cast(i * 100 + 1 AS INTEGER) AS start
  FROM f, range(0, 64) r(i) WHERE i * 100 < nb)
SELECT media_id, frame_idx, sha256(substr(text, start, 100)) AS frame_sha
FROM idx""",
    ("multimodal", "pandas-udf", "fanout"),
)

REGISTRY["image_resize_stats"] = QuerySpec(
    _t(M.image_resize_stats),
    # nearest-neighbor output volume is exactly n_docs * 4*4*3 bytes;
    # pixel-exact values are golden-tested in pytest (DuckDB has no
    # BLOB hashing to value-check resized bytes in SQL)
    """SELECT count(*) AS n_images,
  cast(count(*) * 48 AS BIGINT) AS total_out_bytes,
  cast(48 AS INTEGER) AS min_out_bytes,
  cast(48 AS INTEGER) AS max_out_bytes
FROM documents WHERE length(text) > 0""",
    ("multimodal", "pandas-udf", "image"),
)


REGISTRY["dedup_incremental_minhash"] = QuerySpec(
    _t(D.dedup_incremental_minhash),
    f"""WITH pairs AS (
{_minhash_oracle()}),
{_split_sql("doc_id", "documents")}
SELECT doc_b AS doc_id, doc_a AS matched_doc_id
FROM pairs, s WHERE doc_b >= t0""",
    ("dedup", "neardup", "incremental", "lsh"),
)


REGISTRY["mixture_sample_assign"] = QuerySpec(
    # Stochastic rounding of the temperature boost via a sha256
    # doc_id draw — bit-identical in both engines, so the oracle
    # re-derives every copy count.
    _t(P.mixture_sample_assign),
    f"""WITH {_MIXTURE_COPIES_CTES}
SELECT doc_id, source, boost, n_copies, n_copies > 0 AS kept
FROM copies""",
    ("pipeline", "mixture", "sampling"),
)


_QUALITY_WEIGHT_SQL = (
    "(("
    + _sha_int_sql("'qw|' || (" + _sha_int_sql("'qf|' || x") + " % 4096)")
    + " % 17) - 8)"
)

REGISTRY["quality_linear_score"] = QuerySpec(
    # Hashed-feature linear classifier: integer bucket weights are a
    # pure sha256 function, so the oracle re-derives every logit.
    _t(X.quality_linear_score),
    f"""WITH tl AS (SELECT doc_id, {_tokens_sql()} AS ts FROM documents),
fl AS (SELECT doc_id, list_concat(ts, {_bigrams_sql('ts')}) AS feats FROM tl),
scored AS (
  SELECT doc_id,
    cast(len(feats) AS BIGINT) AS n_feats,
    cast(coalesce(list_sum(
      list_transform(feats, x -> {_QUALITY_WEIGHT_SQL})), 0) AS BIGINT)
      AS logit
  FROM fl)
SELECT doc_id, n_feats, logit,
  CASE WHEN n_feats > 0
       THEN cast(logit AS DOUBLE) / n_feats ELSE 0.0 END AS quality_score,
  CASE WHEN n_feats > 0 AND cast(logit AS DOUBLE) / n_feats >= 0.5 THEN 'keep'
       WHEN n_feats > 0 AND cast(logit AS DOUBLE) / n_feats <= -0.5 THEN 'drop'
       ELSE 'review' END AS verdict
FROM scored""",
    ("text", "quality", "classifier"),
)


REGISTRY["bloom_dedup_report"] = QuerySpec(
    # The Bloom index is held as a (bit) relation of sha256-prefix
    # positions, so the oracle rebuilds the whole filter bit-for-bit
    # and re-derives every verdict, including the false positives.
    # m pinned to the oracle width; production calls leave m=None and
    # get the fill-ratio-constant auto-derivation (bloom_auto_bits).
    lambda spark, sf_dir: D.bloom_dedup_report(
        load_tables(spark, sf_dir), m=D.BLOOM_BITS
    ),
    f"""WITH docs AS (SELECT doc_id, sha256(text) AS h FROM documents),
{_split_sql("doc_id", "docs")},
existing AS (SELECT doc_id, h FROM docs, s WHERE doc_id < t0),
batch AS (SELECT doc_id, h FROM docs, s WHERE doc_id >= t0),
ks AS (SELECT unnest([{", ".join(str(i) for i in range(D.BLOOM_HASHES))}]) AS i),
idx AS (
  SELECT DISTINCT
    {_bloom_bits_sql()} AS bit
  FROM existing CROSS JOIN ks),
probes AS (
  SELECT doc_id, h,
    {_bloom_bits_sql()} AS bit
  FROM batch CROSS JOIN ks),
hits AS (
  SELECT p.doc_id, p.h, count(idx.bit) AS n_set
  FROM probes p LEFT JOIN idx ON p.bit = idx.bit
  GROUP BY 1, 2),
seen AS (SELECT DISTINCT h FROM existing)
SELECT hits.doc_id,
  n_set = {D.BLOOM_HASHES} AS bloom_hit,
  seen.h IS NOT NULL AS exact_hit,
  CASE WHEN n_set = {D.BLOOM_HASHES} AND seen.h IS NOT NULL THEN 'dup'
       WHEN n_set = {D.BLOOM_HASHES} THEN 'false_positive'
       ELSE 'new' END AS verdict,
  (n_set = {D.BLOOM_HASHES}) OR seen.h IS NULL AS no_false_negative
FROM hits LEFT JOIN seen ON hits.h = seen.h""",
    ("dedup", "incremental", "sketch", "bloom"),
)


#: The add-one bigram LM per document — ``bigram_surprisal_scores``'s
#: oracle, and the scoring half of ``ccnet_perplexity_buckets``.
_CCNET_DOC_SURPRISAL = f"""tl AS (SELECT doc_id, {_tokens_sql()} AS ts FROM documents),
pairs AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(ts) - 1),
                          i -> {{'w1': ts[i], 'w2': ts[i+1]}})) AS p
  FROM tl WHERE len(ts) >= 2),
tf AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS c
       FROM pairs GROUP BY doc_id, p.w1, p.w2),
bg AS (SELECT w1, w2, cast(sum(c) AS BIGINT) AS c_bigram
       FROM tf GROUP BY w1, w2),
starts AS (SELECT w1, cast(sum(c_bigram) AS BIGINT) AS c_start
           FROM bg GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT token) AS v FROM (
    SELECT unnest(ts) AS token FROM tl)),
scored AS (
  SELECT tf.doc_id, tf.c,
    -cast(floor(ln(cast(c_bigram + 1 AS DOUBLE) / (c_start + v)) * 1e6)
          AS BIGINT) AS s_q
  FROM tf JOIN bg USING (w1, w2) JOIN starts USING (w1), vocab),
doc AS (
  SELECT doc_id, cast(sum(c) AS BIGINT) AS n_bigrams,
    cast(sum(c * s_q) AS DOUBLE) / (1e6 * sum(c)) AS avg_surprisal
  FROM scored GROUP BY doc_id)"""

REGISTRY["bigram_surprisal_scores"] = QuerySpec(
    _t(X.bigram_surprisal_scores),
    f"""WITH {_CCNET_DOC_SURPRISAL}
SELECT doc_id, n_bigrams, avg_surprisal FROM doc""",
    ("text", "quality", "language-model"),
)


REGISTRY["neardup_components_sql"] = QuerySpec(
    lambda spark, sf_dir: G.neardup_components_sql(
        spark, load_tables(spark, sf_dir)
    ),
    REGISTRY["neardup_components"].oracle,
    ("dedup", "neardup", "graph", "recursive-cte", "sql-api"),
)

REGISTRY["corpus_dataset_card"] = QuerySpec(
    _t(P.corpus_dataset_card),
    f"""WITH pairs AS (
{_minhash_oracle()}),
base AS (
  SELECT count(*) AS n_docs,
    count(DISTINCT source) AS n_sources,
    count(DISTINCT lang) AS n_langs,
    cast(sum(len({_tokens_sql()})) AS BIGINT) AS total_tokens,
    cast(sum(length(text)) AS BIGINT) AS total_chars,
    cast(min(length(text)) AS BIGINT) AS min_chars,
    cast(max(length(text)) AS BIGINT) AS max_chars
  FROM documents),
dup AS (
  SELECT count(*) - count(DISTINCT sha256(text)) AS n_exact_dup_docs
  FROM documents),
nd AS (SELECT count(*) AS n_neardup_pairs FROM pairs),
ic AS (
  SELECT count(*) AS n_docs_in_neardup_pairs FROM (
    SELECT doc_a AS d FROM pairs UNION SELECT doc_b FROM pairs))
SELECT base.*, dup.n_exact_dup_docs, nd.n_neardup_pairs,
  ic.n_docs_in_neardup_pairs,
  cast(total_tokens AS DOUBLE) / n_docs AS mean_doc_tokens
FROM base, dup, nd, ic""",
    ("curation", "datasheet", "capstone"),
)


REGISTRY["doc_chunk_windows"] = QuerySpec(
    _t(X.doc_chunk_windows),
    f"""WITH tl AS (SELECT doc_id, {_tokens_sql()} AS ts FROM documents),
sized AS (
  SELECT doc_id, ts, len(ts) AS n,
    CASE WHEN len(ts) = 0 THEN 0
         WHEN len(ts) <= {X.CHUNK_TOKENS} THEN 1
         ELSE cast(ceil(cast(len(ts) - {X.CHUNK_TOKENS} AS DOUBLE)
                        / {X.CHUNK_STRIDE}) AS INTEGER) + 1 END AS n_chunks
  FROM tl),
idx AS (
  SELECT doc_id, ts, cast(i AS BIGINT) AS chunk_idx
  FROM sized, range(0, 64) r(i) WHERE i < n_chunks)
SELECT doc_id, chunk_idx,
  chunk_idx * {X.CHUNK_STRIDE} AS start_token,
  cast(len(ts[chunk_idx * {X.CHUNK_STRIDE} + 1
            : chunk_idx * {X.CHUNK_STRIDE} + {X.CHUNK_TOKENS}]) AS BIGINT)
    AS n_chunk_tokens,
  array_to_string(ts[chunk_idx * {X.CHUNK_STRIDE} + 1
                   : chunk_idx * {X.CHUNK_STRIDE} + {X.CHUNK_TOKENS}], ' ')
    AS chunk_text
FROM idx""",
    ("text", "chunking", "rag"),
)


REGISTRY["q1_group_count_pipe_sql"] = QuerySpec(
    lambda spark, sf_dir: R.q1_group_count_pipe_sql(
        spark, load_tables(spark, sf_dir)
    ),
    REGISTRY["q1_group_count"].oracle,
    ("agg", "pipe-sql", "sql-api"),
)

REGISTRY["join_size_estimate"] = QuerySpec(
    _t(R.join_size_estimate),
    """WITH o AS (SELECT o_orderkey, count(*) AS n_o FROM orders GROUP BY o_orderkey),
li AS (SELECT l_orderkey AS o_orderkey, count(*) AS n_l
       FROM lineitem GROUP BY l_orderkey)
SELECT cast(sum(n_o * n_l) AS BIGINT) AS est_join_rows,
  count(*) AS n_matching_keys,
  cast(max(n_o * n_l) AS BIGINT) AS max_key_fanout
FROM o JOIN li USING (o_orderkey)""",
    ("planning", "diagnosis", "join"),
)


_GEO_R2 = repr(R.GEO_RADIUS_DEG * R.GEO_RADIUS_DEG)  # exact double literal

REGISTRY["geo_neighbor_search"] = QuerySpec(
    _t(R.geo_neighbor_search),
    f"""WITH pts AS (
  SELECT event_id,
    25.0::DOUBLE + (user_id % 100) * 0.1::DOUBLE
      + (event_id % 7) * 0.01::DOUBLE AS lat,
    -100.0::DOUBLE + (user_id % 73) * 0.15::DOUBLE
      + (event_id % 11) * 0.01::DOUBLE AS lon
  FROM events),
sites AS (SELECT event_id AS site_id, lat AS slat, lon AS slon
          FROM pts WHERE event_id < {R.GEO_N_SITES})
SELECT site_id, p.event_id AS point_id,
  (p.lat - slat) * (p.lat - slat) + (p.lon - slon) * (p.lon - slon) AS d2
FROM sites s JOIN pts p ON p.event_id != s.site_id
WHERE (p.lat - slat) * (p.lat - slat) + (p.lon - slon) * (p.lon - slon)
      <= {_GEO_R2}""",
    ("geo", "spatial-join", "q7-scale"),
)


REGISTRY["dedup_exact_normalized"] = QuerySpec(
    _t(D.dedup_exact_normalized),
    f"""SELECT sha256({_norm_text_sql()}) AS content_hash,
  min(doc_id) AS keep_doc_id, count(*) AS n_copies,
  count(DISTINCT text) AS n_raw_variants
FROM documents
GROUP BY content_hash""",
    ("dedup", "normalization"),
)


REGISTRY["label_separability_report"] = QuerySpec(
    _t(S.label_separability_report),
    f"""WITH {_label_mean_ctes()},
intra AS (
  SELECT label,
    cast(sum(d2q) AS DOUBLE) / (count(*) * 1e9) AS intra_mean_d2,
    count(*) AS n_vectors
  FROM (
    SELECT e.label, e.vec_id,
      sum(cast(floor((e.val - p.mv) * (e.val - p.mv) * 1e9) AS BIGINT)) AS d2q
    FROM ex e JOIN per_dim p ON e.label = p.label AND e.pos = p.pos
    GROUP BY e.label, e.vec_id)
  GROUP BY label),
pair_d2 AS (
  SELECT a.label AS la, b.label AS lb,
    cast(sum(cast(floor((a.mv - b.mv) * (a.mv - b.mv) * 1e9) AS BIGINT))
         AS DOUBLE) / 1e9 AS d2
  FROM per_dim a JOIN per_dim b ON a.pos = b.pos AND a.label != b.label
  GROUP BY a.label, b.label),
nearest AS (
  SELECT la AS label, d2 AS inter_min_d2, lb AS nearest_other_label
  FROM (SELECT la, lb, d2,
          row_number() OVER (PARTITION BY la ORDER BY d2, lb) AS rk
        FROM pair_d2)
  WHERE rk = 1)
SELECT i.label, i.n_vectors, i.intra_mean_d2,
  n.nearest_other_label, n.inter_min_d2,
  n.inter_min_d2 / i.intra_mean_d2 AS separability
FROM intra i JOIN nearest n USING (label)""",
    ("similarity", "quality", "separability"),
)


REGISTRY["dedup_ladder_report"] = QuerySpec(
    _t(D.dedup_ladder_report),
    # Rung 2 composes the prefix-filtered Jaccard oracle — the same
    # pair set as the all-pairs definition, like the Spark side.
    # Rung 4 composes the SemDeDup pair chain (within-cell cosine),
    # mirroring the Spark side's scale path.
    f"""WITH jp AS ({REGISTRY["dedup_ngram_jaccard"].oracle}),
mp AS ({_minhash_oracle()}),
ep AS ({_semdedup_pairs_oracle()}),
norm AS (
  SELECT count(*) AS n FROM (
    SELECT doc_id FROM (
      SELECT doc_id,
        count(*) OVER (PARTITION BY sha256({_norm_text_sql()})) AS n
      FROM documents) WHERE n > 1)),
jd AS (SELECT count(*) AS n FROM
  (SELECT doc_a AS d FROM jp UNION SELECT doc_b FROM jp)),
md AS (SELECT count(*) AS n FROM
  (SELECT doc_a AS d FROM mp UNION SELECT doc_b FROM mp)),
ed AS (SELECT count(*) AS n FROM
  (SELECT id_a AS d FROM ep UNION SELECT id_b FROM ep))
SELECT '1_exact_normalized' AS rung, n AS n_docs_flagged FROM norm
UNION ALL SELECT '2_ngram_jaccard', n FROM jd
UNION ALL SELECT '3_minhash_lsh', n FROM md
UNION ALL SELECT '4_semdedup_cosine', n FROM ed""",
    ("dedup", "synthesis", "ladder"),
)


REGISTRY["revenue_pareto_curve"] = QuerySpec(
    _t(A.revenue_pareto_curve),
    """WITH rev AS (
  SELECT o_custkey, sum(cast(o_totalprice AS DECIMAL(25,6))) AS rev
  FROM orders GROUP BY o_custkey),
deciled AS (
  SELECT o_custkey, rev,
    ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
  FROM rev),
tot AS (SELECT sum(rev) AS total_rev FROM rev)
SELECT decile, count(*) AS n_customers,
  cast(sum(rev) AS DOUBLE) AS decile_revenue,
  cast(sum(rev) AS DOUBLE) / cast(total_rev AS DOUBLE) AS revenue_share
FROM deciled, tot GROUP BY decile, total_rev""",
    ("analytics", "pareto", "concentration"),
)


REGISTRY["label_top_terms"] = QuerySpec(
    _t(X.label_top_terms),
    rf"""WITH lab AS (
  SELECT d.doc_id, e.label, d.text
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
toks AS (SELECT label, unnest({_tokens_sql()}) AS token FROM lab),
lab_tf AS (SELECT label, token, count(*) AS tf FROM toks GROUP BY label, token),
lab_n AS (SELECT label, cast(sum(tf) AS BIGINT) AS n_label
          FROM lab_tf GROUP BY label),
tok_n AS (SELECT token, cast(sum(tf) AS BIGINT) AS n_token
          FROM lab_tf GROUP BY token),
tot AS (SELECT cast(sum(tf) AS BIGINT) AS n_total FROM lab_tf),
scored AS (
  SELECT label, token, tf,
    cast(tf * n_total AS DOUBLE) / (n_label * n_token) AS lift
  FROM lab_tf JOIN lab_n USING (label) JOIN tok_n USING (token), tot)
SELECT label, token, tf, lift, rk FROM (
  SELECT *, cast(row_number() OVER (
    PARTITION BY label ORDER BY lift DESC, tf DESC, token) AS INTEGER) AS rk
  FROM scored)
WHERE rk <= {X.LABEL_TOP_TERMS_K}""",
    ("text", "embeddings", "cross-modal", "cluster-naming"),
)


REGISTRY["daily_user_sketch_rollup"] = QuerySpec(
    # Datasketches HLL estimates are sketch-internal; the checked
    # contract is exact (day, n_events) + a Spark-verified 3%/±2
    # error-bound flag per day and for the union row (see
    # analytics.py docstring).  The public operator ALSO emits
    # est_users — projected away here as engine-specific.
    lambda spark, sf_dir: A.daily_user_sketch_rollup(
        load_tables(spark, sf_dir)
    ).drop("est_users"),
    """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events,
       TRUE AS est_within_bound FROM events GROUP BY day
UNION ALL
SELECT '__all__', count(*), TRUE FROM events""",
    ("analytics", "sketch", "hll", "incremental"),
)


REGISTRY["cep_click_error_pattern"] = QuerySpec(
    _t(A.cep_click_error_pattern),
    f"""WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tm FROM events),
framed AS (
  SELECT user_id, event_type,
    min(CASE WHEN event_type = 'error' THEN tm END) OVER (
      PARTITION BY user_id ORDER BY tm
      RANGE BETWEEN CURRENT ROW AND {A.CEP_WINDOW_MICROS} FOLLOWING) AS ne,
    min(CASE WHEN event_type = 'purchase' THEN tm END) OVER (
      PARTITION BY user_id ORDER BY tm
      RANGE BETWEEN CURRENT ROW AND {A.CEP_WINDOW_MICROS} FOLLOWING) AS np
  FROM ev)
SELECT user_id, count(*) AS n_clicks,
  cast(sum(CASE WHEN ne IS NOT NULL AND (np IS NULL OR np > ne)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_patterns
FROM framed WHERE event_type = 'click'
GROUP BY user_id""",
    ("analytics", "cep", "sequence-pattern"),
)


def _storm_stats_spark(spark, sf_dir):
    """genmock stats-report parity (reference cmd/genmock/main.go:
    204-250 'collectStats'/'printStats' + 290-353 filtered counts):
    the whole downstream report as ONE relation of (metric, key,
    value_long, value_double) rows over the enriched fixture — each
    branch is a tiny aggregate of the shared enrichment frame."""
    from pyspark.sql import functions as F

    e = _storm_enrich_spark(spark, sf_dir)

    def metric(name, key_col, agg_df):
        return agg_df.select(
            F.lit(name).alias("metric"),
            key_col.alias("key"),
            F.col("_n").cast("long").alias("value_long"),
            F.col("_d").cast("double").alias("value_double"),
        )

    by_type = metric(
        "count_by_type",
        F.col("event_type"),
        e.groupBy("event_type").agg(
            F.count("*").alias("_n"), F.lit(None).alias("_d")
        ),
    )
    by_sev = metric(
        "count_by_severity",
        F.coalesce(F.col("measurement_severity"), F.lit("")),
        e.groupBy("measurement_severity").agg(
            F.count("*").alias("_n"), F.lit(None).alias("_d")
        ),
    )
    by_state = metric(
        "count_by_state",
        F.col("location_state"),
        e.groupBy("location_state").agg(
            F.count("*").alias("_n"), F.lit(None).alias("_d")
        ),
    )
    totals = metric(
        "total",
        F.lit(""),
        e.agg(F.count("*").alias("_n"), F.lit(None).alias("_d")),
    )
    with_sev = metric(
        "with_severity",
        F.lit(""),
        e.agg(
            F.count("measurement_severity").alias("_n"), F.lit(None).alias("_d")
        ),
    )
    max_hail = metric(
        "max_hail_magnitude",
        F.lit(""),
        e.filter(F.col("event_type") == "hail").agg(
            F.lit(None).cast("long").alias("_n"),
            F.max("measurement_magnitude").alias("_d"),
        ),
    )
    geo_box = metric(
        "geo_box_count",
        F.lit(""),
        e.filter(
            (F.abs(F.col("geo_lat") - 32.75) <= 0.75)
            & (F.abs(F.col("geo_lon") + 97.15) <= 0.75)
        ).agg(F.count("*").alias("_n"), F.lit(None).alias("_d")),
    )
    thresh = metric(
        "count_mag_ge_1_75",
        F.lit(""),
        e.filter(F.col("measurement_magnitude") >= 1.75).agg(
            F.count("*").alias("_n"), F.lit(None).alias("_d")
        ),
    )
    out = by_type
    for part in (by_sev, by_state, totals, with_sev, max_hail, geo_box, thresh):
        out = out.unionByName(part)
    return out


REGISTRY["storm_stats_report"] = QuerySpec(
    _storm_stats_spark,
    f"""WITH enriched AS ({_storm_enrich_oracle()})
SELECT 'count_by_type' AS metric, event_type AS key,
  count(*) AS value_long, cast(NULL AS DOUBLE) AS value_double
FROM enriched GROUP BY event_type
UNION ALL
SELECT 'count_by_severity', coalesce(measurement_severity, ''),
  count(*), NULL
FROM enriched GROUP BY measurement_severity
UNION ALL
SELECT 'count_by_state', location_state, count(*), NULL
FROM enriched GROUP BY location_state
UNION ALL
SELECT 'total', '', count(*), NULL FROM enriched
UNION ALL
SELECT 'with_severity', '', count(measurement_severity), NULL FROM enriched
UNION ALL
SELECT 'max_hail_magnitude', '', NULL, max(measurement_magnitude)
FROM enriched WHERE event_type = 'hail'
UNION ALL
SELECT 'geo_box_count', '', count(*), NULL FROM enriched
WHERE abs(geo_lat - 32.75) <= 0.75 AND abs(geo_lon + 97.15) <= 0.75
UNION ALL
SELECT 'count_mag_ge_1_75', '', count(*), NULL FROM enriched
WHERE measurement_magnitude >= 1.75""",
    ("reference-parity", "genmock", "report"),
)


REGISTRY["type_weekday_mutual_information"] = QuerySpec(
    _t(A.type_weekday_mutual_information),
    """WITH cells AS (
  SELECT event_type, cast(dayofweek(ts) + 1 AS INTEGER) AS dow,
         count(*) AS n_xy
  FROM events GROUP BY event_type, dayofweek(ts)),
mx AS (SELECT event_type, cast(sum(n_xy) AS BIGINT) AS n_x
       FROM cells GROUP BY event_type),
my AS (SELECT dow, cast(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY dow),
tot AS (SELECT cast(sum(n_xy) AS BIGINT) AS n FROM cells)
SELECT
  cast(sum(n_xy * cast(floor(ln(cast(n_xy * n AS DOUBLE) / (n_x * n_y))
                             * 1e6) AS BIGINT)) AS DOUBLE)
    / (1e6 * max(n)) AS mi_nats,
  count(*) AS n_cells,
  max(n) AS n_events
FROM cells JOIN mx USING (event_type) JOIN my USING (dow), tot""",
    ("analytics", "information-theory", "association"),
)


REGISTRY["source_token_entropy"] = QuerySpec(
    _t(X.source_token_entropy),
    f"""WITH toks AS (
  SELECT source, unnest({_tokens_sql()}) AS token FROM documents),
tf AS (SELECT source, token, count(*) AS n_t FROM toks GROUP BY source, token),
per AS (
  SELECT source, token, n_t,
    cast(sum(n_t) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM tf),
agg AS (
  SELECT source, max(n_s) AS n_tokens, count(*) AS vocab_size,
    -cast(sum(n_t * cast(floor(ln(cast(n_t AS DOUBLE) / n_s) * 1e6)
                         AS BIGINT)) AS DOUBLE) / (1e6 * max(n_s))
      AS entropy_nats
  FROM per GROUP BY source)
SELECT source, n_tokens, vocab_size, entropy_nats,
  cast(cast(floor(ln(cast(vocab_size AS DOUBLE)) * 1e6) AS BIGINT)
       AS DOUBLE) / 1e6 AS entropy_ceiling_nats,
  CASE WHEN vocab_size > 1 THEN
    entropy_nats / (cast(cast(floor(ln(cast(vocab_size AS DOUBLE)) * 1e6)
                              AS BIGINT) AS DOUBLE) / 1e6)
  END AS diversity_ratio
FROM agg""",
    ("text", "quality", "entropy"),
)


REGISTRY["vocab_growth_curve"] = QuerySpec(
    _t(X.vocab_growth_curve),
    f"""WITH {_TOKEN_CTE},
first_seen AS (SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY token),
deciled AS (
  SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS decile,
    len({_tokens_sql()}) AS n_toks
  FROM documents),
bounds AS (
  SELECT decile, max(doc_id) AS max_doc, count(*) AS n_docs,
    cast(sum(n_toks) AS BIGINT) AS decile_tokens
  FROM deciled GROUP BY decile),
cum AS (
  SELECT decile, max_doc,
    cast(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
    CAST(sum(decile_tokens) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens
  FROM bounds)
SELECT decile, max_doc, cum_docs, cum_tokens, count(*) AS cum_vocab
FROM cum JOIN first_seen ON first_doc <= max_doc
GROUP BY decile, max_doc, cum_docs, cum_tokens""",
    ("text", "scaling", "heaps-law"),
)


REGISTRY["pii_incidence_report"] = QuerySpec(
    _t(P.pii_incidence_report),
    rf"""WITH planted AS (
  SELECT source, doc_id,
    text
      || CASE WHEN doc_id % 3 = 0
              THEN ' u' || cast(doc_id AS VARCHAR) || '@ex.com' ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' 555-123-4567' ELSE '' END AS ptext
  FROM documents),
counted AS (
  SELECT source,
    len(regexp_extract_all(ptext, '{P.EMAIL_RE}')) AS ne,
    len(regexp_extract_all(ptext, '{P.PHONE_RE}')) AS np
  FROM planted)
SELECT source, count(*) AS n_docs,
  cast(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
  cast(sum(ne) AS BIGINT) AS email_hits,
  cast(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
  cast(sum(np) AS BIGINT) AS phone_hits
FROM counted GROUP BY source""",
    ("curation", "pii", "compliance"),
)


def _shared_sql_spark(spark, sf_dir):
    """ONE SQL text, two engines: the Spark side executes the exact
    DuckDB oracle string over registered views (schemas.register_views)
    — the portability proof that the engine's SQL surface speaks the
    same ANSI dialect the oracle does, decimal routing included."""
    from storm_data_etl_service_spark.schemas import register_views

    register_views(spark, sf_dir)
    return spark.sql(REGISTRY["tpch_q6_forecast_revenue"].oracle)


REGISTRY["tpch_q6_shared_sql"] = QuerySpec(
    _shared_sql_spark,
    None,  # set below: literally the same string as the Spark side
    ("sql-api", "portability", "tpch"),
)
REGISTRY["tpch_q6_shared_sql"].oracle = REGISTRY["tpch_q6_forecast_revenue"].oracle


REGISTRY["tokenizer_fertility_by_lang"] = QuerySpec(
    _t(X.tokenizer_fertility_by_lang),
    f"""WITH per_doc AS (
  SELECT lang, length(text) AS n_chars,
    len({_tokens_sql()}) AS n_words,
    {_bpe_count_sql()} AS n_bpe
  FROM documents)
SELECT lang, count(*) AS n_docs,
  cast(sum(n_chars) AS BIGINT) AS total_chars,
  cast(sum(n_words) AS BIGINT) AS total_words,
  cast(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
  cast(sum(n_chars) AS DOUBLE) / sum(n_bpe) AS chars_per_token,
  cast(sum(n_bpe) AS DOUBLE) / sum(n_words) AS tokens_per_word
FROM per_doc GROUP BY lang""",
    ("text", "tokenizer", "budget"),
)


REGISTRY["global_shuffle_order"] = QuerySpec(
    _t(P.global_shuffle_order),
    f"""WITH h AS (
  SELECT doc_id,
    {_sha_int_sql("'shuffle|r3|' || cast(doc_id AS VARCHAR)")}
      AS _h
  FROM documents),
sharded AS (
  SELECT doc_id, _h, CAST((_h * 16) // 4294967296 AS INTEGER) AS shard FROM h)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY _h, doc_id) AS INTEGER)
    AS pos_in_shard,
  CAST(row_number() OVER (ORDER BY _h, doc_id) - 1 AS BIGINT) AS global_pos
FROM sharded""",
    ("pipeline", "shuffle", "ordering"),
)


REGISTRY["length_bucket_batches"] = QuerySpec(
    _t(P.length_bucket_batches),
    f"""WITH laid AS (
  SELECT doc_id, n_chars,
    CAST(length(bin(n_chars)) - 1 AS INTEGER) AS len_bucket,
    {_sha_int_sql("'lbb|' || cast(doc_id AS VARCHAR)")} % 4
      AS stream
  FROM documents),
batched AS (
  SELECT len_bucket, stream, n_chars,
    (row_number() OVER (PARTITION BY len_bucket, stream
                        ORDER BY n_chars, doc_id) - 1) // 16 AS batch
  FROM laid),
per_batch AS (
  SELECT len_bucket, stream, batch, count(*) AS n_in_batch,
    max(n_chars) AS max_len, sum(n_chars) AS sum_len
  FROM batched GROUP BY len_bucket, stream, batch)
SELECT len_bucket,
  cast(sum(n_in_batch) AS BIGINT) AS n_docs,
  count(*) AS n_batches,
  cast(sum(sum_len) AS BIGINT) AS payload_chars,
  cast(sum(n_in_batch * max_len) AS BIGINT) AS padded_chars,
  cast(sum(n_in_batch * max_len) - sum(sum_len) AS DOUBLE)
    / sum(n_in_batch * max_len) AS pad_frac
FROM per_batch GROUP BY len_bucket""",
    ("pipeline", "batching", "padding"),
)


REGISTRY["curriculum_order"] = QuerySpec(
    _t(P.curriculum_order),
    f"""WITH ranked AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rn,
    count(*) OVER () AS n
  FROM documents),
banded AS (
  SELECT doc_id,
    CAST((rn * 8) // n AS INTEGER) AS band,
    {_sha_int_sql("'curr|' || cast(doc_id AS VARCHAR)")}
      AS _h
  FROM ranked)
SELECT doc_id, band,
  CAST(row_number() OVER (PARTITION BY band ORDER BY _h, doc_id) AS INTEGER)
    AS band_pos,
  CAST(row_number() OVER (ORDER BY band, _h, doc_id) - 1 AS BIGINT)
    AS curriculum_pos
FROM banded""",
    ("pipeline", "curriculum", "ordering"),
)


REGISTRY["epoch_stream_order"] = QuerySpec(
    _t(P.epoch_stream_order),
    f"""WITH {_MIXTURE_COPIES_CTES},
expanded AS (
  SELECT doc_id, unnest(range(n_copies)) AS copy
  FROM copies WHERE n_copies > 0),
keyed AS (
  SELECT doc_id, CAST(copy AS INTEGER) AS copy,
    {_sha_int_sql("'epoch|' || cast(copy AS VARCHAR) || '|' || cast(doc_id AS VARCHAR)")}
      AS _h
  FROM expanded)
SELECT doc_id, copy,
  CAST((_h * 16) // 4294967296 AS INTEGER) AS shard,
  CAST(row_number() OVER (ORDER BY _h, doc_id, copy) - 1 AS BIGINT)
    AS epoch_pos
FROM keyed""",
    ("pipeline", "mixture", "ordering"),
)


REGISTRY["stratified_sample"] = QuerySpec(
    _t(P.stratified_sample),
    f"""WITH h AS (
  SELECT doc_id, source,
    {_sha_int_sql("'strat|' || cast(doc_id AS VARCHAR)")}
      AS _h
  FROM documents),
ranked AS (
  SELECT source, doc_id,
    CAST(row_number() OVER (PARTITION BY source ORDER BY _h, doc_id)
         AS INTEGER) AS sample_rank
  FROM h)
SELECT source, sample_rank, doc_id FROM ranked WHERE sample_rank <= 10""",
    ("pipeline", "sampling", "stratified"),
)


_GOPHER_STOP_SQL = ",".join(f"'{w}'" for w in X.GOPHER_STOPWORDS)

#: The Gopher rules per document, twin of ``text.gopher_doc_flags``:
#: ``gflags`` holds (doc_id, source, f_words … f_stop, keep).
_GOPHER_FLAGS_CTES = f"""gdoc AS (
  SELECT doc_id, source,
    {_tokens_sql()} AS ts,
    length(text) - length(replace(text, '#', '')) AS hash_chars,
    (length(text) - length(replace(text, '...', ''))) // 3 AS ell
  FROM documents),
gperdoc AS (
  SELECT doc_id, source, len(ts) AS n,
    coalesce(list_sum(list_transform(ts, x -> length(x))), 0) AS sum_len,
    len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    len(list_intersect(ts, [{_GOPHER_STOP_SQL}])) AS n_stop,
    hash_chars + ell AS n_sym
  FROM gdoc),
grules AS (
  SELECT doc_id, source,
    NOT (n BETWEEN {X.GOPHER_MIN_WORDS} AND {X.GOPHER_MAX_WORDS}) AS f_words,
    (n > 0 AND NOT (sum_len BETWEEN {X.GOPHER_MIN_MEAN_LEN} * n
                                AND {X.GOPHER_MAX_MEAN_LEN} * n)) AS f_mean,
    (n_sym * 10 > n * {X.GOPHER_SYMBOL_RATIO_X10}) AS f_sym,
    (n_alpha * {X.GOPHER_ALPHA_SHARE[1]} < n * {X.GOPHER_ALPHA_SHARE[0]}) AS f_alpha,
    (n_stop < {X.GOPHER_MIN_STOPWORDS}) AS f_stop
  FROM gperdoc),
gflags AS (
  SELECT *, NOT (f_words OR f_mean OR f_sym OR f_alpha OR f_stop) AS keep
  FROM grules)"""

REGISTRY["gopher_quality_flags"] = QuerySpec(
    _t(X.gopher_quality_flags),
    f"""WITH {_GOPHER_FLAGS_CTES}
SELECT source, count(*) AS n_docs,
  cast(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
  cast(sum(CASE WHEN f_mean THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mean,
  cast(sum(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_sym,
  cast(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
  cast(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
  cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS keep_rate
FROM gflags GROUP BY source""",
    ("text", "quality", "curation", "gopher"),
)

REGISTRY["ccnet_perplexity_buckets"] = QuerySpec(
    _t(X.ccnet_perplexity_buckets),
    f"""WITH {_CCNET_DOC_SURPRISAL},
sd AS (
  SELECT d.doc_id, lang,
    cast(floor(avg_surprisal * 100) AS BIGINT) AS ppl_bin
  FROM doc d JOIN documents USING (doc_id)),
hist AS (SELECT lang, ppl_bin, count(*) AS n FROM sd GROUP BY 1, 2),
cum AS (
  SELECT lang, ppl_bin,
    sum(n) OVER (PARTITION BY lang ORDER BY ppl_bin) AS cum,
    sum(n) OVER (PARTITION BY lang) AS n_lang
  FROM hist),
cuts AS (
  SELECT lang,
    min(CASE WHEN cum * 3 >= n_lang THEN ppl_bin END) AS t1,
    min(CASE WHEN cum * 3 >= 2 * n_lang THEN ppl_bin END) AS t2
  FROM cum GROUP BY lang)
SELECT doc_id, lang, ppl_bin,
  CASE WHEN ppl_bin <= t1 THEN 'head'
       WHEN ppl_bin <= t2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM sd JOIN cuts USING (lang)""",
    ("text", "quality", "language-model", "ccnet", "histogram-quantile"),
)

_TOKENS_CTE = f"""tl AS (
  SELECT doc_id, lang, source, {_tokens_sql()} AS ts FROM documents)"""

REGISTRY["dsir_importance_weights"] = QuerySpec(
    _t(X.dsir_importance_weights),
    f"""WITH {_TOKENS_CTE},
bigrams AS (
  SELECT doc_id, lang, unnest({_bigrams_sql('ts')}) AS bigram FROM tl),
dc AS (
  SELECT doc_id, {_sha_int_sql('bigram')} % 4096 AS bucket,
    count(*) AS c, max(lang) AS lang
  FROM bigrams GROUP BY 1, 2),
raw AS (SELECT bucket, cast(sum(c) AS BIGINT) AS c_raw FROM dc GROUP BY bucket),
tgt AS (SELECT bucket, cast(sum(c) AS BIGINT) AS c_tgt
        FROM dc WHERE lang = 'en' GROUP BY bucket),
nr AS (SELECT cast(sum(c_raw) AS BIGINT) AS n_raw FROM raw),
nt AS (SELECT cast(coalesce(sum(c_tgt), 0) AS BIGINT) AS n_tgt FROM tgt),
model AS (
  SELECT r.bucket,
    cast(floor(ln(
      (cast(coalesce(c_tgt, 0) + 1 AS DOUBLE) * cast(n_raw + 4096 AS DOUBLE))
      / (cast(c_raw + 1 AS DOUBLE) * cast(n_tgt + 4096 AS DOUBLE))
    ) * 1e6) AS BIGINT) AS lr_q
  FROM raw r LEFT JOIN tgt USING (bucket), nr, nt)
SELECT doc_id, cast(sum(c) AS BIGINT) AS n_feats,
  cast(sum(c * lr_q) AS DOUBLE) / (1e6 * sum(c)) AS avg_log_ratio
FROM dc JOIN model USING (bucket)
GROUP BY doc_id""",
    ("text", "curation", "dsir", "importance-sampling"),
)

REGISTRY["zipf_slope_fit"] = QuerySpec(
    _t(X.zipf_slope_fit),
    f"""WITH tok AS (
  SELECT unnest({_tokens_sql()}) AS token FROM documents),
counts AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
  FROM counts QUALIFY rank <= 100),
pts AS (
  SELECT cast(floor(ln(cast(rank AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
         cast(floor(ln(cast(freq AS DOUBLE)) * 1e6) AS BIGINT) AS yq
  FROM ranked),
sums AS (
  SELECT count(*) AS n,
    cast(sum(xq) AS BIGINT) AS sx, cast(sum(yq) AS BIGINT) AS sy,
    cast(sum(xq * xq) AS BIGINT) AS sxx,
    cast(sum(yq * yq) AS BIGINT) AS syy,
    cast(sum(xq * yq) AS BIGINT) AS sxy
  FROM pts)
SELECT cast(n AS BIGINT) AS n_points,
  (cast(n AS DOUBLE) * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))
    / (cast(n AS DOUBLE) * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE))
    AS slope,
  (cast(sy AS DOUBLE)
   - (cast(n AS DOUBLE) * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))
     / (cast(n AS DOUBLE) * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE))
     * cast(sx AS DOUBLE))
    / (cast(n AS DOUBLE) * 1e6) AS intercept,
  ((cast(n AS DOUBLE) * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))
   * (cast(n AS DOUBLE) * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE)))
    / ((cast(n AS DOUBLE) * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE))
       * (cast(n AS DOUBLE) * cast(syy AS DOUBLE) - cast(sy AS DOUBLE) * cast(sy AS DOUBLE)))
    AS r2
FROM sums""",
    ("text", "statistics", "zipf", "regression"),
)

REGISTRY["bpe_first_merges"] = QuerySpec(
    _t(X.bpe_first_merges),
    f"""WITH tok AS (
  SELECT unnest({_tokens_sql()}) AS word FROM documents),
words AS (SELECT word, count(*) AS wc FROM tok GROUP BY word),
pairs AS (
  SELECT wc, unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substr(word, i, 2))) AS pair
  FROM words WHERE length(word) >= 2),
counts AS (SELECT pair, cast(sum(wc) AS BIGINT) AS n FROM pairs GROUP BY pair),
ranked AS (
  SELECT pair, n,
    cast(row_number() OVER (ORDER BY n DESC, pair ASC) AS INTEGER) AS rank
  FROM counts)
SELECT pair, n, rank FROM ranked WHERE rank <= 20""",
    ("text", "tokenizer", "bpe"),
)

REGISTRY["token_budget_waterfill"] = QuerySpec(
    _t(P.token_budget_waterfill),
    f"""WITH {_TOKENS_CTE},
counts AS (
  SELECT source, cast(sum(len(ts)) AS BIGINT) AS n_tokens
  FROM tl GROUP BY source),
capped AS (
  SELECT source, n_tokens,
    {_sha_int_sql('source')} % 3 + 1 AS cap_mult,
    ({_sha_int_sql('source')} % 3 + 1) * n_tokens AS cap_tokens
  FROM counts),
staged AS (
  SELECT *,
    cast(sum(n_tokens) OVER () * 3 // 2 AS BIGINT) AS budget,
    count(*) OVER () AS k,
    row_number() OVER (ORDER BY cap_tokens ASC, source ASC) AS i,
    cast(coalesce(sum(cap_tokens) OVER (
      ORDER BY cap_tokens ASC, source ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
  FROM capped),
s2 AS (
  SELECT *, cap_tokens * (k - i + 1) + pfx <= budget AS saturated
  FROM staged),
s3 AS (
  SELECT *,
    cast(coalesce(sum(CASE WHEN saturated THEN cap_tokens END) OVER (), 0)
         AS BIGINT) AS sat_prefix,
    cast(sum(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS BIGINT)
      AS n_sat,
    cast(coalesce(sum(CASE WHEN saturated THEN 1 ELSE 0 END) OVER (
      ORDER BY cap_tokens ASC, source ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS sat_before
  FROM s2),
s4 AS (
  SELECT *, budget - sat_prefix AS rem, k - n_sat AS n_unsat FROM s3),
alloc AS (
  SELECT source, n_tokens, cap_mult, cap_tokens, saturated,
    CASE WHEN saturated THEN cap_tokens
         ELSE rem // n_unsat
              + CASE WHEN i - sat_before <= rem - rem // n_unsat * n_unsat
                     THEN 1 ELSE 0 END
    END AS a
  FROM s4)
SELECT source, n_tokens, cap_mult, cap_tokens, saturated,
  cast(a AS BIGINT) AS alloc_tokens,
  cast(a AS DOUBLE) / n_tokens AS epochs
FROM alloc""",
    ("pipeline", "curation", "waterfill", "budget"),
)


REGISTRY["source_divergence_matrix"] = QuerySpec(
    _t(X.source_divergence_matrix),
    f"""WITH tl AS (
  SELECT source, unnest({_tokens_sql()}) AS token FROM documents),
tc AS (SELECT source, token, count(*) AS n FROM tl GROUP BY 1, 2),
totals AS (
  SELECT source, cast(sum(n) AS BIGINT) AS n_tok, count(*) AS v_src
  FROM tc GROUP BY source),
voc AS (SELECT count(DISTINCT token) AS v FROM tc),
pairs AS (
  SELECT a.source AS s1, b.source AS s2,
         a.n_tok + v AS den1, b.n_tok + v AS den2,
         a.v_src AS v1, b.v_src AS v2, v
  FROM totals a, totals b, voc WHERE a.source < b.source),
toks AS (SELECT DISTINCT token FROM tc),
grid AS (
  SELECT p.s1, p.s2, p.den1, p.den2, p.v1, p.v2, p.v,
         coalesce(a.n, 0) AS na, coalesce(b.n, 0) AS nb
  FROM pairs p
  CROSS JOIN toks t
  LEFT JOIN tc a ON a.token = t.token AND a.source = p.s1
  LEFT JOIN tc b ON b.token = t.token AND b.source = p.s2
  WHERE coalesce(a.n, 0) > 0 OR coalesce(b.n, 0) > 0),
terms AS (
  -- ln-argument products in DOUBLE with the same association order as
  -- the Spark side ((2·x)·y; x·y + x·y): BIGINT products are O(n_tok²)
  -- and overflow past ~3e9 tokens/source.  Term products + sums in
  -- HUGEINT = the Spark side's DECIMAL(38,0), integer-for-integer.
  SELECT s1, s2, den1, den2, v1, v2, v, na, nb,
    cast(na + 1 AS DOUBLE) * cast(den2 AS DOUBLE)
      + cast(nb + 1 AS DOUBLE) * cast(den1 AS DOUBLE) AS dd
  FROM grid),
agg AS (
  SELECT s1, s2, max(den1) AS den1, max(den2) AS den2,
    max(v1) AS v1, max(v2) AS v2, max(v) AS v,
    sum(cast(na + 1 AS HUGEINT) * cast(floor(ln(
      2.0 * cast(na + 1 AS DOUBLE) * cast(den2 AS DOUBLE) / dd) * 1e6)
      AS BIGINT)) AS sp,
    sum(cast(nb + 1 AS HUGEINT) * cast(floor(ln(
      2.0 * cast(nb + 1 AS DOUBLE) * cast(den1 AS DOUBLE) / dd) * 1e6)
      AS BIGINT)) AS sq,
    count(*) AS n_union,
    cast(sum(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_overlap
  FROM terms GROUP BY s1, s2)
SELECT s1 AS source_a, s2 AS source_b,
  v1 AS vocab_a, v2 AS vocab_b,
  n_overlap AS vocab_overlap, n_union AS vocab_union,
  cast(n_overlap AS DOUBLE) / n_union AS vocab_jaccard,
  greatest(
  cast(sp + (v - n_union) * cast(floor(ln(
      cast(2 * den2 AS DOUBLE) / cast(den1 + den2 AS DOUBLE)) * 1e6)
      AS BIGINT) AS DOUBLE) / (cast(den1 AS DOUBLE) * 2e6)
  + cast(sq + (v - n_union) * cast(floor(ln(
      cast(2 * den1 AS DOUBLE) / cast(den1 + den2 AS DOUBLE)) * 1e6)
      AS BIGINT) AS DOUBLE) / (cast(den2 AS DOUBLE) * 2e6),
  0.0) AS js_divergence_nats
FROM agg""",
    ("text", "curation", "divergence", "mixture"),
)


REGISTRY["minhash_band_calibration"] = QuerySpec(
    _t(D.minhash_band_calibration),
    _band_calibration_sql(_NGRAM_JACCARD_ORACLE),
    ("dedup", "minhash", "lsh", "calibration"),
)


REGISTRY["quality_gate_agreement"] = QuerySpec(
    # Composes the CCNet and linear-score oracles verbatim (nested-CTE
    # subqueries, the dedup_ladder pattern) plus gopher_quality_flags'
    # per-document rule CTEs.
    _t(X.quality_gate_agreement),
    f"""WITH cc AS ({REGISTRY["ccnet_perplexity_buckets"].oracle}),
qs AS ({REGISTRY["quality_linear_score"].oracle}),
{_GOPHER_FLAGS_CTES}
SELECT cc.bucket AS ppl_bucket, gflags.keep AS gopher_keep,
  count(*) AS n_docs,
  cast(sum(cc.ppl_bin) AS DOUBLE) / count(*) AS avg_ppl_bin,
  cast(sum(qs.logit) AS BIGINT) AS sum_logit,
  cast(sum(qs.logit) AS DOUBLE) / cast(sum(qs.n_feats) AS BIGINT)
    AS avg_feat_score,
  cast(sum(CASE WHEN qs.verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_verdict_keep
FROM cc JOIN gflags USING (doc_id) JOIN qs USING (doc_id)
GROUP BY 1, 2""",
    ("text", "quality", "curation", "calibration"),
)


def _matryoshka_oracle() -> str:
    """Same-bucket pair set via the auto-width LSH twin, then the
    portable sequential-fold cosine over each prefix width; fixed-point
    sums mirror similarity.matryoshka_truncation_audit."""
    from storm_data_etl_service_spark.operators.similarity import MATRYOSHKA_TOL_Q

    cos_full = _cosine_sql("va", "vb")
    cos_d = _cosine_sql("list_slice(va, 1, d)", "list_slice(vb, 1, d)")
    return f"""WITH {_lsh_bucket_ctes()},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM bucketed a JOIN bucketed b ON a.pfx = b.pfx AND a.vec_id < b.vec_id),
dims AS (SELECT * FROM (VALUES (8), (16), (32), (64)) AS dd(d)),
graded AS (
  SELECT d,
    cast(floor(abs(({cos_d}) - ({cos_full})) * 1e9) AS BIGINT) AS absdelta_q,
    cast(floor(({cos_d}) * 1e9) AS BIGINT) AS cos_q
  FROM pairs CROSS JOIN dims)
SELECT d, count(*) AS n_pairs,
  cast(sum(absdelta_q) AS DOUBLE) / (count(*) * 1e9) AS mean_abs_delta,
  cast(sum(CASE WHEN absdelta_q <= {MATRYOSHKA_TOL_Q} THEN 1 ELSE 0 END)
       AS DOUBLE) / count(*) AS within_tol_share,
  cast(sum(cos_q) AS DOUBLE) / (count(*) * 1e9) AS mean_cosine
FROM graded GROUP BY d"""


REGISTRY["matryoshka_truncation_audit"] = QuerySpec(
    _t(S.matryoshka_truncation_audit),
    _matryoshka_oracle(),
    ("similarity", "embedding", "matryoshka", "ann"),
)

REGISTRY["label_embedding_fid"] = QuerySpec(
    _t(S.label_embedding_fid),
    """WITH ex AS (
  SELECT label,
    cast(floor(cast(embedding[i] AS DOUBLE) * 1e9) AS BIGINT) AS q, i
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
mom AS (
  SELECT label, i AS pos, count(*) AS n,
    sum(q) AS s1,
    sum(cast(q AS HUGEINT) * cast(q AS HUGEINT)) AS s2
  FROM ex GROUP BY label, i),
stats AS (
  SELECT label, pos, n,
    cast(s1 AS DOUBLE) / cast(n AS DOUBLE) AS mu,
    greatest(cast(s2 AS DOUBLE) / cast(n AS DOUBLE)
      - (cast(s1 AS DOUBLE) / cast(n AS DOUBLE))
        * (cast(s1 AS DOUBLE) / cast(n AS DOUBLE)), 0.0) AS var
  FROM mom),
terms AS (
  SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
    cast(floor(((a.mu - b.mu) * (a.mu - b.mu) + a.var + b.var
                - 2.0 * sqrt(a.var * b.var)) / 1e9) AS BIGINT) AS term_q
  FROM stats a JOIN stats b
    ON a.pos = b.pos AND a.label < b.label)
SELECT label_a, label_b, max(n_a) AS n_a, max(n_b) AS n_b,
  cast(sum(term_q) AS DOUBLE) / 1e9 AS fid_diag
FROM terms GROUP BY label_a, label_b""",
    ("similarity", "embedding", "drift", "frechet"),
)

REGISTRY["context_fill_efficiency"] = QuerySpec(
    _t(P.context_fill_efficiency),
    f"""WITH lens AS (
  SELECT * FROM (VALUES (512), (2048), (8192)) AS l(context_len)),
ntok AS (
  SELECT cast(len({_tokens_sql()}) AS BIGINT) AS n_tok
  FROM documents),
graded AS (
  SELECT context_len, n_tok,
    cast(floor((n_tok + context_len - 1) / context_len) AS BIGINT) AS chunks,
    greatest(n_tok - context_len, 0) AS clipped,
    CASE WHEN n_tok > context_len THEN 1 ELSE 0 END AS over
  FROM ntok CROSS JOIN lens),
agg AS (
  SELECT context_len, count(*) AS n_docs,
    cast(sum(over) AS BIGINT) AS n_docs_over,
    cast(sum(n_tok) AS BIGINT) AS total_tokens,
    cast(sum(clipped) AS BIGINT) AS clip_lost_tokens,
    cast(sum(chunks) AS BIGINT) AS chunk_rows,
    cast(sum(chunks * context_len - n_tok) AS BIGINT) AS chunk_pad_tokens
  FROM graded GROUP BY context_len)
SELECT context_len, n_docs,
  cast(n_docs_over AS DOUBLE) / n_docs AS doc_over_share,
  total_tokens, clip_lost_tokens, chunk_rows, chunk_pad_tokens,
  cast(total_tokens AS DOUBLE)
    / cast(chunk_rows * context_len AS DOUBLE) AS chunk_fill_ratio,
  cast(floor((total_tokens + context_len - 1) / context_len) AS BIGINT)
    AS perfect_rows,
  cast(total_tokens AS DOUBLE)
    / cast(cast(floor((total_tokens + context_len - 1) / context_len)
                AS BIGINT) * context_len AS DOUBLE) AS perfect_fill_ratio
FROM agg""",
    ("pipeline", "layout", "packing", "context"),
)


# --------------------------------------------------------------------------
# Driver-window ordering.  The correctness driver oracle-checks the FIRST
# 50 ``queries()`` entries each round, so the window is curated to cover
# every SURVEY §2 operator (rows 1-24) plus one representative of each
# beyond-reference capability family (TPC-H joins, multi-dim agg,
# sketches, dedup ladder, ANN family, curation pipeline, multimodal,
# streaming-window semantics).  Everything else keeps its declaration
# order and is verified by the committed full-surface run of
# scripts/check_correctness.py (all entries, zero reds).
# --------------------------------------------------------------------------

_PRIORITY_WINDOW = [
    # --- round-7 rotation (r6 verdict task 2): ALL 20 entries never
    # driver-gated in r1-r6 go first — after this window every one of
    # the 205 registry entries has at least one green driver-gate row.
    # The 20 = the 13 analytics/geo leftovers deferred from the r6
    # window + the 7 round-6 operators that missed that window.  The
    # remaining 30 slots are re-checks: entries whose code changes this
    # round (source_divergence_matrix carries the JSD >= 0 clamp; its
    # oracle changed too), plus one representative per operator family
    # (SURVEY §2 enrichment/relational core, TPC-H joins, dedup ladder,
    # ANN, text/curation, training layout, graph, multimodal,
    # streaming-window semantics). ---
    # the 20 never-driver-checked entries (r6 verdict "What's wrong" #2)
    "moving_avg_events", "balance_deciles", "ratio_to_report",
    "revenue_mom_growth", "grouped_top1_spender", "rfm_segment_counts",
    "weekly_churn_rate", "segmented_running_total", "part_affinity_topk",
    "seasonality_profile", "hourly_autocorrelation", "gini_by_source",
    "geo_neighbor_search",
    "dsir_importance_weights", "zipf_slope_fit", "bpe_first_merges",
    "token_budget_waterfill", "source_divergence_matrix",
    "minhash_band_calibration", "quality_gate_agreement",
    # re-checks: SURVEY §2 core (enrichment chain + relational)
    "storm_enrich", "enrich_events", "q1_group_count",
    "q9_grouped_topk", "q12_dedup_first_wins", "q13_anti_join",
    "p13_hourly_rollup",
    # re-checks: TPC-H join shapes
    "tpch_q1_pricing_summary", "tpch_q5_regional_revenue",
    "tpch_q8_market_share", "tpch_q21_waiting_suppliers",
    # round-7 NEW operators — gated while freshest (they take three
    # re-check slots; never-checked coverage stays complete)
    "matryoshka_truncation_audit", "label_embedding_fid",
    "context_fill_efficiency",
    # re-checks: dedup ladder
    "dedup_minhash_lsh", "dedup_jaccard_prefix_join",
    "dedup_containment", "dedup_ladder_report", "semdedup_auto",
    "bloom_dedup_report",
    # re-checks: ANN / embeddings
    "ann_cosine_topk", "ann_ivf_auto",
    "embedding_power_iteration", "eval_semantic_contamination",
    # re-checks: text / curation / layout
    "tfidf_top_terms", "bm25_doc_ranking",
    "corpus_curation_pipeline", "global_shuffle_order",
    # re-checks: graph + multimodal representatives
    "triangle_stats", "multimodal_decode_stats",
]
assert len(_PRIORITY_WINDOW) == 50, len(_PRIORITY_WINDOW)
_missing = [n for n in _PRIORITY_WINDOW if n not in REGISTRY]
assert not _missing, f"priority window names absent from REGISTRY: {_missing}"

REGISTRY = {
    **{name: REGISTRY[name] for name in _PRIORITY_WINDOW},
    **{name: spec for name, spec in REGISTRY.items() if name not in _PRIORITY_WINDOW},
}
