"""The storm-report enrichment chain as pure Catalyst column expressions.

Re-expresses the reference's per-record transform functions
(reference internal/domain/transform.go — operators P1-P14 in
SURVEY.md §2.2) as built-in Spark SQL expressions.  Zero UDFs: the
whole chain stays inside WholeStageCodegen, so one projection node
enriches at memory bandwidth regardless of cluster size, and the very
same function is shared verbatim between batch and Structured
Streaming (it is stateless and expression-only).

Semantics notes (the "hard parts", SURVEY.md §7):

* Go zero-value semantics are kept at the contract surface: empty
  string (not null) for absent type/office, 0.0 (not null) for
  unparseable numbers; genuinely optional fields (severity, location
  distance/direction) are null, matching the reference's pointer
  fields with ``omitempty``.
* The deterministic ID hashes the *pre-normalization* magnitude and
  the *raw* time string (reference internal/domain/transform.go:134-142),
  with Go ``%g`` float formatting reproduced by an
  integer-vs-decimal expression (exact for the short-decimal domain).
* The HHMM fallback base date is the per-row Kafka message timestamp
  (reference internal/domain/transform.go:118-129) — threaded through
  as a column, never a constant.
* ``processed_at`` takes an injectable override mirroring the
  reference's swappable clock (internal/domain/clock.go:7-16) so
  golden-output tests are deterministic.

Column trees are built once per process.  Every ``F.*`` call is a
round trip to the JVM (about eight with the session's
``dataFrameDebugging`` call-site capture on), and the chain below is
~2,000 of them — so ``parse_raw_events``, ``enrich`` and ``flatten``
read their expressions from ``functools.cache`` builders keyed only on
hashable arguments, and each call merely applies them to its frame.
Sharing them is safe: a ``Column`` is an immutable, unresolved
expression that names columns but no DataFrame or session (it is
resolved against the frame it is applied to), and cached Columns keep
working across ``spark.stop()`` and a new ``get_spark()`` in the same
process.  Never build ``F.*`` trees inside a per-batch function; add a
memoized builder beside it.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storm_data_etl_service_spark.schemas import RAW_CSV_SCHEMA

#: WFO office code: 3-5 uppercase letters in trailing parens
#: (reference internal/domain/transform.go:17).
OFFICE_RE = r"\(([A-Z]{3,5})\)\s*$"

#: NWS relative location "<dist> <compass> <place>"
#: (reference internal/domain/transform.go:21).
LOCATION_RE = r"^(\d+(?:\.\d+)?)\s+([NSEW]{1,3})\s+(.+)$"

VALID_EVENT_TYPES = ("hail", "wind", "tornado")


def parse_float_or_zero(c: Column) -> Column:
    """P1 — lenient string→double: trim; ""/unparseable → 0.0.

    Spark's cast yields null on failure; coalesce restores the
    reference's zero-value semantics
    (reference internal/domain/transform.go:51-61).
    """
    return F.coalesce(F.trim(c).try_cast("double"), F.lit(0.0))


def normalize_event_type(c: Column) -> Column:
    """P7 — exact whitelist hail/wind/tornado, else ""
    (reference internal/domain/transform.go:166-173)."""
    return F.when(c.isin(*VALID_EVENT_TYPES), c).otherwise(F.lit(""))


def magnitude_raw_string(event_type: Column, size: Column, f_scale: Column, speed: Column) -> Column:
    """P2 (select step) — pick the magnitude source field by event type
    and strip the EF/F prefix from tornado ratings
    (reference internal/domain/transform.go:65-90)."""
    raw = (
        F.when(event_type == "hail", size)
        .when(event_type == "tornado", F.regexp_replace(F.trim(f_scale), "^(EF|F)", ""))
        .when(event_type == "wind", speed)
        .otherwise(F.lit(""))
    )
    return F.trim(raw)


def parse_magnitude(raw_mag: Column) -> Column:
    """P2 (parse step) — UNK sentinel → 0, else lenient float parse."""
    return F.when(F.upper(raw_mag) == "UNK", F.lit(0.0)).otherwise(parse_float_or_zero(raw_mag))


def parse_hhmm(t: Column, base_ts: Column) -> Column:
    """P3 — combine an HHMM wall-clock string with the base date.

    3-digit times are zero-padded, hours 0-23 / minutes 0-59
    validated; anything else falls back to the base timestamp
    (reference internal/domain/transform.go:93-112).
    """
    padded = F.lpad(F.trim(t), 4, "0")
    hh = F.substring(padded, 1, 2).try_cast("int")
    mm = F.substring(padded, 3, 2).try_cast("int")
    shaped = F.trim(t).rlike(r"^\d{3,4}$")
    valid = shaped & (hh <= 23) & (mm <= 59)
    combined = F.make_timestamp(
        F.year(base_ts), F.month(base_ts), F.dayofmonth(base_ts), hh, mm, F.lit(0)
    )
    return F.when(valid, combined).otherwise(base_ts)


def parse_event_time(t: Column, base_ts: Column) -> Column:
    """P4 — RFC 3339 first, else HHMM + per-row base date, "" → base
    (reference internal/domain/transform.go:118-129)."""
    trimmed = F.trim(t)
    # try_to_timestamp: null (not error) on non-RFC3339 input — ANSI-safe
    rfc3339 = F.try_to_timestamp(trimmed, F.lit("yyyy-MM-dd'T'HH:mm:ssX"))
    return (
        F.when(trimmed == "", base_ts)
        .when(rfc3339.isNotNull(), rfc3339)
        .otherwise(parse_hhmm(trimmed, base_ts))
    )


def format_g(mag: Column) -> Column:
    """P6 — Go ``%g`` shortest-form float rendering (65→"65",
    1.25→"1.25") for the ID pre-image (reference
    internal/domain/transform.go:135).

    Java's ``%g`` differs from Go's, so this is an expression:
    integral values print as integers, everything else uses Spark's
    double→string cast, which matches Go's shortest form for the
    short-decimal magnitudes in this domain.
    """
    return F.when(mag == F.floor(mag), mag.cast("long").cast("string")).otherwise(
        mag.cast("string")
    )


def generate_id(
    event_type: Column, state: Column, lat: Column, lon: Column, raw_time: Column, raw_mag: Column
) -> Column:
    """P5 — deterministic ID:
    ``sha256("type|state|%.4f lat|%.4f lon|timeStr|%g mag")`` → first
    8 bytes hex (16 chars), prefixed ``"<type>-"`` unless type is
    empty (reference internal/domain/transform.go:134-142).

    Hashes the *pre-normalization* magnitude and *raw* time string —
    this is what makes replays idempotent end-to-end (reference
    docs/Architecture.md:99-102).
    """
    pre_image = F.concat_ws(
        "|",
        event_type,
        state,
        F.format_string("%.4f", lat),
        F.format_string("%.4f", lon),
        raw_time,
        format_g(raw_mag),
    )
    digest = F.substring(F.sha2(pre_image, 256), 1, 16)
    return F.when(event_type == "", digest).otherwise(F.concat_ws("-", event_type, digest))


def normalize_unit(event_type: Column) -> Column:
    """P8 — the per-type default unit: hail→in, wind→mph,
    tornado→f_scale, else "" (reference
    internal/domain/transform.go:177-193).  The raw CSV carries no
    unit column, so the reference's lower+trim of a given unit always
    sees "" and falls through to this default."""
    return (
        F.when(event_type == "hail", F.lit("in"))
        .when(event_type == "wind", F.lit("mph"))
        .when(event_type == "tornado", F.lit("f_scale"))
        .otherwise(F.lit(""))
    )


def normalize_magnitude(mag: Column, unit: Column, event_type: Column) -> Column:
    """P9 — legacy hundredths-of-inch rescale: hail ∧ unit=in ∧
    mag≥10 → mag/100 (reference internal/domain/transform.go:200-208)."""
    return F.when(
        (event_type == "hail") & (unit == "in") & (mag >= 10), mag / 100
    ).otherwise(mag)


def derive_severity(mag: Column, event_type: Column) -> Column:
    """P10 — per-type threshold ladder; mag==0 or unknown type → null
    (reference internal/domain/transform.go:218-262;
    tables docs/Enrichment.md:51-80)."""
    null = F.lit(None).cast("string")
    hail = (
        F.when(mag < 0.75, "minor")
        .when(mag < 1.5, "moderate")
        .when(mag < 2.5, "severe")
        .otherwise("extreme")
    )
    wind = (
        F.when(mag < 50, "minor")
        .when(mag < 74, "moderate")
        .when(mag < 96, "severe")
        .otherwise("extreme")
    )
    tornado = (
        F.when(mag <= 1, "minor")
        .when(mag == 2, "moderate")
        .when(mag <= 4, "severe")
        .otherwise("extreme")
    )
    return F.when(mag == 0, null).otherwise(
        F.when(event_type == "hail", hail)
        .when(event_type == "wind", wind)
        .when(event_type == "tornado", tornado)
        .otherwise(null)
    )


def extract_source_office(comments: Column) -> Column:
    """P11 — trailing "(WFO)" code, 3-5 uppercase letters; no match →
    "" (regexp_extract's no-match result matches the reference
    exactly; internal/domain/transform.go:266-278)."""
    return F.regexp_extract(F.trim(comments), OFFICE_RE, 1)


def parse_location(raw: Column) -> Column:
    """P12 — split "<dist> <compass> <place>" into
    (name, distance, direction); no match → (raw, null, null)
    (reference internal/domain/transform.go:283-305).

    Returns a struct<name, distance, direction>; caller adds
    raw/state/county.
    """
    dist = F.regexp_extract(raw, LOCATION_RE, 1)
    direction = F.regexp_extract(raw, LOCATION_RE, 2)
    name = F.trim(F.regexp_extract(raw, LOCATION_RE, 3))
    matched = dist != ""
    return F.struct(
        F.when(matched, name).otherwise(raw).alias("name"),
        F.when(matched, dist.try_cast("double")).alias("distance"),
        F.when(matched, direction).alias("direction"),
    )


def derive_time_bucket(event_time: Column) -> Column:
    """P13 — hour-truncated tumbling-window key, UTC
    (reference internal/domain/transform.go:309-315)."""
    return F.date_trunc("hour", event_time)


@functools.cache
def _enrich_columns() -> tuple[tuple, tuple[Column, ...]]:
    """``enrich``'s three staged ``withColumns`` steps, as (name,
    Column) pairs, and its final projection minus ``processed_at`` and
    the passthrough columns — built once per process."""
    base_ts = F.col("kafka_timestamp")

    # Missing JSON keys arrive as nulls; Go's unmarshal gives "" — pin
    # zero-value semantics here (also keeps concat_ws pre-images exact,
    # since concat_ws silently drops null segments).
    def s(name: str) -> Column:
        return F.coalesce(F.col(name), F.lit(""))

    # Heavy intermediates are staged as named columns, NOT inlined
    # expression trees: a single-projection formulation duplicates the
    # magnitude-parse chain into every severity/ID CASE branch (the
    # tree grows ~2^depth and codegen cannot eliminate subexpressions
    # inside conditional branches) — measured 6× slower.  Catalyst's
    # CollapseProject keeps these stages separate because each alias
    # is non-cheap and referenced more than once.
    stage1 = {
        "_et": normalize_event_type(s("EventType")),
        "_lat": parse_float_or_zero(s("Lat")),
        "_lon": parse_float_or_zero(s("Lon")),
        "_time_raw": F.trim(s("Time")),
    }
    stage2 = {
        "_raw_mag": parse_magnitude(
            magnitude_raw_string(F.col("_et"), s("Size"), s("F_Scale"), s("Speed"))
        ),
        "_unit": normalize_unit(F.col("_et")),
        "_event_time": parse_event_time(F.col("_time_raw"), base_ts),
    }
    stage3 = {
        "_mag": normalize_magnitude(F.col("_raw_mag"), F.col("_unit"), F.col("_et")),
    }

    et, mag = F.col("_et"), F.col("_mag")
    event_time = F.col("_event_time")
    loc = parse_location(s("Location"))
    projection = (
        generate_id(
            et, s("State"), F.col("_lat"), F.col("_lon"), F.col("_time_raw"), F.col("_raw_mag")
        ).alias("id"),
        et.alias("event_type"),
        F.struct(F.col("_lat").alias("lat"), F.col("_lon").alias("lon")).alias("geo"),
        F.struct(
            mag.alias("magnitude"),
            F.col("_unit").alias("unit"),
            derive_severity(mag, et).alias("severity"),
        ).alias("measurement"),
        event_time.alias("event_time"),
        F.struct(
            s("Location").alias("raw"),
            loc["name"].alias("name"),
            loc["distance"].alias("distance"),
            loc["direction"].alias("direction"),
            s("State").alias("state"),
            s("County").alias("county"),
        ).alias("location"),
        s("Comments").alias("comments"),
        extract_source_office(s("Comments")).alias("source_office"),
        derive_time_bucket(event_time).alias("time_bucket"),
    )
    stages = tuple(tuple(stage.items()) for stage in (stage1, stage2, stage3))
    return stages, projection


def enrich(
    df: DataFrame,
    processed_at: Column | None = None,
    passthrough: tuple = (),
) -> DataFrame:
    """Full enrichment: raw CSV-shaped columns → nested StormEvent.

    Input columns: the 11 ``RAW_CSV_SCHEMA`` fields plus
    ``kafka_timestamp`` (per-row base timestamp for HHMM expansion —
    the Kafka message timestamp in streaming).  ``processed_at`` defaults
    to ``current_timestamp()``; pass ``F.lit(<ts>)`` for frozen-clock
    golden tests (mirror of the reference's ``SetClock``,
    internal/domain/clock.go:7-16).

    Pure projection — no shuffle, no UDF; Catalyst collapses the whole
    chain into one WholeStageCodegen stage.
    """
    if processed_at is None:
        processed_at = F.current_timestamp()
    stages, projection = _enrich_columns()
    for stage in stages:
        df = df.withColumns(dict(stage))
    return df.select(
        *projection,
        processed_at.alias("processed_at"),
        *[F.col(c) for c in passthrough],
    )


@functools.cache
def _parse_columns(value_col: str) -> tuple[Column, Column]:
    """``parse_raw_events``'s ``parsed`` and ``is_poison`` columns."""
    import pyspark.sql.types as T

    schema_with_corrupt = T.StructType(
        list(RAW_CSV_SCHEMA.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = F.from_json(
        F.col(value_col).cast("string"),
        schema_with_corrupt,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return parsed, F.col("parsed._corrupt_record").isNotNull()


def parse_raw_events(df: DataFrame, value_col: str = "value") -> DataFrame:
    """S4/D2 — deserialize the Kafka envelope's JSON payload.

    Malformed JSON is the poison-pill signal (reference
    internal/pipeline/pipeline.go:128-139).  ``from_json`` in
    PERMISSIVE mode yields an all-null struct for malformed input —
    indistinguishable from a *valid* empty object ``{}`` (which must
    still enrich, reference internal/domain/transform_test.go) — so we
    parse with a corrupt-record column: ``parsed._corrupt_record IS
    NOT NULL`` marks the dead-letter branch; callers filter it out and
    continue, reproducing the skip-and-commit policy.
    """
    parsed, is_poison = _parse_columns(value_col)
    return df.withColumn("parsed", parsed).withColumn("is_poison", is_poison)


@functools.cache
def _flatten_columns() -> tuple[Column, ...]:
    """``flatten``'s projection."""
    return (
        F.col("id"),
        F.col("event_type"),
        F.col("geo.lat").alias("geo_lat"),
        F.col("geo.lon").alias("geo_lon"),
        F.col("measurement.magnitude").alias("measurement_magnitude"),
        F.col("measurement.unit").alias("measurement_unit"),
        F.col("measurement.severity").alias("measurement_severity"),
        F.col("event_time"),
        F.col("location.raw").alias("location_raw"),
        F.col("location.name").alias("location_name"),
        F.col("location.distance").alias("location_distance"),
        F.col("location.direction").alias("location_direction"),
        F.col("location.state").alias("location_state"),
        F.col("location.county").alias("location_county"),
        F.col("comments"),
        F.col("source_office"),
        F.col("time_bucket"),
        F.col("processed_at"),
    )


def flatten(df: DataFrame) -> DataFrame:
    """P15 — the downstream flat contract: nested structs become
    ``geo_*`` / ``measurement_*`` / ``location_*`` columns
    (reference internal/domain/event.go:40,52,62)."""
    return df.select(*_flatten_columns())
