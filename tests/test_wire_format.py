"""Wire-format byte parity: ``storm_wire_json`` must produce the
exact bytes ``json.Marshal(StormEvent)`` produces in the reference
(internal/adapter/kafka/writer.go:55-68, struct tags
internal/domain/event.go:76-89).

The golden is a pure-Python replica of Go encoding/json semantics
(declaration key order, omitempty for strings/pointers/float64,
shortest-form floats, RFC 3339 times, HTML-escaped strings), applied
to the same enriched rows — compared byte-for-byte over the
reference's own 271-record fixture and the in-repo edge-case fixture
(empty comments, unknown types, unparsable locations)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from storm_data_etl_service_spark.functions.enrich import enrich
from storm_data_etl_service_spark.functions.wire import storm_wire_json
from storm_data_etl_service_spark.sources.storm_fixture import (
    BASE_TS,
    FROZEN_CLOCK,
    spark_fixture_df,
)

REF_FIXTURE = "/root/reference/data/mock/storm_reports_240426_combined.json"


# ------------------------------------------------------------------
# Go encoding/json replica (the golden-side rules)
# ------------------------------------------------------------------

def go_escape(s: str) -> str:
    out = []
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif ord(ch) < 0x20:
            out.append(f"\\u{ord(ch):04x}")
        elif ch in "<>&":
            out.append(f"\\u{ord(ch):04x}")
        elif ch in "\u2028\u2029":
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    return "".join(out)


def go_float(f: float) -> str:
    # Go shortest round-trip decimal; domain values stay in 'f' range.
    s = repr(float(f))
    return s[:-2] if s.endswith(".0") else s


def go_time(dt) -> str:
    # naive datetimes are session-UTC (conftest pins the session TZ)
    s = dt.strftime("%Y-%m-%dT%H:%M:%S")
    if dt.microsecond:
        s += "." + f"{dt.microsecond:06d}".rstrip("0")
    return s + "Z"


def go_marshal_storm_event(r) -> str:
    """json.Marshal(StormEvent) over a collected enriched Row."""
    parts = [f'"id":"{go_escape(r["id"])}"',
             f'"event_type":"{go_escape(r["event_type"])}"']

    geo = []
    if r["geo"]["lat"]:  # float64 omitempty: 0 omitted
        geo.append(f'"lat":{go_float(r["geo"]["lat"])}')
    if r["geo"]["lon"]:
        geo.append(f'"lon":{go_float(r["geo"]["lon"])}')
    parts.append('"geo":{' + ",".join(geo) + "}")

    m = r["measurement"]
    meas = [f'"magnitude":{go_float(m["magnitude"])}',
            f'"unit":"{go_escape(m["unit"])}"']
    if m["severity"] is not None:  # *string omitempty: nil omitted
        meas.append(f'"severity":"{go_escape(m["severity"])}"')
    parts.append('"measurement":{' + ",".join(meas) + "}")

    parts.append(f'"event_time":"{go_time(r["event_time"])}"')

    loc, lo = r["location"], []
    if loc["raw"]:
        lo.append(f'"raw":"{go_escape(loc["raw"])}"')
    if loc["name"]:
        lo.append(f'"name":"{go_escape(loc["name"])}"')
    if loc["distance"] is not None:  # *float64 omitempty: nil omitted, 0 kept
        lo.append(f'"distance":{go_float(loc["distance"])}')
    if loc["direction"] is not None and loc["direction"] != "":
        lo.append(f'"direction":"{go_escape(loc["direction"])}"')
    if loc["state"]:
        lo.append(f'"state":"{go_escape(loc["state"])}"')
    if loc["county"]:
        lo.append(f'"county":"{go_escape(loc["county"])}"')
    parts.append('"location":{' + ",".join(lo) + "}")

    if r["comments"]:  # string omitempty: "" omitted
        parts.append(f'"comments":"{go_escape(r["comments"])}"')
    if r["source_office"]:
        parts.append(f'"source_office":"{go_escape(r["source_office"])}"')
    parts.append(f'"time_bucket":"{go_time(r["time_bucket"])}"')
    parts.append(f'"processed_at":"{go_time(r["processed_at"])}"')
    return "{" + ",".join(parts) + "}"


def _assert_byte_parity(enriched):
    rows = (
        enriched.withColumn("_wire", storm_wire_json())
        .orderBy("id")
        .collect()
    )
    assert rows
    for r in rows:
        assert r["_wire"] == go_marshal_storm_event(r), r["id"]


# ------------------------------------------------------------------
# tests
# ------------------------------------------------------------------

def test_wire_bytes_match_go_marshal_edge_fixture(spark):
    """In-repo edge fixture: empty comments/offices (omitempty paths),
    unknown event types, unparsable locations."""
    enriched = enrich(
        spark_fixture_df(spark), processed_at=F.lit(FROZEN_CLOCK).cast("timestamp")
    )
    _assert_byte_parity(enriched)


@pytest.mark.skipif(
    not os.path.exists(REF_FIXTURE), reason="reference fixture not available"
)
def test_wire_bytes_match_go_marshal_271_records(spark):
    """The reference's own 271-record golden fixture, end-to-end."""
    from storm_data_etl_service_spark.schemas import RAW_CSV_SCHEMA, ensure_session_confs

    ensure_session_confs(spark)
    raw = (
        spark.read.option("multiLine", True)
        .schema(RAW_CSV_SCHEMA)
        .json(REF_FIXTURE)
        .withColumn("kafka_timestamp", F.lit(BASE_TS).cast("timestamp"))
    )
    enriched = enrich(raw, processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"))
    _assert_byte_parity(enriched)


def test_wire_omits_empty_strings_like_go(spark):
    """The two top-level omitempty strings the old ignoreNullFields
    path wrongly kept: empty comments / source_office keys must be
    ABSENT, not empty (reference internal/domain/event.go:84-85)."""
    import json

    from storm_data_etl_service_spark.schemas import RAW_CSV_SCHEMA

    rows = [
        # no comments at all -> comments AND source_office keys absent
        ("1905", "", "", "60", "2 N Lincoln", "Lancaster", "NE",
         "40.81", "-96.70", "", "wind"),
        # comments without a WFO code -> source_office key absent
        ("1906", "125", "", "", "Waco", "McLennan", "TX",
         "31.55", "-97.15", "large hail, no office code", "hail"),
        # both present
        ("1907", "", "EF2", "", "Ada", "Pontotoc", "OK",
         "34.77", "-96.68", "tornado on the ground (OUN)", "tornado"),
    ]
    raw = spark.createDataFrame(rows, schema=RAW_CSV_SCHEMA).withColumn(
        "kafka_timestamp", F.lit(BASE_TS).cast("timestamp")
    )
    enriched = enrich(raw, processed_at=F.lit(FROZEN_CLOCK).cast("timestamp"))
    wires = [
        (json.loads(w), w)
        for (w,) in enriched.select(storm_wire_json()).collect()
    ]
    no_comment = [p for p, _ in wires if "comments" not in p]
    assert no_comment, "fixture must exercise the empty-comments path"
    for payload, w in wires:
        assert '"comments":""' not in w
        assert '"source_office":""' not in w
        # non-omitempty keys always present, even when empty
        assert "event_type" in payload and "measurement" in payload
        assert "unit" in payload["measurement"]


def test_wire_escaping_and_float_rules(spark):
    """Synthetic rows driving the escaping/float/fraction branches
    byte-for-byte against the Go-rules golden."""
    import datetime

    from storm_data_etl_service_spark.schemas import RAW_CSV_SCHEMA

    rows = [
        # quotes, backslash, newline+tab, HTML-unsafe, unicode
        ("2024-04-26T19:05:00Z", "125", "", "", '3 N "Quo\\ted"', "Li<n>e1\n\tTab & co", "TX",
         "31.90", "-98.30", 'café — naïve ünïcode', "hail"),
        # zero magnitude wind, 0-distance location, empty comments
        ("1905", "", "", "0", "0 SSW Plain", "", "OK", "35.00", "-97.10", "", "wind"),
    ]
    raw = spark.createDataFrame(rows, schema=RAW_CSV_SCHEMA).withColumn(
        "kafka_timestamp", F.lit(BASE_TS).cast("timestamp")
    )
    # sub-second processed_at exercises the fractional-time trim
    frozen_us = datetime.datetime(2024, 4, 27, 6, 0, 0, 120000)
    enriched = enrich(raw, processed_at=F.lit(frozen_us).cast("timestamp"))
    _assert_byte_parity(enriched)
    (wire,) = enriched.select(storm_wire_json()).first()
    assert '\\"Quo\\\\ted\\"' in wire
    assert "Li\\u003cn\\u003ee1\\n\\tTab \\u0026 co" in wire
    assert "café — naïve ünïcode" in wire  # raw UTF-8, not \u-escaped
    assert '"processed_at":"2024-04-27T06:00:00.12Z"' in wire
