r"""Byte-exact Kafka wire format: Go ``encoding/json`` marshaling of
``StormEvent`` as pure Spark expressions.

The reference serializes the enriched event with ``json.Marshal``
(reference internal/adapter/kafka/writer.go:55-68) over the struct
tags in reference internal/domain/event.go:76-89.  A downstream
consumer doing byte- or key-presence comparison therefore sees:

* struct-declaration key order (``id, event_type, geo, measurement,
  event_time, location, comments, source_office, time_bucket,
  processed_at``) — Go marshals fields in declaration order;
* ``omitempty`` **string** fields dropped when ``""`` (``comments``,
  ``source_office``, and ``location.{raw,name,state,county}``),
  ``omitempty`` **pointer** fields dropped when nil/null
  (``measurement.severity``, ``location.{distance,direction}``), and
  ``omitempty`` **float64** fields dropped when 0 (``geo.{lat,lon}``);
  struct-typed ``omitempty`` (``geo``, ``location``, ``time_bucket``)
  is a no-op in encoding/json — those keys are always present;
* Go shortest-form float rendering (``1.25`` / ``100`` — never
  ``100.0``);
* RFC 3339 timestamps with sub-second digits only when non-zero and
  trailing zeros trimmed (``time.Time.MarshalJSON``);
* Go's string escaping: ``\" \\ \n \r \t`` two-char escapes, other
  control chars as ``\u00xx``, HTML-unsafe ``< > &`` escaped to
  ``\u003c \u003e \u0026`` (SetEscapeHTML default), and U+2028/U+2029
  escaped; everything else raw UTF-8.

``to_json`` (Jackson) matches none of the last three exactly, so the
value payload is assembled with string expressions — still 100%
JVM-side codegen, no UDFs, and ~10 narrow string ops per row, which
at 100 TB is noise next to the enrichment chain itself.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from storm_data_etl_service_spark.functions.enrich import format_g


def go_json_escape(c: Column) -> Column:
    r"""Go encoding/json string escaping (encoding/json appendString):
    two-char escapes for ``\" \\ \n \r \t``, ``\\u00xx`` for the other
    control chars seen in practice (BS/FF), HTML-safe ``< > &``, and
    the JS line separators U+2028/U+2029."""
    for search, repl in [
        ("\\", "\\\\"),  # backslash first — later escapes introduce them
        ('"', '\\"'),
        ("\n", "\\n"),
        ("\r", "\\r"),
        ("\t", "\\t"),
        ("\b", "\\u0008"),
        ("\f", "\\u000c"),
        ("<", "\\u003c"),
        (">", "\\u003e"),
        ("&", "\\u0026"),
        ("\u2028", "\\u2028"),
        ("\u2029", "\\u2029"),
    ]:
        c = F.replace(c, F.lit(search), F.lit(repl))
    return c


def go_float_json(c: Column) -> Column:
    """Go float64 JSON rendering: shortest round-trip decimal,
    integral values without ``.0`` (``format_g`` is the same rule used
    for the P5 ID pre-image, reference internal/domain/transform.go:135)."""
    return format_g(c)


def go_time_json(ts: Column) -> Column:
    """``time.Time.MarshalJSON``: RFC 3339, sub-second digits emitted
    only when non-zero with trailing zeros trimmed, ``Z`` at UTC
    (offsets render as ``+hh:mm`` via the ``XXX`` pattern otherwise)."""
    us = F.unix_micros(ts) % 1_000_000
    frac = F.when(us == 0, F.lit("")).otherwise(
        F.concat(F.lit("."), F.regexp_replace(F.format_string("%06d", us), "0+$", ""))
    )
    return F.concat(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), frac, F.date_format(ts, "XXX"))


def _quoted(c: Column) -> Column:
    return F.concat(F.lit('"'), go_json_escape(c), F.lit('"'))


def _str_field(name: str, c: Column, omitempty: bool = False) -> Column:
    """``"name":"escaped"`` — null when omitted (array_join drops
    nulls).  Go strings are non-nullable, so null ≙ ""."""
    c = F.coalesce(c, F.lit(""))
    frag = F.concat(F.lit(f'"{name}":'), _quoted(c))
    if omitempty:
        return F.when(c != "", frag)
    return frag


def _float_field(name: str, c: Column, omitempty: bool = False, omit_null: bool = False) -> Column:
    frag = F.concat(F.lit(f'"{name}":'), go_float_json(F.coalesce(c, F.lit(0.0))))
    if omitempty:  # float64 omitempty: zero value omitted
        return F.when(c.isNotNull() & (c != 0.0), frag)
    if omit_null:  # *float64 omitempty: nil omitted, 0 kept
        return F.when(c.isNotNull(), frag)
    return frag


def _time_field(name: str, c: Column) -> Column:
    return F.concat(F.lit(f'"{name}":'), _quoted(go_time_json(c)))


def _obj(name: str, *frags: Column) -> Column:
    """``"name":{f1,f2,...}`` with omitted (null) fragments dropped —
    ``array_join`` ignores null elements, so comma placement is
    correct for any omit pattern (including the all-omitted ``{}``)."""
    return F.concat(
        F.lit(f'"{name}":{{'), F.array_join(F.array(*frags), ","), F.lit("}")
    )


@functools.cache
def storm_wire_json() -> Column:
    """The exact ``json.Marshal(StormEvent)`` bytes as a string column
    over the enriched frame's columns (verified byte-for-byte against a
    Go-semantics golden over the reference's 271-record fixture in
    tests/test_wire_format.py).  Built once per process, like the
    enrich chain's Columns (functions/enrich.py)."""
    c = F.col
    fragments = [
        _str_field("id", c("id")),
        _str_field("event_type", c("event_type")),
        _obj(
            "geo",
            _float_field("lat", c("geo.lat"), omitempty=True),
            _float_field("lon", c("geo.lon"), omitempty=True),
        ),
        _obj(
            "measurement",
            _float_field("magnitude", c("measurement.magnitude")),
            _str_field("unit", c("measurement.unit")),
            _str_field("severity", c("measurement.severity"), omitempty=True),
        ),
        _time_field("event_time", c("event_time")),
        _obj(
            "location",
            _str_field("raw", c("location.raw"), omitempty=True),
            _str_field("name", c("location.name"), omitempty=True),
            _float_field("distance", c("location.distance"), omit_null=True),
            _str_field("direction", c("location.direction"), omitempty=True),
            _str_field("state", c("location.state"), omitempty=True),
            _str_field("county", c("location.county"), omitempty=True),
        ),
        _str_field("comments", c("comments"), omitempty=True),
        _str_field("source_office", c("source_office"), omitempty=True),
        _time_field("time_bucket", c("time_bucket")),
        _time_field("processed_at", c("processed_at")),
    ]
    return F.concat(F.lit("{"), F.array_join(F.array(*fragments), ","), F.lit("}"))
