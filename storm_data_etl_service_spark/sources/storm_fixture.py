"""In-repo storm-report fixture rows.

Edge-case raw records assembled from the reference's documented test
matrix (reference internal/domain/transform_test.go — HHMM validity,
severity threshold boundaries, regex accept/reject, UNK sentinels,
magnitude rescale) plus the golden first-hail record its integration
test spot-checks (reference
internal/integration/kafka_pipeline_test.go:144-153).

One source of truth: tests build a Spark DataFrame from these rows,
and the correctness harness renders the SAME rows into a DuckDB
``VALUES`` clause so the enrichment chain is oracle-checkable
end-to-end.
"""

from __future__ import annotations

from datetime import datetime, timezone

from storm_data_etl_service_spark.schemas import RAW_FIELDS

#: Frozen clock for golden outputs (reference cmd/genmock/main.go:60-64).
FROZEN_CLOCK = datetime(2024, 4, 27, 6, 0, 0)

#: Per-row base timestamp for HHMM expansion (the Kafka message
#: timestamp; pinned by reference internal/pipeline/mock_data_test.go:23).
BASE_TS = datetime(2024, 4, 26, 0, 0, 0)

#: The raw field names, in record order (``schemas.RAW_FIELDS``).
RAW_COLUMNS = RAW_FIELDS

#: (Time, Size, F_Scale, Speed, Location, County, State, Lat, Lon, Comments, EventType)
RAW_ROWS: list[tuple[str, ...]] = [
    # golden first-hail record — id must hash to hail-5d91dda0f56ba124
    ("1510", "125", "", "", "8 ESE Chappel", "San Saba", "TX", "31.02", "-98.44",
     "1.25 inch hail reported at Colorado Bend State Park. (SJT)", "hail"),
    # hail already in inches (no rescale: 1.25 < 10)
    ("1511", "1.25", "", "", "2 N Austin", "Travis", "TX", "30.27", "-97.74",
     "Quarter size hail. (EWX)", "hail"),
    # hail hundredths rescale boundary: 75 -> 0.75 (moderate)
    ("1512", "75", "", "", "Waco", "McLennan", "TX", "31.55", "-97.15",
     "Penny size hail. (FWD)", "hail"),
    # hail severity boundaries around 0.75 / 1.5 / 2.5
    ("1513", "0.74", "", "", "1 W Plano", "Collin", "TX", "33.02", "-96.70", "small (FWD)", "hail"),
    ("1514", "150", "", "", "3 SW Tulsa", "Tulsa", "OK", "36.15", "-95.99", "ping pong (TSA)", "hail"),
    ("1515", "250", "", "", "4 NE Norman", "Cleveland", "OK", "35.22", "-97.44", "baseball (OUN)", "hail"),
    ("1516", "300", "", "", "Lubbock", "Lubbock", "TX", "33.58", "-101.85", "max hail (LUB)", "hail"),
    # tornado EF-prefixed, 3-digit time, bare location name
    ("930", "", "EF2", "", "Anthon", "Woodbury", "IA", "42.39", "-95.86",
     "Brief touchdown. (FSD)", "tornado"),
    # tornado F-prefixed -> severe
    ("1200", "", "F3", "", "5.2 NW AUSTIN", "Travis", "TX", "30.31", "-97.79",
     "Large wedge. (EWX)", "tornado"),
    # tornado UNK magnitude -> 0, severity null
    ("1201", "", "UNK", "", "2 E Mcalester", "Pittsburg", "OK", "34.93", "-95.74",
     "Rope tornado, rating pending. (TSA)", "tornado"),
    # tornado boundaries: <=1 minor, ==2 moderate, <=4 severe, else extreme
    ("1202", "", "EF1", "", "Ada", "Pontotoc", "OK", "34.77", "-96.68", "weak (OUN)", "tornado"),
    ("1203", "", "EF4", "", "Moore", "Cleveland", "OK", "35.34", "-97.49", "violent (OUN)", "tornado"),
    ("1204", "", "EF5", "", "Joplin", "Jasper", "MO", "37.08", "-94.51", "historic (SGF)", "tornado"),
    # wind at boundaries 49/50/74/96 + UNK
    ("1300", "", "", "49", "1 N Omaha", "Douglas", "NE", "41.26", "-95.94", "gusty (OAX)", "wind"),
    ("1301", "", "", "50", "2 S Lincoln", "Lancaster", "NE", "40.81", "-96.70", "strong (OAX)", "wind"),
    ("1302", "", "", "74", "3 E Wichita", "Sedgwick", "KS", "37.69", "-97.34", "damaging (ICT)", "wind"),
    ("1303", "", "", "96", "4 W Topeka", "Shawnee", "KS", "39.05", "-95.68", "extreme wind (TOP)", "wind"),
    ("1304", "", "", "UNK", "Salina", "Saline", "KS", "38.84", "-97.61", "unmeasured (ICT)", "wind"),
    # invalid HHMM times fall back to the base timestamp
    ("2510", "", "", "55", "Hays", "Ellis", "KS", "38.88", "-99.33", "bad hour (GLD)", "wind"),
    ("1299", "", "", "60", "Colby", "Thomas", "KS", "39.40", "-101.05", "bad minute (GLD)", "wind"),
    ("", "", "", "65", "Goodland", "Sherman", "KS", "39.35", "-101.71", "no time (GLD)", "wind"),
    # RFC 3339 timestamp input
    ("2024-04-26T15:10:00Z", "100", "", "", "6 NNE Paris", "Lamar", "TX", "33.70", "-95.52",
     "iso time (FWD)", "hail"),
    # unknown event type -> "" type, no id prefix, unit "", magnitude 0
    ("1400", "", "", "", "Reno", "Washoe", "NV", "39.53", "-119.81", "flood report (REV)", "flood"),
    # office regex rejects: lowercase, mid-string, too short
    ("1401", "", "", "70", "Fargo", "Cass", "ND", "46.88", "-96.79", "lowercase (abc)", "wind"),
    ("1402", "", "", "71", "Minot", "Ward", "ND", "48.23", "-101.30", "(BIS) mid-string code", "wind"),
    ("1403", "", "", "72", "Bismarck", "Burleigh", "ND", "46.81", "-100.78", "too short (AB)", "wind"),
    # empty location
    ("1404", "", "", "73", "", "Brown", "SD", "45.46", "-98.49", "no location (ABR)", "wind"),
    # unparseable lat/lon -> 0.0
    ("1405", "", "", "58", "Pierre", "Hughes", "SD", "bad", "", "bad coords (ABR)", "wind"),
    # decimal distance in location
    ("1406", "200", "", "", "10.5 WSW Amarillo", "Potter", "TX", "35.19", "-101.83",
     "big hail (AMA)", "hail"),
]


def spark_fixture_df(spark):
    """Raw fixture rows as a DataFrame with the per-row base timestamp."""
    from pyspark.sql import functions as F

    from storm_data_etl_service_spark.schemas import RAW_CSV_SCHEMA

    df = spark.createDataFrame(RAW_ROWS, schema=RAW_CSV_SCHEMA)
    return df.withColumn(
        "kafka_timestamp", F.lit(BASE_TS).cast("timestamp")
    )


def duckdb_values_sql() -> str:
    """The SAME rows as a DuckDB VALUES relation (the oracle side)."""

    def lit(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    rows = ",\n    ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in RAW_ROWS)
    cols = ", ".join(f'"{c}"' for c in RAW_COLUMNS)
    return (
        f"SELECT * FROM (VALUES\n    {rows}\n) AS raw({cols})"
    )
