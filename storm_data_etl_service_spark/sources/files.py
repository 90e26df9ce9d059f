"""File sources and sinks (S6-S8): the reference's batch-tool IO
surface (reference cmd/genmock/main.go:96-192,
cmd/validate/main.go:175-215) on Spark readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_data_etl_service_spark.schemas import (
    MAGNITUDE_COLUMNS,
    RAW_CSV_SCHEMA,
    RAW_FIELDS,
)


def read_spc_csv(spark: SparkSession, path: str, event_type: str) -> DataFrame:
    """S6 — header-mapped SPC CSV scan: trim every cell, inject the
    per-file event type, emit the 11-column raw record shape
    (reference cmd/genmock/main.go:96-172 'processCSV': header
    name→index mapping, cell trimming, short-row skip — the header
    mapping and short-row handling are what ``spark.read.csv`` with
    ``header=True`` already does).
    """
    raw = spark.read.option("header", True).option("mode", "PERMISSIVE").csv(path)
    mag_col = MAGNITUDE_COLUMNS.get(event_type)
    cols = []
    for field in RAW_FIELDS:
        if field == "EventType":
            cols.append(F.lit(event_type).alias(field))
        elif field in MAGNITUDE_COLUMNS.values():
            # only the type's own magnitude column is populated
            # (per-type exclusivity invariant, cmd/validate/main.go:316-347)
            src = F.trim(F.col(field)) if field == mag_col and field in raw.columns else F.lit("")
            cols.append(src.alias(field))
        elif field in raw.columns:
            cols.append(F.coalesce(F.trim(F.col(field)), F.lit("")).alias(field))
        else:
            cols.append(F.lit("").alias(field))
    return raw.select(*cols)


def read_json_records(spark: SparkSession, path: str) -> DataFrame:
    """S7 — whole-file JSON array of raw records
    (reference cmd/validate/main.go:205-215 'loadJSON')."""
    return spark.read.option("multiLine", True).schema(RAW_CSV_SCHEMA).json(path)


def write_json_fixture(df: DataFrame, path: str) -> None:
    """S8 — JSON fixture sink: one whole-file JSON array of the records,
    the shape ``read_json_records`` scans (reference
    cmd/genmock/main.go:182-192; indentation there is cosmetic — the
    contract is the records).  The array is built by one task, so this
    is a fixture-sized sink, not a table writer."""
    doc = df.select(F.to_json(F.collect_list(F.struct(*df.columns))).alias("value"))
    doc.write.mode("overwrite").text(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], target_file_rows: int | None = None
) -> None:
    """Hive-partitioned parquet sink — the layout a 100 TB table needs
    so that partition-key predicates prune whole directories before a
    single byte is read.  Callers partition by low-cardinality,
    always-filtered keys (event date, event_type); high-cardinality
    keys would explode the file count instead.

    ``target_file_rows`` repartitions by the partition columns first
    so each partition writes few large files instead of
    tasks × partitions small ones — the classic small-files failure
    mode of naive partitioned writes."""
    out = df
    if target_file_rows is not None:
        out = df.repartition(*partition_cols)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_partitioned_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Partition-discovering parquet scan: directory keys come back as
    columns and equality/range predicates on them prune at planning
    time (assert via PartitionFilters in the scan node)."""
    return spark.read.parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib, built into Spark) — second columnar format for
    interchange with Hive/Trino stacks."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def compact_parquet_dir(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files and report before/after layout stats.

    The maintenance job every long-running 100 TB table needs —
    streaming sinks and over-parallel writers leave thousands of tiny
    files, and scan planning degrades with file count (driver-side
    listing, per-file footer reads, under-filled scan partitions).
    File count is derived from the source's actual on-disk bytes, so
    compression survives the round trip; coalesce-vs-repartition is
    chosen by whether we are shrinking (coalesce avoids a shuffle)."""
    from pathlib import Path

    def _stats(p: str) -> tuple[int, int]:
        files = [f for f in Path(p).rglob("*.parquet") if f.is_file()]
        return len(files), sum(f.stat().st_size for f in files)

    n_before, bytes_before = _stats(src_path)
    df = spark.read.parquet(src_path)
    n_target = max(1, -(-bytes_before // target_file_bytes))
    out = df.coalesce(n_target) if n_target <= n_before else df.repartition(n_target)
    out.write.mode("overwrite").parquet(dst_path)
    n_after, bytes_after = _stats(dst_path)
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
        "target_files": n_target,
    }


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet generations whose schemas
    drifted (added columns) into one frame via ``mergeSchema`` —
    missing columns come back null, so downstream operators see one
    stable wide schema.  The per-file footer merge happens at planning
    time; data is still pruned/pushed down per file."""
    return spark.read.option("mergeSchema", True).parquet(*paths)


def write_range_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int
) -> None:
    """Range-partitioned, within-file-sorted parquet — the 1-D
    companion to ``operators.zorder_cluster``: a global sort order
    laid out WITHOUT a global sort.  ``repartitionByRange`` samples
    the sort key to cut balanced ranges (one shuffle), and
    ``sortWithinPartitions`` orders each file locally — so parquet
    footer min/max on the sort key become disjoint across files and a
    range predicate prunes to the one file that can match.

    At 100 TB this is how you keep a time- or key-ordered table
    queryable: no single-reducer global sort, and every file's stats
    are tight.  (Disjointness is proved from the written footers in
    tests/test_layout_analytics.py.)"""
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def codec_size_report(df: DataFrame, path: str, codecs=("snappy", "zstd", "gzip")) -> dict:
    """Write the same frame under each parquet codec and report bytes
    on disk — the storage-planning probe run before committing a
    100 TB table to a codec (zstd typically wins on text-heavy
    columns; snappy on already-high-entropy ones; the answer is
    data-dependent, so measure, don't guess)."""
    from pathlib import Path

    out = {}
    for codec in codecs:
        dst = f"{path}/{codec}"
        df.write.mode("overwrite").option("compression", codec).parquet(dst)
        out[codec] = sum(
            f.stat().st_size for f in Path(dst).rglob("*.parquet") if f.is_file()
        )
    return out


#: Advisor targets: decompressed bytes per shuffle partition / output file.
ADVISOR_SHUFFLE_TARGET = 128 * 1024 * 1024
ADVISOR_FILE_TARGET = 512 * 1024 * 1024
ADVISOR_COMPRESSION_RATIO = 3  # parquet-on-disk → in-memory expansion


def layout_advisor(sf_dir: str, cpus: int = 32) -> dict:
    """Partition-sizing advisor: from a dataset directory's on-disk
    bytes, recommend ``spark.sql.shuffle.partitions`` and the output
    file count — the same bytes-per-partition rule the bench harness
    applies, packaged for operators (SURVEY §6 / SCALE.md: size
    partitions to the DATA; the core count is a floor, not a target).
    """
    from pathlib import Path

    disk = sum(
        f.stat().st_size for f in Path(sf_dir).rglob("*.parquet") if f.is_file()
    )
    mem = disk * ADVISOR_COMPRESSION_RATIO
    return {
        "data_bytes_on_disk": disk,
        "est_bytes_in_memory": mem,
        "shuffle_partitions": int(
            max(cpus, -(-mem // ADVISOR_SHUFFLE_TARGET))
        ),
        "output_files": int(max(1, -(-disk // ADVISOR_FILE_TARGET))),
    }


def read_storm_xml(spark: SparkSession, path: str, row_tag: str = "alert") -> DataFrame:
    """Storm reports from XML (Spark 4's native XML source) — the
    format NOAA CAP-style alert feeds arrive in.  Elements are read
    as strings (the raw-record contract is all-string, reference
    internal/domain/event.go:11-23), absent elements become '' and
    the event type derives from which magnitude element is present
    (Size→hail, F_Scale→tornado, Speed→wind — the per-type
    exclusivity invariant in reverse)."""
    schema = ", ".join(
        f"`{f}` string" for f in RAW_FIELDS if f != "EventType"
    )
    raw = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(schema)
        .load(path)
    )
    et = (
        F.when(F.coalesce(F.trim("Size"), F.lit("")) != "", "hail")
        .when(F.coalesce(F.trim("F_Scale"), F.lit("")) != "", "tornado")
        .when(F.coalesce(F.trim("Speed"), F.lit("")) != "", "wind")
        .otherwise("")
    )
    cols = [
        F.coalesce(F.trim(F.col(f)), F.lit("")).alias(f)
        for f in RAW_FIELDS
        if f != "EventType"
    ]
    return raw.select(*cols, et.alias("EventType"))
