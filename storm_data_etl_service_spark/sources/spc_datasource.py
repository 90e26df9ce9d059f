"""Custom Python data source (Spark 4 ``pyspark.sql.datasource`` API)
for SPC storm-report CSV directories.

The reference wires bespoke per-format adapters into its service
(internal/adapter/kafka/reader.go, cmd/genmock/main.go:96-172); the
Spark-4-native equivalent of "add a connector" is a Python
``DataSource``: the engine plans one task per ``InputPartition``
(here: per report file), and the imperative parsing — header-name
mapping, cell trimming, short-row skipping, per-type magnitude
exclusivity — runs inside the scan, partition-parallel, instead of as
a post-hoc projection.

Usage::

    spark.dataSource.register(SPCReportsDataSource)
    spark.read.format("spc_reports").load("/path/to/report_dir")

Files contribute an event type from their name (``hail``/``wind``/
``torn``); unrecognized files are skipped at planning time.  The
output schema is the 11-string raw record contract (RAW_CSV_SCHEMA) —
feed it straight to ``functions.enrich``.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from storm_data_etl_service_spark.schemas import (
    MAGNITUDE_COLUMNS,
    RAW_CSV_SCHEMA,
    RAW_FIELDS,
)

#: filename probe → event type (reference genmock maps per-type files)
_TYPE_PROBES = (("hail", "hail"), ("torn", "tornado"), ("wind", "wind"))


class _SPCPartition(InputPartition):
    def __init__(self, path: str, event_type: str):
        self.path = path
        self.event_type = event_type


class SPCReportsReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("spc_reports requires a path")

    def partitions(self):
        """One partition per report file — the scan parallelism unit.
        Planning-time work is just a directory listing; a 100 TB
        deployment lists object-store prefixes the same way."""
        import os

        parts = []
        paths = [self._path] if os.path.isfile(self._path) else sorted(
            os.path.join(self._path, f) for f in os.listdir(self._path)
        )
        for p in paths:
            if not p.endswith(".csv"):
                continue
            base = os.path.basename(p).lower()
            for probe, et in _TYPE_PROBES:
                if probe in base:
                    parts.append(_SPCPartition(p, et))
                    break
        if not parts:
            raise ValueError(f"no typed *.csv report files under {self._path}")
        return parts

    def read(self, partition):
        """Executor-side: header-mapped CSV parse of one file,
        mirroring reference processCSV (cmd/genmock/main.go:96-172):
        trim cells, skip rows shorter than the header, blank out the
        other types' magnitude columns, append the file's event type."""
        import csv

        et = partition.event_type
        mag_col = MAGNITUDE_COLUMNS[et]
        with open(partition.path, newline="", encoding="utf-8") as fh:
            rows = csv.reader(fh)
            try:
                header = [h.strip() for h in next(rows)]
            except StopIteration:
                return
            idx = {name: i for i, name in enumerate(header)}
            for row in rows:
                if len(row) < len(header):
                    continue  # short row — skipped, like the reference
                out = []
                for field in RAW_FIELDS:
                    if field == "EventType":
                        out.append(et)
                    elif field in MAGNITUDE_COLUMNS.values() and field != mag_col:
                        out.append("")
                    elif field in idx:
                        out.append(row[idx[field]].strip())
                    else:
                        out.append("")
                yield tuple(out)


class SPCReportsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "spc_reports"

    def schema(self):
        return RAW_CSV_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return SPCReportsReader(self.options)
