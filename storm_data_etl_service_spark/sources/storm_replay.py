"""Streaming Python data source: deterministic storm-report replay.

The streaming half of the Spark-4 connector story
(``spc_datasource.py`` is the batch half): a
``DataSourceStreamReader`` with explicit offset bookkeeping —
``initialOffset`` → ``latestOffset`` → ``partitions(start, end)`` →
``read`` → ``commit`` — the same at-least-once replay contract the
reference implements by hand against Kafka (commit-after-load,
internal/pipeline/pipeline.go:148-158; SURVEY.md D3).

The simulated upstream holds ``total_rows`` records (its log-end
offset, like Kafka's); each planned range is split into row-range
partitions of at most ``rows_per_partition``.  Record i is a pure
function of i, so any replay after a crash regenerates byte-identical
records — the idempotent-replay property (SURVEY.md D8) that makes
at-least-once safe downstream; a restart against the same checkpoint
re-reads nothing (offsets are restored from the WAL) and produces no
duplicates.

Usage::

    spark.dataSource.register(StormReplayDataSource)
    raw = spark.readStream.format("storm_replay") \
        .option("rows_per_partition", 50).option("total_rows", 200).load()
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from storm_data_etl_service_spark.schemas import RAW_CSV_SCHEMA, RAW_FIELDS

_TYPES = ("hail", "wind", "tornado")
_STATES = ("TX", "OK", "KS", "NE")
_COUNTIES = ("Tarrant", "Bell", "San Saba", "Cleveland")


def synth_record(i: int) -> tuple:
    """Deterministic raw record for global row index i — replay-stable
    by construction (no clocks, no RNG state)."""
    et = _TYPES[i % 3]
    hh, mm = (i * 7) % 24, (i * 13) % 60
    mag = {"hail": str(100 + (i % 8) * 25), "wind": str(40 + (i % 10) * 7),
           "tornado": f"EF{i % 5}"}[et]
    vals = {
        "Time": f"{hh:02d}{mm:02d}",
        "Size": mag if et == "hail" else "",
        "F_Scale": mag if et == "tornado" else "",
        "Speed": mag if et == "wind" else "",
        "Location": f"{1 + i % 9} ESE Replayville",
        "County": _COUNTIES[i % len(_COUNTIES)],
        "State": _STATES[i % len(_STATES)],
        "Lat": f"{30.0 + (i % 500) * 0.01:.4f}",
        "Lon": f"{-99.0 + (i % 400) * 0.01:.4f}",
        "Comments": f"Synthetic replay report {i}. (OUN)",
        "EventType": et,
    }
    return tuple(vals[f] for f in RAW_FIELDS)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class StormReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self._rows_per_partition = int(options.get("rows_per_partition", 50))
        self._total_rows = int(options.get("total_rows", 1000))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        """The upstream's log-end offset.  The engine checkpoints the
        planned (start, end] range in the offset WAL before the batch
        runs and commits after the sink write — a restart restores the
        committed offset and plans only the remainder (the reference's
        commit-after-load contract, D3, for free)."""
        return {"offset": self._total_rows}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["offset"], end["offset"]
        step = max(1, self._rows_per_partition)
        return [
            _RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ] or [_RangePartition(lo, hi)]

    def read(self, partition):
        for i in range(partition.start, partition.end):
            yield synth_record(i)

    def commit(self, end: dict) -> None:
        pass  # nothing external to ack — regeneration IS the replay

    def stop(self) -> None:
        pass


class StormReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "storm_replay"

    def schema(self):
        return RAW_CSV_SCHEMA

    def streamReader(self, schema) -> StormReplayStreamReader:
        return StormReplayStreamReader(self.options)
