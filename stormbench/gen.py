"""Seeded input generators for the storm-spark benchmark.

Everything the engine reads during a benchmark run is made here from the
run's seed: the same seed always yields byte-identical inputs.

* ``write_tables`` writes the ``documents`` and ``embeddings`` parquet
  tables the dedup queries scan, with the schema, value ranges and
  single-file, single-row-group layout of the engine's synthetic tables.
* ``write_envelopes`` writes storm-report Kafka envelopes as JSON-lines
  files, one file per micro-batch, and returns the generator's ground
  truth for each batch.
"""

from __future__ import annotations

import base64
import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_N_SOURCES = 20
_EMBED_DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; about 5% are
    near-duplicates (an earlier document plus one token) and about
    0.2% exact copies, so every dedup rung has matches to find."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(_VOCAB[rng.integers(0, len(_VOCAB), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
            "source": pa.array([f"src{i % _N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, rows: dict[str, int]) -> None:
    """Write one ``<name>.parquet`` per entry of ``rows`` (table name to
    row count) under ``out_dir``: one file, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"documents": _documents, "embeddings": _embeddings}
    for i, (name, make) in enumerate(makers.items()):
        if name in rows:
            table = make(np.random.default_rng([seed, i]), rows[name])
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# storm-report Kafka envelopes
# --------------------------------------------------------------------------

_STATES = ["TX", "OK", "KS", "NE", "IA", "MO", "SD", "ND", "CO", "MN"]
_PLACES = ["Chappel", "Austin", "Norman", "Tulsa", "Wichita", "Omaha", "Topeka", "Ames"]
_DIRS = ["N", "S", "E", "W", "NE", "NW", "SE", "SW", "ESE", "WNW", "NNE"]
_OFFICES = ["SJT", "FWD", "OUN", "TSA", "ICT", "OAX", "TOP", "DMX"]
_UNKNOWN_TYPES = ["flood", "Hail", "", "funnel cloud"]
_INVALID_TIMES = ["2510", "1299", "", "99", "noon"]
_HAIL_SIZES = ["125", "1.75", "75", "0.88", "250", "UNK"]
_F_SCALES = ["EF0", "EF1", "EF2", "EF3", "F4", "EF5", "UNK"]
_POISON = ['{"Time": "1510", "EventType": ', "{not valid json", "\x00\x01garbage"]
_POISON_SHARE = 0.01  # envelopes whose payload is a poison pill
_REPLAY_SHARE = 0.05  # envelopes that replay an earlier record

_TOPIC = "raw-weather-reports"


@dataclass
class BatchTruth:
    """What the generator put into one micro-batch file."""

    records: int = 0  # envelopes in the file
    poison: int = 0  # envelopes whose payload is not JSON
    replays_in_batch: int = 0  # copies of a record earlier in this file
    poison_offsets: list = field(default_factory=list, repr=False)

    @property
    def expected_sink_rows(self) -> int:
        return self.records - self.poison - self.replays_in_batch


def _storm_records(rng: np.random.Generator, n: int, serial0: int) -> list[str]:
    """``n`` raw SPC-style reports as JSON payloads. The record's serial
    number makes its longitude unique, so two generated records share an
    enrichment id only when one is a planted replay of the other."""
    u = rng.random((9, n)).tolist()
    k = rng.integers(0, 2**31, (10, n)).tolist()
    out = []
    for i in range(n):
        serial = serial0 + i
        roll = u[0][i]
        if roll < 0.35:
            et = "hail"
        elif roll < 0.70:
            et = "wind"
        elif roll < 0.85:
            et = "tornado"
        else:
            et = _UNKNOWN_TYPES[k[0][i] % len(_UNKNOWN_TYPES)]
        hh, mm = k[1][i] % 24, k[2][i] % 60
        if u[1][i] < 0.80:
            t = f"{hh}{mm:02d}" if u[2][i] < 0.3 else f"{hh:02d}{mm:02d}"
        elif u[1][i] < 0.90:
            t = f"2024-04-{1 + k[3][i] % 28:02d}T{hh:02d}:{mm:02d}:00Z"
        else:
            t = _INVALID_TIMES[k[3][i] % len(_INVALID_TIMES)]
        size = f_scale = speed = ""
        if et == "hail":
            size = _HAIL_SIZES[k[4][i] % len(_HAIL_SIZES)]
        elif et == "tornado":
            f_scale = _F_SCALES[k[4][i] % len(_F_SCALES)]
        elif et == "wind":
            speed = "UNK" if u[3][i] < 0.05 else str(40 + k[4][i] % 71)
        place = _PLACES[k[5][i] % len(_PLACES)]
        compass = _DIRS[k[6][i] % len(_DIRS)]
        if u[4][i] < 0.6:
            loc = f"{1 + k[7][i] % 15} {compass} {place}"
        elif u[4][i] < 0.7:
            loc = f"{(1 + k[7][i] % 199) / 10:.1f} {compass} {place}"
        elif u[4][i] < 0.95:
            loc = place
        else:
            loc = ""
        office = _OFFICES[k[8][i] % len(_OFFICES)]
        record = {
            "Time": t,
            "Size": size,
            "F_Scale": f_scale,
            "Speed": speed,
            "Location": loc,
            "County": f"County{k[9][i] % 60}",
            "State": _STATES[k[9][i] % len(_STATES)],
            "Lat": "bad" if u[5][i] < 0.005 else f"{25 + u[6][i] * 24:.2f}",
            "Lon": f"{-(60 + serial / 100):.2f}",
            "Comments": f"Report {serial}. ({office})" if u[7][i] < 0.9 else f"report {serial}",
            "EventType": et,
        }
        out.append(json.dumps(record))
    return out


def write_envelopes(
    out_dir: str,
    seed: int,
    stream: int,
    n_batches: int,
    batch_records: int,
) -> list[BatchTruth]:
    """Write ``n_batches`` JSON-lines files of ``batch_records`` Kafka
    envelopes each and return the ground truth per file. ``stream``
    separates independent streams made from one seed.

    Every file is exactly one micro-batch when the stream reads it with
    ``maxFilesPerTrigger=1``. File modification times increase with the
    batch number, so the file source takes them in order. Replays are
    split evenly between copies of a record earlier in the same file
    (dropped by the pipeline's first-wins dedup) and copies of a record
    from an earlier file (kept: the deterministic id absorbs them
    downstream).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7, stream])
    truths: list[BatchTruth] = []
    history: list[str] = []
    offset = serial = 0
    mtime0 = 1_700_000_000
    base_time = datetime(2024, 4, 26)
    for b in range(n_batches):
        roll = rng.random(batch_records).tolist()
        pick = rng.integers(0, 2**31, batch_records).tolist()
        fresh = _storm_records(rng, batch_records, serial)
        truth = BatchTruth(records=batch_records)
        batch_payloads: list[str] = []
        replayed: set[int] = set()  # history entries already copied into this file
        lines: list[str] = []
        ts = (base_time + timedelta(minutes=b)).isoformat()
        for i in range(batch_records):
            h = pick[i] % len(history) if history else -1
            if roll[i] < _POISON_SHARE:
                payload = _POISON[pick[i] % len(_POISON)]
                truth.poison += 1
                truth.poison_offsets.append(offset)
            elif roll[i] < _POISON_SHARE + _REPLAY_SHARE / 2 and batch_payloads:
                payload = batch_payloads[pick[i] % len(batch_payloads)]
                truth.replays_in_batch += 1
            elif roll[i] < _POISON_SHARE + _REPLAY_SHARE and history and h not in replayed:
                replayed.add(h)
                payload = history[h]
            else:
                payload = fresh[len(batch_payloads)]
                batch_payloads.append(payload)
            value = base64.b64encode(payload.encode()).decode()
            lines.append(
                f'{{"value": "{value}", "topic": "{_TOPIC}", "partition": 0, '
                f'"offset": {offset}, "timestamp": "{ts}"}}'
            )
            offset += 1
        serial += len(batch_payloads)
        path = os.path.join(out_dir, f"batch-{b:06d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (mtime0 + b, mtime0 + b))
        history.extend(batch_payloads)
        truths.append(truth)
    return truths
