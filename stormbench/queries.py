"""``dedup_heavy``: the staged multi-job registry pipelines, batch mode.

Each operation is one query closure as a user runs it: ``build()`` on
the registry entry, then a noop write. The seed fixes the order of the
queries. After two untimed passes, whole rounds over the query set repeat
for about the run's time, and at least ``MIN_ROUNDS`` times; between
queries the benchmark does nothing (no forced GC, no cache clearing), as
a user's session would.

Output check, after the timed phase: each query's rows from the warm-up
pass and from its last timed closure are collected, and DuckDB runs the
registry's oracle SQL over the same tables. Both results must match the
oracle in column names, result kinds, row count and an order-insensitive
hash of the values, normalised by the repository's own oracle gate
(``scripts/check_correctness.py``); otherwise every timed closure of that
query counts as failed.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import gen
from spans import Ledger
from storm_data_etl_service_spark.operators.registry import REGISTRY

_path = list(sys.path)
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
from check_correctness import normalize_result, type_mismatches  # noqa: E402

sys.path[:] = _path

#: dedup_ladder_report (42 jobs) is left out: its first build alone takes
#: about 18 s on a cold JVM, and its rounds keep slowing the JIT warm-up
#: for longer than a run's time budget holds (see layers.json, "dropped")
QUERIES = (
    "ann_ivf_auto",
    "semdedup_auto",
    "triangle_stats",
    "dedup_containment",
    "minhash_band_calibration",
)
TABLES = ("documents", "embeddings")

#: rows per table, per run size
CORPUS = {
    "full": {"documents": 200, "embeddings": 200},
    "tiny": {"documents": 100, "embeddings": 100},
}

#: untimed passes over the queries before the timed rounds; the first one
#: is collected and checked. Round times are flat only after the second.
WARM_PASSES = 2
#: fewest timed rounds: each query's median then sets aside one round a
#: burst of load on the host slowed down
MIN_ROUNDS = 3

PER_QUERY = ("build_s", "write_s", "jobs", "build_jobs", "stages", "shuffle_mb")


def result_digest(columns, rows) -> tuple[list[str], int, str]:
    """Sorted column names, row count and an order-insensitive hash of a
    result, normalised as the oracle gate does."""
    cols, data = normalize_result(list(columns), [tuple(r) for r in rows])
    return cols, len(data), hashlib.sha256(repr(data).encode()).hexdigest()


def _collect(df) -> tuple[list, tuple]:
    """A Spark result as (dtypes, digest)."""
    return df.dtypes, result_digest(df.columns, df.collect())


class DedupHeavy:
    """run.py calls warm_up, measure, check and failed, then end_to_end
    or per_layer."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.order = list(QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.warm_results: dict[str, tuple] = {}

    # ---- set-up -------------------------------------------------------
    def warm_up(self) -> None:
        ctx = self.ctx
        self.tables = os.path.join(ctx.work, "tables")
        gen.write_tables(self.tables, ctx.seed, CORPUS[ctx.size])
        for q in self.order:
            self.warm_results[q] = _collect(REGISTRY[q].build(ctx.spark, self.tables))
        for _ in range(WARM_PASSES - 1):
            for q in self.order:
                df = REGISTRY[q].build(ctx.spark, self.tables)
                df.write.format("noop").mode("overwrite").save()

    # ---- timed phase --------------------------------------------------
    def measure(self, seconds: float, trace: bool) -> None:
        ctx = self.ctx
        ledger = Ledger(ctx.spark) if trace else None
        # closure seconds per query, split by whether the round was traced
        self.closures = {q: {False: [], True: []} for q in self.order}
        self.layer_samples = {q: [] for q in self.order}
        self.attempted = 0
        self.raised = dict.fromkeys(self.order, 0)
        self.last_df = {}  # query -> DataFrame of its last timed closure
        # Whole rounds only, so every query has as many samples as the
        # others: as many as bring the measured time closest to `seconds`,
        # and at least MIN_ROUNDS. In a traced run the odd rounds are traced.
        start = time.perf_counter()
        rnd = 0
        while True:
            traced = trace and rnd % 2 == 1
            t_round = time.perf_counter()
            for q in self.order:
                self.attempted += 1
                try:
                    if traced:
                        self.last_df[q] = self._traced_closure(q, rnd, ledger)
                    else:
                        t0 = time.perf_counter()
                        df = REGISTRY[q].build(ctx.spark, self.tables)
                        df.write.format("noop").mode("overwrite").save()
                        self.closures[q][False].append(time.perf_counter() - t0)
                        self.last_df[q] = df
                except Exception:  # a failed closure is counted, not fatal
                    ctx.log(f"{q} raised:\n{traceback.format_exc()}")
                    self.raised[q] += 1
            now = time.perf_counter()
            ctx.log(f"round {rnd}{' (traced)' if traced else ''}: {now - t_round:.2f} s")
            rnd += 1
            if rnd >= MIN_ROUNDS and now - start + (now - t_round) / 2 >= seconds:
                break
        self.peak_rss_mb = ctx.rss()

    def _traced_closure(self, q: str, rnd: int, ledger: Ledger):
        spark, tracer, tables = self.ctx.spark, self.ctx.tracer, self.tables
        sc = spark.sparkContext
        build = REGISTRY[q].build
        tracer.active = True
        before = ledger.storage_bytes()
        sc.setJobGroup(f"{q}#{rnd}#build", q)
        with tracer.span("operators.build", q) as b:
            df = build(spark, tables)
        sc.setJobGroup(f"{q}#{rnd}#write", q)
        staged = ledger.storage_bytes() - before
        with tracer.span("operators.write", q) as w:
            df.write.format("noop").mode("overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.active = False
        self.closures[q][True].append(b.seconds + w.seconds)
        ledger.settle()
        built = ledger.stats(ledger.group_jobs(f"{q}#{rnd}#build"))
        wrote = ledger.stats(ledger.group_jobs(f"{q}#{rnd}#write"))
        self.layer_samples[q].append(
            {
                "build_s": b.seconds,
                "write_s": w.seconds,
                "build_jobs": built.jobs,
                "jobs": built.jobs + wrote.jobs,
                "stages": built.stages + wrote.stages,
                "shuffle_mb": (built.shuffle_bytes + wrote.shuffle_bytes) / 2**20,
                "task_s": (built.task_ms + wrote.task_ms) / 1000,
                "scan_mb": (built.input_bytes + wrote.input_bytes) / 2**20,
                "staged_mb": staged / 2**20,
            }
        )
        return df

    # ---- output check -------------------------------------------------
    def _oracles(self) -> dict[str, tuple]:
        """Per query: the DuckDB oracle's column names, types and digest."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.ctx.work, 'duckdb')}'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
            )
        out = {}
        for q in self.order:
            rel = con.sql(REGISTRY[q].oracle)  # every query in QUERIES has one
            cols, types = list(rel.columns), list(rel.types)
            out[q] = cols, types, result_digest(cols, rel.fetchall())
        con.close()
        return out

    def check(self) -> dict[str, bool]:
        # The oracles (about 5 s, most of it triangle_stats) run while
        # Spark collects the last timed closures.
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(self._oracles)
            last = {q: _collect(df) for q, df in self.last_df.items()}
            oracles = oracles.result()
        ok = {}
        for q in self.order:
            results = {"warm-up": self.warm_results[q]}
            if q in last:  # else every timed closure raised
                results["last timed closure"] = last[q]
            cols, types, expected = oracles[q]
            problems = [
                f"{k} differs from the DuckDB oracle"
                for k, (dtypes, digest) in results.items()
                if digest != expected or type_mismatches(dtypes, cols, types)
            ]
            for p in problems:
                self.ctx.log(f"{q}: {p}")
            ok[q] = not problems
        return ok

    # ---- report -------------------------------------------------------
    def failed(self, ok: dict[str, bool]) -> int:
        n = sum(self.raised.values())
        for q in self.order:
            if not ok[q]:
                n += sum(len(v) for v in self.closures[q].values())
        return n

    def _closure_total(self, traced: bool) -> float:
        return sum(
            statistics.median(self.closures[q][traced])
            for q in self.order
            if self.closures[q][traced]
        )

    def end_to_end(self) -> dict[str, float]:
        total = self._closure_total(False)
        return {"latency_ms": 1000 * total, "throughput_per_s": len(self.order) / total}

    def per_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        totals = dict.fromkeys(
            ("build_s", "write_s", "jobs", "task_s", "staged_mb", "scan_mb"), 0.0
        )
        for q in self.order:
            samples = self.layer_samples[q]
            if not samples:
                continue
            med = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
            for k in PER_QUERY:
                out[f"q.{q}.{k}"] = med[k]
            for k in totals:
                totals[k] += med[k]
        out.update({f"operators.{k}": v for k, v in totals.items() if k != "scan_mb"})
        out["schemas.scan_mb"] = totals["scan_mb"]
        traced_rounds = max(len(self.closures[q][True]) for q in self.order)
        out["self.operators_s"] = self.ctx.tracer.self_seconds().get(
            "operators", 0.0
        ) / max(1, traced_rounds)
        traced, untraced = self._closure_total(True), self._closure_total(False)
        out["trace.latency_ms_overhead"] = 1000 * (traced - untraced)
        out["trace.throughput_per_s_overhead"] = len(self.order) * (1 / traced - 1 / untraced)
        return out
