"""storm-spark benchmark: one workload, one seed, one JSON line.

Usage, from the root of a checkout:

    python3 stormbench/run.py --workload storm_stream --seed 1 --seconds 20 --trace 0

Workloads (see stormbench/layers.json for why each was chosen):

* ``storm_stream``: the streaming ETL loop over seeded Kafka envelopes;
* ``dedup_heavy``: the staged multi-job dedup pipelines, batch mode.

The run builds a session with the engine's own ``get_spark()`` defaults
on ``local[<cores>]``, warms the workload up, measures for ``--seconds``
seconds, checks the outputs, stops Spark and prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones (spans from wrappers around the engine's public
functions, plus Spark's status store), and the spans are written to
``.stormbench_spans/<workload>-seed<seed>.jsonl``.

Everything else the run writes stays under ``.stormbench_work/`` in the
checkout, which is removed at the end. The run exits non-zero, printing no result, when the engine package is not
there to import.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".stormbench_work"
SPANS = ROOT / ".stormbench_spans"


def metric_units(kind: str) -> dict[str, str]:
    """Name to unit of every ``end_to_end`` or ``per_layer`` metric the
    benchmark declares in BENCHMARK.json. Each workload reports all of
    them; a layer the workload never enters reads 0."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Context:
    """What a workload needs from the run: its seed and size, the
    session, the tracer and a place to write."""

    def __init__(self, seed: int, size: str, work: Path, spark, tracer, jvm_pid: int):
        self.seed, self.size, self.work = seed, size, str(work)
        self.spark, self.tracer, self.jvm_pid = spark, tracer, jvm_pid

    def rss(self) -> float:
        from spans import peak_rss_mb

        return peak_rss_mb(self.jvm_pid)

    @staticmethod
    def log(msg: str) -> None:
        print(f"[stormbench] {msg}", file=sys.stderr, flush=True)


def _isolate_environment(work: Path, cores: int) -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    work directory, and size the session to the machine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # The generated tables are single-file, single-row-group parquet, so a
    # scan is one task. Fanning it out to every core emulates the
    # multi-file layout of a real table (the engine's own bench does the
    # same).
    os.environ["SPARK_GRAFT_SCAN_PARTITIONS"] = str(cores)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    _isolate_environment(WORK, cores)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from spans import Tracer, jvm_pid
    from storm_data_etl_service_spark.session import get_spark

    tracer = Tracer()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="stormbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    session_s = time.perf_counter() - t0
    ctx = Context(args.seed, args.size, WORK, spark, tracer, jvm_pid(spark))
    try:
        if args.workload == "storm_stream":
            from stream import StormStream as Workload
        else:
            from queries import DedupHeavy as Workload
        workload = Workload(ctx)
        t1 = time.perf_counter()
        workload.warm_up()
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - PROCESS_START

        workload.measure(args.seconds, bool(args.trace))
        ok = workload.check()
        failed = workload.failed(ok)
        if args.trace:
            units = metric_units("per_layer")
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(
                workload.per_layer(),
                **{
                    "session.start_s": session_s,
                    "session.warmup_s": warmup_s,
                    "self.session_s": session_s + warmup_s,
                    "jvm.peak_rss_mb": workload.peak_rss_mb,
                },
            )
            SPANS.mkdir(exist_ok=True)
            tracer.dump(str(SPANS / f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            units = metric_units("end_to_end")
            metrics = {"setup_s": setup_s, **workload.end_to_end()}
        unknown = set(metrics) - set(units)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        attempted = workload.attempted
    finally:
        _stop_spark(spark)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("storm_stream", "dedup_heavy"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--size", choices=("full", "tiny"), default="full", help="tiny: smoke-test inputs"
    )
    args = parser.parse_args()

    if not (ROOT / "storm_data_etl_service_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
