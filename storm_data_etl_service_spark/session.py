"""SparkSession factory.

UTC session timezone is load-bearing: the reference pins all times to
UTC (reference internal/domain/transform.go:108-111,314), and the
DuckDB oracle compares naive timestamps.

AQE is on so that at real cluster scale skewed shuffle partitions are
split and small ones coalesced at runtime; locally it also trims the
tail of the 32 shuffle partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_mem_gb() -> float | None:
    """Effective memory budget in GB: the MIN of /proc/meminfo MemTotal
    and any cgroup limit (v2 ``memory.max``, v1 ``limit_in_bytes``).
    Inside cgroup-limited containers MemTotal reports the HOST's
    memory, so sizing from it alone can still get the JVM OOM-killed —
    the cgroup files are what the kernel actually enforces."""
    budgets = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    budgets.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            raw = open(path).read().strip()
            if raw.isdigit():  # v2 writes "max" when unlimited; v1 a huge int
                val = int(raw)
                if val < 1 << 50:  # treat >1 PiB as "no limit"
                    budgets.append(val)
        except OSError:
            continue
    return min(budgets) / (1024**3) if budgets else None


def _default_driver_mem(cap_gb: int = 32) -> str:
    """``min(cap_gb, ~70% of the enforced memory budget)`` in whole GB,
    floor 1g — budget = min(MemTotal, cgroup limit), see _host_mem_gb."""
    total_gb = _host_mem_gb()
    if total_gb is None:
        return f"{cap_gb}g"
    return f"{max(1, min(cap_gb, int(total_gb * 0.7)))}g"


def get_spark(
    app_name: str = "storm-data-etl-service-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults.

    Defaults target the test harness (single JVM ``local[N]``); on a
    real cluster the same settings are sane starting points — AQE
    re-plans shuffle parallelism at runtime so the static
    ``shuffle.partitions`` value only seeds the initial plan.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    import tempfile

    warehouse = os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", os.path.join(tempfile.gettempdir(), "spark-warehouse")
    )
    # In local mode the driver JVM IS the executor; Spark's 1g default
    # heap can't even build a 64 MB broadcast side under 32 concurrent
    # tasks (observed: broadcast OOM at ~sf1.6).  Size it like the
    # executor it stands in for, but never ask for more than ~70% of
    # the machine — an unconditional 32g heap fails to start (or gets
    # OOM-killed) inside cgroup-limited CI containers and small dev
    # hosts.  SPARK_GRAFT_DRIVER_MEM still overrides both ways.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (default 1m) merges post-shuffle
        # partitions by BYTES — a poor proxy for CPU when rows carry
        # shingle/embedding arrays fed to per-row set operations: the
        # PPJoin verification stage (410 KiB of pairs, ~80 µs/row of
        # array_intersect) was coalesced to 2 tasks and serialized the
        # whole dedup family (measured 5× on dedup_jaccard_prefix_join,
        # 2× on dedup_ladder_report at sf0.1).  Coalescing only MERGES
        # partitions — it can never exceed the data-adaptively seeded
        # shuffle.partitions (bytes // 2 MiB, capped) — so a low floor
        # simply preserves the seeded parallelism for small-byte/
        # high-CPU exchanges, while at 100 TB every real exchange is
        # orders of magnitude above ANY floor and the setting is inert.
        # Clusters whose scheduling latency makes small tasks expensive
        # can raise it through SPARK_GRAFT_EXTRA_CONF.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # Adversarial/ablation overrides without touching call sites:
    # SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies LAST, so a config-
    # independence sweep (NO_CODEGEN, AQE off, broadcast off, odd
    # partition counts) can flip engine strategy from the environment.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (s.strip() for s in env_conf.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
