"""SparkSession factory.

The reference has no engine configuration at all (each script is one Python
process — SURVEY.md §3).  Here the session is configured once for the whole
engine, with the 100 TB design point in mind: AQE on (runtime join
re-selection + skew splitting + partition coalescing), UTC session timezone
(oracle comparability), Arrow for every pandas interchange, and shuffle
parallelism sized from the environment instead of Spark's default 200.

The session is also the only place the engine's parallelism is decided:
:func:`spread` for the per-row stages that need it, and
:func:`shuffle_partitions` for the few scopes that need a shuffle width other
than the session's.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    """Shuffle partition count: SPARK_GRAFT_CPUS or the local core count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the cluster's default parallelism.

    A local parquet file with a single row group is read as ONE partition,
    so a CPU-heavy per-row stage over it (hashing, shingling, Python UDFs)
    would run on one core; spreading first puts it on all of them.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``n`` inside the block and
    restore the session value after it, also on error.

    Physical planning reads the setting, so the block must cover the call
    that plans the work: a checkpoint, an action, or a streaming drain's
    start and await.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _half_mem(mem: str) -> str:
    """Half of a JVM memory string like '8g' / '512m' (floor, min 1 unit)."""
    mem = mem.strip().lower()
    if mem[-1] in "gmk":
        return f"{max(1, int(mem[:-1]) // 2)}{mem[-1]}"
    return str(max(1, int(mem) // 2))


def get_session(app_name: str = "data_etl_scripts_showcase__spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for the test harness; on a real cluster the same config ships
    unchanged — AQE handles partition-count refinement at runtime, so the
    static ``spark.sql.shuffle.partitions`` is just the upper bound.
    """
    cpus = default_parallelism()
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime row-level join pruning: a bloom filter built from the
        # selective side is injected into the big side's scan (AQE), so a
        # 100 TB probe skips row groups that cannot match — explicit here
        # because the whole engine assumes it at scale.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Reference semantics: rows are Python dicts mutated in place, so a
        # repeated key last-wins (buisness_profile_etl/main.py:479-493).
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # The local oracle gate collects FULL query outputs to compare
        # them (tools/check_correctness.py); at the 100x probe tier the
        # full-output queries (f_ansi 60 M rows, j4 55 M) serialize past
        # Spark's 1g default and the collect aborts — a harness limit,
        # not a plan problem (at 100 TB these outputs go to sinks, never
        # the driver).  Default = HALF the driver heap (ADVICE r6: a cap
        # equal to the heap trades a fast clear error for a slow driver
        # OOM near the limit), env-overridable for the big sweeps.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", _half_mem(driver_mem)),
        )
    )
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if master.startswith("local-cluster"):
        # Multi-JVM axis (tools/run_scale_sweeps.sh cluster): real executor
        # JVMs register/heartbeat over sockets, and on a loaded single host
        # the 120s defaults produce spurious executor loss (SIGTERM 143
        # relaunch loops observed under a concurrent pytest run).  Production
        # clusters set exactly these knobs for congested networks.
        builder = builder.config("spark.network.timeout", "600s").config(
            "spark.executor.heartbeatInterval", "60s"
        )
    active = SparkSession.getActiveSession()
    if active is not None:
        # getOrCreate() silently ignores builder configs (master, the
        # local-cluster timeouts above) when a session already exists — a
        # test that sets SPARK_GRAFT_MASTER after another test built a
        # local[N] session would run single-JVM without warning (ADVICE
        # r7).  Make the mismatch loud; the subprocess-based cluster tests
        # are the supported way to get a differently-mastered session.
        have = active.sparkContext.master
        if have != master:
            import warnings

            warnings.warn(
                f"get_session: active session master {have!r} != requested "
                f"{master!r} (SPARK_GRAFT_MASTER) — builder configs are "
                "ignored on an active session; run in a fresh process to "
                "honor the requested master",
                RuntimeWarning,
                stacklevel=2,
            )
    else:
        builder = builder.master(master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
