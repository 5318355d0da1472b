"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes parallelism (3 sync threads, PK-hash
partitioning, 5000-row commit batches — PhoenixSyncService.java:41,
PhoenixEtlService.java:264-287,456-459). On Spark those knobs map to
shuffle partitioning + AQE, configured once here.

NOTE: the driver may hand us an externally-built SparkSession whose
conf we cannot change (Spark 4 defaults to ANSI mode). Engine code
therefore never relies on session conf for semantics: every lenient
coercion uses try_cast / try_element_at / try_* explicitly.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)


def _default_driver_mem() -> str:
    """spark.driver.memory when SPARK_DRIVER_MEM is unset: 48g, capped
    at half the host's physical memory so a local-mode JVM never sizes
    its heap past what the host can back beside its other processes."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no POSIX sysconf
        return "48g"
    return f"{min(48 << 10, phys // 2 >> 20)}m"


def get_spark(app_name: str = "canal-phoenix-adapter-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build a local SparkSession tuned for the test harness.

    On a real cluster the master/memory settings come from spark-submit;
    everything below the master line is cluster-appropriate as-is:
    AQE handles runtime coalescing + skew splitting, and shuffle
    partition count is a starting hint that AQE re-plans.
    """
    # getActiveSession() is THREAD-scoped; getOrCreate()'s fallback is
    # the process-global instantiated session, so a call from another
    # thread (e.g. a streaming listener) would slip past
    # an active-only check and still mutate the external session
    existing = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if existing is not None:
        # Never mutate an externally-owned session: getOrCreate() would
        # silently apply the runtime confs below (64m broadcast
        # threshold, shuffle partitions, AQE flags) to the DRIVER's
        # session — changing its unrelated joins — while silently
        # ignoring the master/cpus/memory this signature promises
        # (r9 review). The engine works on any session: semantics never
        # depend on conf (try_cast everywhere, module NOTE above).
        if (app_name, cpus, shuffle_partitions) != (
            "canal-phoenix-adapter-spark", None, None,
        ):
            logger.warning(
                "get_spark: existing session returned; explicit args "
                "(app_name=%r, cpus=%r, shuffle_partitions=%r) are dropped",
                app_name, cpus, shuffle_partitions,
            )
        return existing
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # default 100 silently drops >100-field operators out of whole-
        # stage codegen: simhash128's 129-field aggregate, unfused at r12
        .config("spark.sql.codegen.maxFields", "160")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
