"""Spark session management.

Counterpart of the reference's ``State`` singleton
(``replay/utils/session_handler.py:22-143``), rebuilt Spark-first:
AQE + skew-join handling on by default, Arrow transfer enabled for
pandas-UDF paths, shuffle partitions sized to cores (AQE coalesces
at runtime so oversizing is safe at scale).

``get_spark_session`` is the only session builder in the repo: the
library, ``bench.py``, the ``tools/`` scripts and the test fixture
all take their session from it, varying only its parameters.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

__all__ = ["default_session_conf", "get_spark_session", "State"]


def default_session_conf(shuffle_partitions: int) -> dict:
    """The engine's session defaults, applied by ``get_spark_session``.

    Each entry is scale-parameterised, not a local constant:
    AQE sizes partitions from observed data volume; the
    cached-plan flag lets AQE re-size CACHED frames too (otherwise
    ``spark.sql.shuffle.partitions`` is frozen into the
    InMemoryRelation and every consumer of a tiny cached frame
    schedules near-empty tasks — the model-lifecycle paths cache
    train/test/recs and pay that dozens of times; at 100 TB the same
    flag coalesces toward ``advisoryPartitionSizeInBytes``); Arrow
    affects only the driver<->Python boundary.
    """
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # int64 micros, not deprecated INT96: INT96 timestamps carry
        # NO parquet min/max statistics, which silently disables
        # every stats-based file-skipping path (lake read_where,
        # prune_files) on event-time columns — the single most
        # valuable pruning dimension at 100 TB. Delta/Iceberg
        # likewise mandate int64 timestamps.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }


def get_spark_session(
    app_name: str = "replay_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Return the active SparkSession or build a sensible local one.

    On a real cluster the user supplies their own session (we never
    override an active one); locally we mirror the reference's
    defaults (``session_handler.py:70-97``) with modern additions:
    adaptive query execution, skew-join splitting, and Arrow.

    The local session carries ``default_session_conf``, an 8g driver
    (``$REPLAY_SPARK_DRIVER_MEM``) and no UI; ``extra_conf`` is
    applied last, so a caller can override any of them.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(int(cpus) * 2, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in default_session_conf(shuffle_partitions).items():
        builder = builder.config(key, value)
    builder = builder.config(
        "spark.driver.memory", os.environ.get("REPLAY_SPARK_DRIVER_MEM", "8g")
    ).config("spark.ui.enabled", "false")
    if extra_conf:
        for key, value in extra_conf.items():
            builder = builder.config(key, value)
    return builder.getOrCreate()


class State:
    """Singleton holder mirroring the reference API (``session_handler.py:118``)."""

    _instance: Optional["State"] = None

    def __new__(cls, session: Optional[SparkSession] = None):
        if session is not None:
            inst = super().__new__(cls)
            inst.session = session
            cls._instance = inst
            return inst
        if cls._instance is None:
            inst = super().__new__(cls)
            inst.session = get_spark_session()
            cls._instance = inst
        return cls._instance
