"""SparkSession factory tuned for the fixture scales and for scale-out.

Settings chosen for 100 TB posture (and safe locally):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number, so this is a floor not a cap.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "lapidus_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # replay/bench sessions run many short availableNow streams;
        # loaded state-store providers linger after query stop and the
        # default 60s maintenance cycle steals cores from later batch
        # work — push it out (a long-running cluster job would tune
        # this per stream instead)
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
        # writable warehouse for bucketed tables (static conf — must be
        # set at session build time)
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "lapidus_warehouse"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, as the
    session's SQLConf parses it (``"10MB"`` → 10485760; ``-1`` when
    broadcasting is off): Spark's own bound for "small enough to hold
    on the driver", which the driver-side paths (a small keyed lake
    lookup, a small edge set's components) use as theirs."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
