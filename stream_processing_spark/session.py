"""SparkSession factory.

Defaults are chosen for the 100 TB design point, scaled down to local[32]
for tests:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- Arrow on (vectorized pandas UDF / toPandas transfers).
- shuffle.partitions sized for the local test box; on a real cluster this is
  superseded by AQE coalescing + `spark.sql.adaptive.coalescePartitions`.
- broadcast join threshold left at default (10 MB) — small dims (region,
  nation, supplier) broadcast automatically; we also hint explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "stream-processing-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-appropriate defaults, or return
    the live one unchanged: its confs belong to whoever made it, so
    neither these defaults nor the arguments are applied to it."""
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(DEFAULT_CPUS)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
