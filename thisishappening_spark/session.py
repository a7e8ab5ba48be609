"""SparkSession factory.

Local test harness runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
config here is chosen to also hold on a real multi-executor cluster at
~100 TB scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy
  switches) — at 100 TB static shuffle-partition counts are always wrong.
- shuffle partitions default to cores locally; at cluster scale AQE's
  coalesce makes the initial number mostly a ceiling.
- Arrow enabled so the few pandas-UDF operators batch through Arrow rather
  than pickling rows.
- UTC session timezone: the reference stores naive-UTC timestamps and
  re-attaches tzinfo on read (reference data_base.py:141); we normalize at
  the session level instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "thisishappening-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[$SPARK_GRAFT_CPUS]`` session with the configs above;
    ``extra_conf`` entries override them."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long (tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Let the planner pick shuffled-hash join where its size bounds hold
        # (optimization guide §3.1: no sort on either side, faster than
        # sort-merge when a per-partition build side fits). No local plan
        # changes at bench SFs (every eligible join already broadcasts) —
        # this is the cluster-scale default for the fact-fact joins.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # AQE coalesce target (guide §2.2/§9): post-shuffle partitions in the
        # hundreds-of-MB range instead of the 64 MB default. Scale-adaptive,
        # not core-count-derived; at bench SFs every shuffle is below either
        # threshold so local plans (and the driver's low-core run) are
        # unaffected.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
