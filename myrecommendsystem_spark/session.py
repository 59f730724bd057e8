"""SparkSession factory with scale-oriented defaults.

The reference builds one bare ``SparkSession`` per module
(e.g. ``/root/reference/recommender/DataLoader/src/main/scala/com/ng/recommender/DataLoader.scala:25-35``)
with no tuning.  Here a single factory applies the configuration we want on
a real cluster: AQE (runtime re-planning, skew-join handling, shuffle
coalescing), Arrow for any Pandas-UDF exchange, and a fixed session
timezone so date functions are deterministic across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "myrecommendsystem-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are chosen for the local[N] test harness but every knob is the
    one you would also set on a 1000-executor cluster:

    - ``spark.sql.adaptive.enabled`` — AQE re-plans shuffles at runtime
      (coalesce small partitions, convert to broadcast, split skewed keys).
    - ``spark.sql.session.timeZone=UTC`` — deterministic date semantics.
    - ``spark.sql.legacy.parquet.nanosAsLong=true`` — parquet
      TIMESTAMP(NANOS) columns readable (``io.readers.load_table``
      rebuilds the timestamp); with both set here, reads leave the
      session's conf alone.
    - ``spark.sql.execution.arrow.pyspark.enabled`` — Arrow batches for the
      few Pandas-UDF paths (vector math, multimodal decode).
    - shuffle partitions sized to the harness (32 cores locally); on a real
      cluster AQE's coalescing makes the initial number less critical.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Allow shuffled hash join where the planner's size conditions
        # hold (one side small enough per partition to build a local
        # hash map) instead of always sorting both sides — the guide §9
        # baseline.  Strategy choice never changes results, and the
        # planner falls back to sort-merge when its size estimates say
        # nothing fits; the tradeoff is that those ESTIMATES can be
        # badly wrong after filters/UDFs, and a misestimated build side
        # OOMs a task where sort-merge would have spilled to disk.
        # Memory-constrained deployments can flip it back per session
        # via extra_conf.  Interleaved A/B (tools/ab_flag.py): net
        # 0.952x over the ten shuffled-join-heaviest queries; a rerun
        # over those plus four TPC-H singles that had looked slower gave
        # net 0.992x (the joinless q6 moved as much as any of them, so
        # the apparent slowdowns were host noise).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # managed-table support (bucketed co-located joins) without
        # polluting the repo: warehouse + embedded-metastore dirs in /tmp
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("MRS_WAREHOUSE_DIR", "/tmp/mrs-warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/mrs-derby"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
