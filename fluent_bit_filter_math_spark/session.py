"""SparkSession factory with scale-minded defaults.

Local tests run on a single JVM, but every default here is chosen for the
1000-executor / 100 TB case and is safe locally:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting);
* adaptive skew join on — the salting fallback for pathological keys;
* Arrow on — every Pandas-UDF boundary is Arrow-batched;
* session timezone pinned to UTC so event-time windows are deterministic;
* shuffle partitions sized by env (32 locally; a real cluster overrides).

ANSI mode is left alone (Spark 4 defaults it on): the engine's
expressions are ANSI-safe by construction (try_cast/try_divide), so they
behave identically either way — important because the verification driver
owns its own SparkSession.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from fluent_bit_filter_math_spark import memo


def get_spark(
    app_name: str = "fluent-bit-filter-math-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-level filtering: when a shuffle join's build side
        # carries a selective filter, inject a bloom filter into the
        # probe side's scan so non-joining rows die at the source
        # instead of crossing the shuffle. The size thresholds are left
        # at their defaults (≥10 GB probe scans), so this is inert on
        # the local fixtures and load-bearing exactly where it matters
        # — the 100 TB fact-dim join. Injection behavior is pinned by
        # tests/test_plans.py with test-scoped thresholds.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if SparkContext._active_spark_context is None:
        # getOrCreate will start a context: give it a managed-table
        # warehouse for the bucketed-write path. A fresh private dir per
        # context, removed at exit: the in-memory catalog dies with the
        # context while the location doesn't, and a stale location fails
        # the next saveAsTable with LOCATION_ALREADY_EXISTS; a
        # predictable path could also be a dir someone else made.
        warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE") or memo.private_dir(
            "warehouse"
        )
        builder = builder.config("spark.sql.warehouse.dir", warehouse)
    return builder.getOrCreate()
