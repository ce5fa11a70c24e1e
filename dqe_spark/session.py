"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same settings are what we would
ship on a real cluster: AQE on (runtime re-planning, skew-join
handling), reasonable shuffle partitioning, Arrow for the few
pandas-UDF paths.

PySpark's DataFrame debugging is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every ``F.col``, comparison, ``&`` and ``where`` captures its Python
call site: an ``inspect`` stack walk plus about 20 py4j round trips
per Column call (``F.col("bucket") == "events"`` alone costs 24),
which made up most of a short query's plan build. The cost of turning
it off: the "DataFrame query context" of a Spark runtime error no
longer names the Python line that built the failing expression. The
engine's own errors are unaffected: they keep the reference's
phrasing through ``engine.error_string``. PySpark reads the setting
once per process, from the first active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "dqe-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions, skew-join
        # splitting, and dynamic join-strategy switching. At 100 TB this
        # is what turns a static 'shuffle.partitions' guess into a
        # workable plan.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        # Arrow batches for the pandas-UDF paths (multimodal decode,
        # HDR-exact fallbacks) — never row-at-a-time Python.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # no per-Column call-site capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The engine builds its semi-joins exactly where it wants them
        # (series_limit: tiny winner set broadcast back onto the scored
        # aggregate). PushDownLeftSemiAntiJoin rewrites that into a join
        # BELOW the aggregation, forcing a second full scan of the raw
        # table instead of re-reading the (small) aggregate — measured
        # ~25% slower on TOP/BOTTOM queries at sf0.1 and strictly worse
        # at 100 TB where the raw scan dominates.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.PushDownLeftSemiAntiJoin",
        )
        # the auto-bucketed-scan planner only credits joins/aggs, so it
        # drops the bucketed layout for filter-only queries and loses
        # bucket PRUNING (metric = x → 1/N files). Scan parallelism of
        # a bucketed table is then its bucket count — which is how the
        # count is sized (≈ cores locally, ≈ total cores on a cluster).
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        # The driver's parquet carries TIMESTAMP(NANOS) which Spark has
        # no native type for — read as long (ns since epoch); the metric
        # store derives integer ms from it (exact, matches DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # ContextCleaner frees localCheckpoint/broadcast blocks only
        # after the JVM garbage-collects their driver-side handles;
        # Spark's forced periodic GC defaults to 30 MIN, so a
        # long-lived session that never fills its heap accumulates
        # dead blocks in the unified memory pool for half an hour —
        # measured round 10: the same queries ran 2-8x slower late in
        # a ~25-min sf1 session than in a fresh one (storage eviction
        # churn + GC pressure), and a manual System.gc() recovered
        # part of it immediately. One minute keeps reference
        # processing timely at ANY scale (the cost is one driver-side
        # GC/min — the executors on a cluster are untouched).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        # ...but System.gc() is a FULL stop-the-world collection by
        # default, and with a 1-min cadence it sometimes lands inside
        # a query (round 10: 1-2 sporadic rows per sf1 suite at 2-3x
        # their fresh-session medians, different rows each run).
        # ExplicitGCInvokesConcurrent turns the cleaner's System.gc()
        # into a concurrent G1 cycle — only the initial-mark pause is
        # stop-the-world, and weak references (what the ContextCleaner
        # actually waits on) are still processed at the cycle's remark.
        # Serving deployments that want NO forced cycles can override
        # both knobs via the env vars.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:+ExplicitGCInvokesConcurrent",
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
