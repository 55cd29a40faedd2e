"""SparkSession construction and per-session tuning.

Two entry points:

- ``get_spark``         build a local session (tests / bench) with scale-aware
                        defaults: AQE on, shuffle partitions ~= cores, Arrow on.
- ``configure_session`` apply the *runtime* confs this engine depends on to an
                        externally provided session (the driver hands us one).

Scale notes (the same code must hold on a 1000-executor cluster at ~100 TB):

- AQE (`spark.sql.adaptive.*`) is the single most important knob at scale:
  runtime partition coalescing, skew-join splitting, and join-strategy
  switching replace hand-tuned shuffle counts.
- `spark.sql.shuffle.partitions` is sized to cores locally; on a real cluster
  AQE's coalescing makes the static value mostly irrelevant as long as it is
  high enough (set it to 2-3x total executor cores).
- Session timezone is pinned to UTC so timestamp semantics are stable across
  driver machines (and match the DuckDB oracle, which is UTC-naive).
- `spark.sql.legacy.parquet.nanosAsLong` lets Spark scan parquet
  TIMESTAMP(NANOS) columns as raw int64 nanos — without it a NANOS-flavor
  `events` file fails to scan at all.  It is a no-op for TIMESTAMP(MICROS)
  files (the other fixture flavor), which scan natively as TIMESTAMP_NTZ;
  `tables.normalize_events` dispatches on whichever type actually arrived.
  Keeping nanos as INT64 mirrors the reference's own schema choice
  (reference: hedera-etl-bigquery/src/main/resources/transactions-schema.json:7-10)
  and the microsecond TIMESTAMP derivation
  (reference: TransactionJsonToTableRow.java:57-58).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs the engine relies on.  Applied both when we build
#: the session ourselves and when the driver hands us one.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the 64 MB advisory size instead of preserving the static
    # partition count: tiny shuffles collapse to a handful of tasks (the
    # dominant term in the per-query floor — measured -25% across the 12
    # sub-second bench queries at sf0.1), while at production scale any
    # shuffle with >= advisory-size per task keeps its parallelism.
    # Explicit repartition(n) calls (ensure_parallelism's CPU-spread) are
    # not coalesced, so CPU-heavy small-data stages keep their fan-out.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The engine deliberately does NOT hard-hint growing tables (facts,
    # customer-scale dims) — size-aware broadcast election happens here
    # instead, and degrades to shuffled joins past the threshold.  64 MB
    # assumes >= 4 GB executors (build side materializes on every
    # executor); tune down for small containers.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


_CONFIGURED: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    Idempotent and memoized: every table load funnels through here, and
    re-setting 7 confs is ~10 ms of py4j per call — measurable when a
    query touches several tables (driver-cost note in transform.py).
    """
    global _CONFIGURED
    if _CONFIGURED is None:
        import weakref

        _CONFIGURED = weakref.WeakSet()
    if spark in _CONFIGURED:
        return spark
    skipped = []
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # conf not settable at runtime in this build
            skipped.append((key, exc))
    if skipped:
        # Not memoized: a transiently-failed set gets retried on the next
        # call instead of being silently pinned as "configured".
        import warnings

        for key, exc in skipped:
            warnings.warn(f"configure_session: could not set {key}: {exc}")
    else:
        _CONFIGURED.add(spark)
    return spark


def get_spark(
    app_name: str = "hedera-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build a local SparkSession with scale-aware defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to the core count (AQE coalesces further at runtime).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # static conf (not runtime-settable): in local mode every block is
        # process-local, so the delay-scheduling wait only adds task-launch
        # latency; on object-storage clusters 0 is the standard setting too
        .config("spark.locality.wait", "0")
        # static conf, read once per JVM when codegen first runs: Spark's
        # default of 100 compiled classes is below one run's working set,
        # so every warm micro-batch recompiled classes the previous one
        # evicted.  Measured distinct generated classes of one
        # perfbench/run.py run (4-core box): corpus 364, hedera_two_tier
        # 121; at 100 entries they compiled 645 and 141 classes.  1024
        # holds both with headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
