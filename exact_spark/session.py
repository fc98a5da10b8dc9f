"""One engine session policy for every Spark session the engine runs on.

Invariant: before any engine code plans a query, its session carries
``DEFAULT_CONF`` plus ``spark.sql.shuffle.partitions =
max(defaultParallelism, 8)``. ``tune_session`` applies that policy, and it
has exactly three call sites, which together cover every way in:

- ``get_spark`` tunes the session it builds (bench, tests, tools);
- ``registry.register`` wraps every registered query so it tunes the
  session it is handed before its body runs (the driver's vanilla
  session, ``REGISTRY``, direct imports);
- ``EngineAPI.__init__`` tunes the session the control plane serves on
  (batch jobs, streams, get-data, run-sql).

The policy: Arrow for pandas exchange, a UTC session zone (all EXACT
semantics are UTC; SURVEY §1.3), and a raised broadcast threshold, since
dimension tables and flag-writeback id sides are tiny next to fact tables.
AQE (runtime coalescing, skew-join splitting, dynamic join strategy) is
Spark's default and is not set here; ``DEFAULT_CONF`` holds only values
that differ from Spark's defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold: it skips both sort passes (results are unaffected;
    # rel_order_priority_smj pins sort-merge with an explicit hint). The
    # planner picks SHJ only when the build side's ESTIMATE is below
    # autoBroadcastJoinThreshold x shuffle.partitions and at least 3x
    # smaller than the probe side, so per-task build memory is bounded by
    # about the threshold. An SHJ build side cannot sort-spill the way SMJ
    # can; every SHJ in this registry builds on an aggregated side whose
    # post-shuffle partitions AQE has sized, and skew-join splitting
    # applies to SHJ too. On a cluster, check threshold x partitions
    # against executor memory. tests/test_plan_shapes.py::
    # test_shj_conf_join_strategy_pins pins the affected plans' strategies.
    "spark.sql.join.preferSortMergeJoin": "false",
    # guide §6: zstd for everything we write (catalog tables, artifacts)
    # — smaller than snappy at similar read speed
    "spark.sql.parquet.compression.codec": "zstd",
    # events.parquet timestamp storage has varied across testdata
    # generations: TIMESTAMP(NANOS) needs the legacy long-ns read (Spark
    # rejects NANOS otherwise); micros arrive as TIMESTAMP_NTZ. Both are
    # handled dtype-driven in functions.epoch_micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Static (JVM-start-only) confs — effective for sessions WE build
# (bench.py, tests); a driver-provided session keeps its own. Local mode
# runs every task in the driver JVM, whose 1g default heap GC-thrashes a
# 32-thread suite (the observed multi-second bimodal query spikes), and
# 65 queries of unique whole-stage codegen fill the default JIT code
# cache. On a real cluster these become executor JVM sizing. The web UI
# stays off: runs report through local files and open no port.
STATIC_CONF = {
    "spark.driver.memory": "16g",
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "exact-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession and tune it."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    for k, v in {**STATIC_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return tune_session(builder.getOrCreate())


#: applicationIds already tuned. Each tuning is a handful of py4j
#: ``conf.set`` round-trips, and a registered query tunes on every call, so
#: a repeat call on a tuned session costs one set lookup instead. The key
#: is the one ``io._SCAN_MEMO`` uses.
_TUNED_APPS: set[str] = set()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime conf policy to ``spark`` and return it.

    Sets every ``DEFAULT_CONF`` key (all runtime-settable) and sizes
    ``spark.sql.shuffle.partitions`` to ``max(defaultParallelism, 8)``:
    Spark's default of 200 turns each small local shuffle into 200
    near-empty tasks, while on a cluster the count grows with the executors
    and AQE coalescing trims it per query. Idempotent, and applied once per
    application (memoized on applicationId); code that overrides a key
    temporarily restores it, like the streaming demos' partition override,
    which is held only across a stateful query's start.
    """
    try:
        app = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - stopped/exotic session
        app = None
    if app is not None and app in _TUNED_APPS:
        return spark
    for k, v in DEFAULT_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    try:
        par = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(par, 8)))
    except Exception:  # pragma: no cover
        pass
    if app is not None:
        _TUNED_APPS.add(app)
    return spark
