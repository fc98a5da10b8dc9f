"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster reading ~100 TB:
- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- Arrow for any pandas-UDF exchange
- UTC session timezone (all EXACT semantics are UTC; SURVEY §1.3)
- broadcast threshold raised: dimension tables (region/nation/supplier/part,
  prediction-id sides of flag writebacks) are tiny relative to fact tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
    # when its size conditions hold — skips both sort passes on joins
    # whose per-partition build side fits (results unaffected; the one
    # deliberate sort-merge demo, rel_order_priority_smj, pins its
    # strategy with an explicit merge hint).
    # Scale-safety sizing (VERDICT r11 item 8): the planner only picks SHJ
    # when canBuildLocalHashMap holds — build-side ESTIMATE below
    # autoBroadcastJoinThreshold (64 MiB here) x shuffle.partitions, AND
    # the build side at least 3x smaller than the probe side. Per-task
    # build memory is therefore bounded by ~64 MiB x (actual rows landing
    # in one partition / estimate accuracy); a build side that
    # misestimates cannot sort-spill the way SMJ can, but every SHJ in
    # this registry builds on a grouped/aggregated side (per-key counts,
    # distinct fingerprint sets) whose post-shuffle partitions AQE has
    # already sized, and skewJoin splitting applies to SHJ too. On a
    # cluster, revisit the product (threshold x partitions) against
    # executor memory; only 3 registry plans carried SMJ before this, so
    # reverting is cheap (tests/test_r12_ops.py::
    # test_shj_conf_join_strategy_pins pins the affected plans' strategies).
    "spark.sql.join.preferSortMergeJoin": "false",
    # guide §6: zstd for everything we write (catalog tables, artifacts)
    # — smaller than snappy at similar read speed
    "spark.sql.parquet.compression.codec": "zstd",
    # events.parquet timestamp storage has varied across testdata
    # generations: TIMESTAMP(NANOS) needs the legacy long-ns read (Spark
    # rejects NANOS otherwise); micros arrive as TIMESTAMP_NTZ. Both are
    # handled dtype-driven in functions.epoch_micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}

# Static (JVM-start-only) confs — effective for sessions WE build
# (bench.py, tests); a driver-provided session keeps its own. Local mode
# runs every task in the driver JVM, whose 1g default heap GC-thrashes a
# 32-thread suite (the observed multi-second bimodal query spikes), and
# 65 queries of unique whole-stage codegen fill the default JIT code
# cache. On a real cluster these become executor JVM sizing.
STATIC_CONF = {
    "spark.driver.memory": "16g",
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
}


def get_spark(
    app_name: str = "exact-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    conf = {**DEFAULT_CONF, **STATIC_CONF}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        conf.setdefault("spark.sql.shuffle.partitions", "32")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: applicationIds already tuned — tune_session is called at the top of
#: every registered query (and again by every helper it composes), and
#: each call is ~a dozen py4j conf.set round-trips; across a 266-query
#: suite that is seconds of pure driver chatter for settings that never
#: change within a session. The set makes repeat calls free.
_TUNED_APPS: set[str] = set()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the driver hands us one); safe and idempotent.

    Every key in DEFAULT_CONF is runtime-settable (none are static
    SparkContext confs). The one addition is sizing
    ``spark.sql.shuffle.partitions`` to the session's actual parallelism:
    an untuned session defaults to 200, which turns every small shuffle
    into 200 near-empty tasks locally, while on a big cluster the
    defaultParallelism-based value scales up with the executor count (AQE
    coalescing then trims per-query). Applied once per session
    (memoized on applicationId); the streaming demos' temporary
    shuffle-partition override restores the tuned value itself, so
    skipping repeat calls cannot serve a stale partition count.
    """
    try:
        app = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - stopped/exotic session
        app = None
    if app is not None and app in _TUNED_APPS:
        return spark
    for k, v in DEFAULT_CONF.items():
        if k == "spark.ui.enabled":  # static conf; only settable at build
            continue
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
