"""run-stream job orchestration (SURVEY.md §3.3 intended semantics).

engine.py:207-255 + execute_calls.py:910-970, rebuilt working: stage the
canonicalized file as a time-ordered chunked stream source, pre-train the
model on the raw file (T3's contract), replay with inline injection (T2),
score each micro-batch and append to the ``job_stream_`` table.

The job core is shared with ``run_batch``: ingest (``batch.job_input``)
and the per-setting injection transform (``operators.inject``).
"""

from __future__ import annotations

import pathlib
from contextlib import ExitStack

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from exact_spark.ml.models import get_model
from exact_spark.operators.inject import streaming_injection
from exact_spark.operators.metrics import evaluate_classification
from exact_spark.plans.batch import BatchJob, flag_detections, job_input
from exact_spark.sources.catalog import JobCatalog
from exact_spark.sources.ingest import feature_columns
from exact_spark.streaming.replay import (
    await_stream,
    read_replay_stream,
    replay_rate,
    score_stream,
    stage_stream_source,
)


def run_stream(
    spark: SparkSession,
    catalog: JobCatalog,
    job: BatchJob,
    work_dir: str,
    speedup: float = 1000.0,
    chunks: int = 20,
    timeout_s: float = 120.0,
) -> dict:
    work = pathlib.Path(work_dir)
    table = catalog.table_name(job.job_name, stream=True)
    src_dir = str(work / "source")
    ckpt_dir = str(work / "checkpoint")

    with ExitStack() as release:
        # the canonical frame's consumers here: the start-epoch agg, the
        # staging write (T1), the replay-rate agg, the model fit
        canon, start_epoch = job_input(spark, job, release)
        stage_stream_source(canon, src_dir, chunks=chunks)
        rate = replay_rate(canon, speedup)

        # pre-train on the raw (un-injected) file — T3 (execute_calls.py:952-956)
        feats = feature_columns(canon)
        model = get_model(job.model, **job.model_params)
        model.run(canon, feats)

    # replay -> inline injection -> foreachBatch scoring -> append table
    stream = read_replay_stream(spark, src_dir, files_per_trigger=1)
    injected = streaming_injection(stream, job.anomaly_settings, start_epoch, seed=job.seed)

    def sink(scored, batch_id: int) -> None:
        out = flag_detections(scored)
        if catalog.table_exists(table):
            catalog.insert_data(table, out)
        else:
            catalog.create_table(table, out)

    query = score_stream(injected, model, feats, sink, ckpt_dir, available_now=True)
    status = await_stream(query, timeout_s=timeout_s)

    # each micro-batch appended its own file set; bin-pack before handing
    # the table to readers (the maintenance pass a streaming table needs
    # continuously at scale, run once here since the replay is bounded)
    compaction = catalog.compact_table(table)

    stored = catalog.read_data(table)
    det = stored.select(
        "id", F.col("label").cast("int").alias("label"),
        F.col("is_anomaly").cast("int").alias("predicted"),
    )
    [metrics] = evaluate_classification(det)
    return {
        "job_name": job.job_name,
        "table_name": table,
        "rows": stored.count(),
        "replay_rows_per_second": rate,
        "stream_status": status,
        "compaction": compaction,
        "metrics_all": metrics,
    }
