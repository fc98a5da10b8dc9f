"""run-stream job orchestration (SURVEY.md §3.3 intended semantics).

engine.py:207-255 + execute_calls.py:910-970, rebuilt working: stage the
canonicalized file as a time-ordered chunked stream source, pre-train the
model on the raw file (T3's contract), replay with inline injection (T2),
score each micro-batch and append it to the ``job_stream_`` table.

The job core is shared with ``run_batch``: ingest (``batch.job_input``),
the injection transform (``operators.inject``), the detector step
(``batch.train_fill``, ``batch.train_detector``) and the evaluation kernel
(``operators.metrics``), applied as the sink writes each micro-batch: the
table is never read back. The query runs through ``replay.run_bounded``.
A failed job leaves the rows written so far, not its staged source or
checkpoint.
"""

from __future__ import annotations

import pathlib
import shutil
from contextlib import ExitStack

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from exact_spark.operators.inject import streaming_injection
from exact_spark.operators.metrics import classification_metrics, confusion_sums
from exact_spark.plans import batch
from exact_spark.sources.catalog import JobCatalog
from exact_spark.sources.ingest import feature_columns
from exact_spark.streaming.replay import (
    read_replay_stream,
    replay_rate,
    run_bounded,
    stage_stream_source,
)


def run_stream(
    spark: SparkSession,
    catalog: JobCatalog,
    job: batch.BatchJob,
    work_dir: str,
    speedup: float = 1000.0,
    chunks: int = 20,
    timeout_s: float = 120.0,
) -> dict:
    table = catalog.table_name(job.job_name, stream=True)
    src_dir, ckpt_dir = (str(pathlib.Path(work_dir) / d) for d in ("source", "checkpoint"))
    # batch id -> [tp, tn, fp, fn, rows]: a replayed micro-batch overwrites
    # its entry instead of adding to it
    sums: dict[int, list[int]] = {}

    with ExitStack() as release:
        release.callback(shutil.rmtree, src_dir, ignore_errors=True)
        # canon feeds the span aggregate, the staging write (T1), the fill and the fit
        canon, start_epoch, end_epoch, n_rows = batch.job_input(spark, job, release)
        stage_stream_source(canon, src_dir, chunks=chunks)
        # T3: pre-train on the raw file, every row a train row (execute_calls.py:952-956)
        feats = feature_columns(canon)
        fill = batch.train_fill(canon, feats, F.lit(True))
        score = batch.train_detector(job, canon, feats, fill)
        canon.unpersist()

        def sink(micro_batch: DataFrame, batch_id: int) -> None:
            # the G1 cells and row count are observed on the table write: the
            # micro-batch is detected and read once, in one Spark action
            seen = Observation(f"{table}:{batch_id}")
            cells = {**confusion_sums("predicted", "label"), "rows": F.count("*")}
            observed = score(micro_batch).observe(seen, *(c.alias(k) for k, c in cells.items()))
            out = batch.flag_detections(observed)
            if catalog.table_exists(table):
                catalog.insert_data(table, out)
            else:
                catalog.create_table(table, out)
            got = seen.get
            sums[batch_id] = [got[k] or 0 for k in cells]

        # T3: replay -> inline injection -> foreachBatch scoring -> append table
        stream = read_replay_stream(spark, src_dir)
        injected = streaming_injection(stream, job.anomaly_settings, start_epoch, seed=job.seed)
        status = run_bounded(injected, sink, checkpoint=ckpt_dir, timeout_s=timeout_s)

    *cells, rows = [sum(c) for c in zip(*sums.values())] or [0] * 5
    if rows != n_rows:
        raise RuntimeError(f"stream job {job.job_name!r} scored {rows} of {n_rows} rows")
    # each micro-batch appended its own file set; bin-pack before handing
    # the table to readers (the maintenance pass a streaming table needs
    # continuously at scale, run once here since the replay is bounded)
    compaction = catalog.compact_table(table)
    return {
        "job_name": job.job_name,
        "table_name": table,
        "rows": rows,
        "replay_rows_per_second": replay_rate(start_epoch, end_epoch, n_rows, speedup),
        "stream_status": status,
        "compaction": compaction,
        "metrics_all": classification_metrics(*cells),
    }
