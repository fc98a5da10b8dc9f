"""run-batch job orchestration (SURVEY.md §3.1) — the engine's main "query".

Mirrors Backend/execute_calls.py:384-907 stage-for-stage, Spark-first:

1. ingest + canonicalize + inject (S1-S6, P1-P5, A1-A10), cached
2. prepare: P9 split, P6 feature selection, P7 imputation (``train_fill``)
3. train (``train_detector``: M* via factory; unsupervised get features
   only, execute_calls.py:36-40,594-631)
4. detect on all rows into one cached ``scored`` frame, the stored
   (un-imputed) rows with ``score`` and ``predicted``; steps 5-7 read it
5. evaluate G1/G2 on all rows and on the test slice in one aggregate
   pass (``operators.metrics.evaluate_classification``, the shared kernel)
6. write the job table (S4) once, injected rows with final flags: S7's
   read-back and S8's flag flip are folded in. A table appears only when
   complete; a failed or cancelled job leaves none.
7. run summary JSON (execute_calls.py:45-79,870-903 key set) with
   per-stage execution_time_* keys (execute_calls.py:404-405,891-895)
   and the detection timeline SVG

Degenerate inputs: a job whose input has fewer than 2 rows raises
``ValueError`` naming the job and its row count, before any injection,
staging or training (its train slice would be empty).
"""

from __future__ import annotations

import datetime as _dt
import json
import pathlib
import time
from contextlib import ExitStack
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from exact_spark.ml.models import get_model
from exact_spark.operators.inject import AnomalySetting, inject_anomalies
from exact_spark.operators.metrics import evaluate_classification
from exact_spark.sources.catalog import JobCatalog
from exact_spark.sources.ingest import canonicalize, feature_columns, read_file


@dataclass
class BatchJob:
    """Job descriptor (DBAPI/type_classes.py:3-10)."""

    job_name: str
    filepath: str
    time_col: str = "timestamp"
    label_col: str | None = "label"
    anomaly_settings: list[AnomalySetting] = field(default_factory=list)
    model: str = "threshold"
    model_params: dict[str, Any] = field(default_factory=dict)
    seed: int = 42


def _json_default(o):
    """NumPy/pandas/datetime/Path-aware serializer (execute_calls.py:52-71)."""
    if isinstance(o, (np.integer,)):
        return int(o)
    if isinstance(o, (np.floating,)):
        return float(o)
    if isinstance(o, np.ndarray):
        return o.tolist()
    if isinstance(o, (_dt.datetime, _dt.date)):
        return o.isoformat()
    return str(o)


def save_run_summary(summary: dict, job_name: str, output_dir: str) -> str:
    """S15: single-line JSON at <out>/<job>/logfile (execute_calls.py:45-79)."""
    out = pathlib.Path(output_dir) / job_name
    out.mkdir(parents=True, exist_ok=True)
    path = out / "logfile"
    path.write_text(json.dumps(summary, default=_json_default) + "\n")
    return str(path)


def job_input(spark: SparkSession, job: BatchJob, release: ExitStack) -> tuple:
    """Batch and stream jobs' ingest: ``(canonical frame, first epoch
    second, last epoch second, row count)``. The frame is cached, as every
    job reads it several times, and ``release`` unpersists it on every
    exit path. Fewer than 2 rows raise ``ValueError``."""
    raw = read_file(spark, job.filepath)
    canon = canonicalize(raw, time_col=job.time_col, label_col=job.label_col).cache()
    release.callback(canon.unpersist)
    ep = F.col("timestamp").cast("double")
    start_epoch, end_epoch, n_rows = canon.agg(F.min(ep), F.max(ep), F.count("*")).collect()[0]
    if n_rows < 2:
        raise ValueError(f"job {job.job_name!r} has {n_rows} rows; a job needs at least 2")
    return canon, start_epoch, end_epoch, n_rows


def train_fill(df: DataFrame, feats: list[str], in_train: Column) -> dict[str, float]:
    """P7: each feature's mean over the ``in_train`` rows, 0.0 for one with
    none (train-fitted, fixing the reference's per-slice leakage)."""
    means = df.agg(*[F.avg(F.when(in_train, F.col(c))).alias(c) for c in feats]).collect()[0]
    return {c: (means[c] if means[c] is not None else 0.0) for c in feats}


def train_detector(job: BatchJob, train: DataFrame, feats: list[str], fill: dict) -> Callable:
    """``job``'s model, trained on ``train`` imputed with ``fill``, as a scorer: a
    frame's stored rows joined to ``score`` and ``predicted`` from its imputed rows."""
    model = get_model(job.model, **job.model_params)

    def impute(frame: DataFrame) -> DataFrame:
        return frame.fillna(fill)

    model.run(impute(train), feats)
    return lambda frame: frame.join(model.detect(impute(frame), feats), "id")


def flag_detections(scored: DataFrame) -> DataFrame:
    """Stored rows with a detector's flags merged in: ``is_anomaly |=
    predicted == 1``, the detector's ``score`` and ``predicted`` dropped."""
    is_anomaly = F.col("is_anomaly") | (F.col("predicted") == 1)
    return scored.withColumn("is_anomaly", is_anomaly).drop("score", "predicted")


def run_batch(
    spark: SparkSession,
    catalog: JobCatalog,
    job: BatchJob,
    output_dir: str,
) -> dict:
    t_total = time.perf_counter()
    table = catalog.table_name(job.job_name)
    # cancel-job deletes this dir: the table is written only while it exists
    job_dir = pathlib.Path(output_dir) / job.job_name
    job_dir.mkdir(parents=True, exist_ok=True)
    # every frame the job caches is released on every exit path, a failed
    # job included: an engine process outlives its jobs
    with ExitStack() as release:
        # 1. simulate/ingest --------------------------------------------------
        # canon feeds inject's selection pass, join and stats aggregates.
        # Injection keeps every row and timestamp: canon's span and count are df's
        t0 = time.perf_counter()
        canon, start_epoch, end_epoch, n_rows = job_input(spark, job, release)
        df = inject_anomalies(canon, job.anomaly_settings, start_epoch, seed=job.seed).cache()
        release.callback(df.unpersist)
        assert "id" in df.columns  # PK presence (execute_calls.py:509-510)

        # 2. prepare ----------------------------------------------------------
        feats = feature_columns(df)
        cut = int(0.85 * n_rows)  # P9 (execute_calls.py:333-346)
        in_train = F.col("id") <= cut
        # the fill's aggregate materializes df: simulation time includes it
        fill = train_fill(df, feats, in_train)
        canon.unpersist()
        t_sim = time.perf_counter() - t0

        # 3. train ------------------------------------------------------------
        t0 = time.perf_counter()
        score = train_detector(job, df.filter(in_train), feats, fill)
        t_train = time.perf_counter() - t0

        # 4. detect: the one frame steps 5-7 read ---------------------------
        t0 = time.perf_counter()
        scored = score(df).cache()
        release.callback(scored.unpersist)

        # 5. evaluate ---------------------------------------------------------
        t_eval0 = time.perf_counter()
        metrics_all, metrics_test = evaluate_classification(scored, F.col("id") > cut)
        t_eval = time.perf_counter() - t_eval0
        df.unpersist()  # scored's buffers are loaded: Spark keeps its cache
        # what the DETECTOR flagged — not the table's total is_anomaly count,
        # which also includes injected ground-truth rows
        n_flagged = metrics_all["tp"] + metrics_all["fp"]

        # 6. the table's one write: the un-imputed rows, final flags ---------
        if not job_dir.exists():
            raise RuntimeError(f"job {job.job_name!r} was cancelled")
        if catalog.create_table(table, flag_detections(scored)) is None:
            raise ValueError(f"table {table} already exists")
        if not job_dir.exists():  # the cancel landed during the write
            catalog.drop_table(table)
            raise RuntimeError(f"job {job.job_name!r} was cancelled")
        # t_detect keeps its documented detect+writeback meaning, the table
        # write included; the evaluation interval has its own key
        t_detect = time.perf_counter() - t0 - t_eval

        summary = {
            "job_name": job.job_name,
            "table_name": table,
            "model": job.model,
            "rows": n_rows,
            "feature_columns": feats,
            "train_rows": cut,
            "test_rows": n_rows - cut,
            "anomalies_flagged": n_flagged,
            "metrics_all": metrics_all,
            "metrics_test": metrics_test,
            "anomaly_settings": [s.__dict__ for s in job.anomaly_settings],
            "execution_time_simulation_seconds": round(t_sim, 3),
            "execution_time_training_seconds": round(t_train, 3),
            "execution_time_detection_seconds": round(t_detect, 3),
            "execution_time_evaluation_seconds": round(t_eval, 3),
            "execution_time_total_seconds": round(time.perf_counter() - t_total, 3),
            "timestamp": _dt.datetime.now(_dt.timezone.utc),
        }
        # 7. X7 visual artifact: the job page's detection timeline as native
        # SVG (job_page_callbacks.py:1000's plot; matplotlib/plotly absent —
        # XML is not). The polyline goes through the M4 visual envelope so
        # the driver collects <= 4 points per screen bucket at ANY table
        # size (the frontend's 1000-point budget, engine-side), and anomaly
        # markers carry the reference's 500-marker cap
        # (job_page_callbacks.py:1038).
        summary["timeline_svg"] = _write_timeline_svg(
            scored.fillna(fill), (start_epoch, end_epoch), feats[0], job.job_name, output_dir
        )
        summary["logfile"] = save_run_summary(summary, job.job_name, output_dir)
    return summary


_TL_BUCKETS = 1000  # frontend initial-zoom point budget
_TL_MARKER_CAP = 500  # anomaly marker constant (job_page_callbacks.py:1038)


def _write_timeline_svg(
    scored, span: tuple[float, float], value_col: str, job_name: str, output_dir: str
) -> str:
    from exact_spark.ml.visualize import svg_timeseries

    ep = F.col("timestamp").cast("double")
    tv = [ep.alias("t"), F.col(value_col).cast("double").alias("v")]
    t0, t1 = F.lit(span[0]), F.lit(span[1])  # the series' first and last epoch second
    bucket = F.least(
        F.lit(_TL_BUCKETS - 1).cast("long"),
        F.floor((ep - t0) / (t1 - t0 + 1e-9) * _TL_BUCKETS).cast("long"),
    )
    m4 = (
        scored.select(*tv, bucket.alias("b"))
        .groupBy("b")
        .agg(
            F.min_by("t", "t").alias("t_first"),
            F.min_by("v", "t").alias("v_first"),
            F.min_by("t", "v").alias("t_min"),
            F.min("v").alias("v_min"),
            F.max_by("t", "v").alias("t_max"),
            F.max("v").alias("v_max"),
            F.max("t").alias("t_last"),
            F.max_by("v", "t").alias("v_last"),
        )
        .collect()
    )
    points: list[tuple[float, float]] = []
    for r in m4:
        quad = [
            (r["t_first"], r["v_first"]),
            (r["t_min"], r["v_min"]),
            (r["t_max"], r["v_max"]),
            (r["t_last"], r["v_last"]),
        ]
        points.extend(sorted(set(quad)))
    points.sort()
    marks = [
        (float(r["t"]), float(r["v"]))
        for r in scored.filter(F.col("predicted") == 1)
        .orderBy("id")
        .limit(_TL_MARKER_CAP)
        .select(*tv)
        .collect()
    ]
    svg = svg_timeseries(f"{job_name} — {value_col} with detections", points, marks)
    out = pathlib.Path(output_dir) / job_name / "plots"
    out.mkdir(parents=True, exist_ok=True)
    path = out / "detection_timeline.svg"
    path.write_text(svg)
    return str(path)
