"""Control-plane API (SURVEY.md §2.10) — the 14-method JSON surface of
Backend/engine.py:160-404 re-expressed as a thin driver service over the
Spark pipelines. Transport (socket/HTTP) is deliberately out of scope; these
are the callable semantics.
"""

from __future__ import annotations

import pathlib
import re
import shutil
import threading
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from exact_spark.plans.batch import BatchJob, run_batch
from exact_spark.plans.stream import run_stream
from exact_spark.session import tune_session
from exact_spark.sources.catalog import JobCatalog
from exact_spark.sources.ingest import get_file_columns

JOB_NAME_RE = re.compile(r"^[a-z_][a-z0-9_]*$")  # Frontend/callbacks.py:1618

MODELS = ("threshold", "pca_autoencoder", "mlp_autoencoder", "rnn_autoencoder",
          "ae_ocsvm", "isolation_forest", "decision_tree",
          "logistic_regression", "linear_svc", "gbt", "xgboost",
          "calibrated_svc")
INJECTION_METHODS = ("spike", "step", "lowered", "offline", "custom")

_SQL_VIEWS_LOCK = threading.Lock()


class EngineAPI:
    def __init__(self, spark: SparkSession, warehouse_dir: str, output_dir: str,
                 datasets_dir: str | None = None, analytics_dir: str | None = None):
        self.spark = tune_session(spark)
        self.catalog = JobCatalog(spark, warehouse_dir)
        self.output_dir = pathlib.Path(output_dir)
        self.datasets_dir = pathlib.Path(datasets_dir) if datasets_dir else None
        #: default table dir for the registered-analytics surface
        #: (get-queries / run-query); a request may override per call
        self.analytics_dir = analytics_dir

    # -- registered-analytics surface (extension beyond the reference) ------
    def get_queries(self) -> list[dict]:
        """Every registered analytic: name + whether it is oracle-backed."""
        from exact_spark.registry import REGISTRY, _load_all

        _load_all()
        return [
            {"name": n, "oracle": REGISTRY[n].sql is not None}
            for n in sorted(REGISTRY)
        ]

    def run_query(self, name: str, sf_dir: str | None = None,
                  limit: int = 1000) -> dict:
        """Run one registered analytic and return a bounded split-orient
        payload (same driver-safety contract as get-data: the engine never
        collects an unbounded result)."""
        from exact_spark.registry import REGISTRY, _load_all

        _load_all()
        if name not in REGISTRY:
            raise KeyError(name)
        target = sf_dir or self.analytics_dir
        if target is None:
            raise ValueError("no sf_dir configured for run-query")
        df = REGISTRY[name].fn(self.spark, target).limit(int(limit))
        rows = df.collect()
        return {
            "columns": list(df.columns),
            "data": [[row[c] for c in df.columns] for row in rows],
        }

    #: single read-only statement only — coarse keyword guard appropriate
    #: for the trusted-LAN control plane this wire serves (the reference's
    #: own protocol has no auth at all, engine.py:134-155); statement
    #: splitting and DDL/DML are rejected outright
    _SQL_WRITE_RE = re.compile(
        r"(?i)\b(insert|update|delete|drop|create|alter|merge|truncate|grant|revoke|set|refresh|cache|uncache|analyze|msck|load)\b"
    )

    def run_sql(self, sql: str, sf_dir: str | None = None,
                limit: int = 1000) -> dict:
        """Ad-hoc READ-ONLY SQL over the engine's tables (the surface every
        query engine owes its users beyond the registered analytics): the
        testdata tables register as temp views, the statement runs through
        spark.sql — full Catalyst optimization, same pushdown/broadcast
        behavior as the DataFrame plans — and the result returns under the
        same bounded-collect contract as run_query/get-data."""
        if ";" in sql:
            raise ValueError("one statement per request")
        if self._SQL_WRITE_RE.search(sql):
            raise ValueError("read-only surface: DDL/DML rejected")
        target = sf_dir or self.analytics_dir
        if target is None:
            raise ValueError("no sf_dir configured for run-sql")
        from exact_spark import io as _io

        # the views are session-wide: register and analyze under one lock
        # so a concurrent request for another sf_dir cannot swap them
        # before this statement has resolved them into its plan
        with _SQL_VIEWS_LOCK:
            for t in _io.TABLES:
                _io.load(self.spark, target, t).createOrReplaceTempView(t)
            df = self.spark.sql(sql).limit(int(limit))
        rows = df.collect()
        return {
            "columns": list(df.columns),
            "data": [[row[c] for c in df.columns] for row in rows],
        }

    def explain_query(self, name: str, sf_dir: str | None = None) -> dict:
        """Formatted physical plan of one registered analytic — the
        EXPLAIN surface (what PLANS.md snapshots per round, served live):
        a client can check broadcasts / PushedFilters / exchange shapes
        for its own data directory before paying for the run."""
        from exact_spark.registry import REGISTRY, _load_all

        _load_all()
        if name not in REGISTRY:
            raise KeyError(name)
        target = sf_dir or self.analytics_dir
        if target is None:
            raise ValueError("no sf_dir configured for explain-query")
        df = REGISTRY[name].fn(self.spark, target)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return {"name": name, "plan": plan}

    # -- run-batch / run-stream (engine.py:161-255) -------------------------
    def _job_dir(self, job_name: str, stream: bool) -> pathlib.Path:
        """A job's output dir: run summary and plots, or the stream's staged
        source and checkpoint. A name outside ``JOB_NAME_RE`` (``a/b``,
        ``..``) would leave the catalog's flat namespace and is rejected."""
        if not JOB_NAME_RE.match(job_name):
            raise ValueError(f"invalid job name {job_name!r}")
        return self.output_dir / (f"stream_{job_name}" if stream else job_name)

    def _new_job_dir(self, job_name: str, stream: bool) -> pathlib.Path:
        """``_job_dir`` of a job about to run. A name that already has a
        table is rejected before any Spark work: a second job under it
        would append to or collide with the first one's rows."""
        out = self._job_dir(job_name, stream)
        if self.catalog.table_exists(self.catalog.table_name(job_name, stream)):
            raise ValueError(f"job {job_name!r} already has a table")
        return out

    def run_batch(self, job: BatchJob) -> dict:
        self._new_job_dir(job.job_name, stream=False)
        return run_batch(self.spark, self.catalog, job, str(self.output_dir))

    def run_stream(self, job: BatchJob, speedup: float = 1000.0, chunks: int = 20) -> dict:
        work = self._new_job_dir(job.job_name, stream=True)
        return run_stream(self.spark, self.catalog, job, str(work),
                          speedup=speedup, chunks=chunks)

    # -- get-data (engine.py:257-316): split-oriented frame, epoch ts --------
    #: rows returned per call unless the caller overrides — the unbounded
    #: driver collect is replaced by offset/limit pagination
    GET_DATA_ROW_CAP = 100_000

    def get_data(self, job_name: str, from_time=None, to_time=None,
                 stream: bool = False, limit: int | None = None,
                 offset: int = 0) -> dict[str, Any]:
        """The reference's get-data payload (engine.py:279-316): pandas
        ``orient='split'`` keys — ``columns`` / ``index`` / ``data`` — with
        the timestamp column as epoch floats (map_to_timestamp +
        astype(float)). Bounded: at most ``limit`` rows (default
        GET_DATA_ROW_CAP) from ``offset`` in (timestamp, id) order, so a
        100 TB table can be paged without materializing on the driver."""
        table = self.catalog.table_name(job_name, stream=stream)
        df = self.catalog.read_data(table, from_time, to_time)
        df = df.withColumn("timestamp", F.col("timestamp").cast("double"))
        order = ["timestamp"] + (["id"] if "id" in df.columns else [])
        df = df.orderBy(*order)
        if offset:
            df = df.offset(offset)
        n = limit if limit is not None else self.GET_DATA_ROW_CAP
        pdf = df.limit(n).toPandas()
        return {
            "columns": list(pdf.columns),
            "index": list(range(offset, offset + len(pdf))),
            "data": pdf.values.tolist(),
        }

    # -- catalog/list methods -------------------------------------------------
    def get_all_jobs(self) -> list[str]:
        return self.catalog.list_all_tables()

    def get_columns(self, job_name: str, stream: bool = False) -> list[str]:
        return self.catalog.get_columns(self.catalog.table_name(job_name, stream))

    def get_models(self) -> list[str]:
        return list(MODELS)

    def get_injection_methods(self) -> list[str]:
        return list(INJECTION_METHODS)

    def get_xai_methods(self) -> list[str]:
        # single source of truth: the implemented explainer set — the list
        # can't drift from reality (engine.py:339-341 enumerates only the
        # explainers that exist)
        from exact_spark.ml.explain import METHODS

        return list(METHODS)

    def get_datasets(self) -> list[str]:
        if not self.datasets_dir or not self.datasets_dir.exists():
            return []
        return sorted(p.name for p in self.datasets_dir.iterdir() if p.is_file())

    def get_dataset_columns(self, filename: str) -> list[str]:
        return get_file_columns(self.spark, str(self.datasets_dir / filename))

    # -- import-dataset (execute_calls.py:1029-1044): rewrite with the time
    #    column renamed 'timestamp' and moved first --------------------------
    def import_dataset(self, src_path: str, timestamp_column: str) -> str:
        import tempfile

        df = self.spark.read.csv(src_path, header=True, inferSchema=True)
        df = df.withColumnRenamed(timestamp_column, "timestamp")
        rest = [c for c in df.columns if c != "timestamp"]
        dest = self.datasets_dir / pathlib.Path(src_path).name
        # executor-side rewrite + single-file publish: no driver
        # materialization of the dataset
        tmp = pathlib.Path(tempfile.mkdtemp(prefix="exact_spark_import_"))
        try:
            (
                df.select("timestamp", *rest)
                .coalesce(1)
                .write.mode("overwrite")
                .option("header", True)
                .csv(str(tmp / "out"))
            )
            part = next((tmp / "out").glob("part-*.csv"))
            self.datasets_dir.mkdir(parents=True, exist_ok=True)
            shutil.move(str(part), dest)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return str(dest)

    # -- cancel-job (engine.py:408-450): drop table + delete output dir ------
    def cancel_job(self, job_name: str, stream: bool = False) -> bool:
        out = self._job_dir(job_name, stream)
        dropped = self.catalog.drop_table(self.catalog.table_name(job_name, stream))
        if out.exists():
            shutil.rmtree(out)
        return dropped


from exact_spark.operators.timeseries import CANON_SQL  # noqa: E402
from exact_spark.registry import register  # noqa: E402


@register(
    "api_get_data",
    sql=f"""
    WITH canon AS ({CANON_SQL})
    SELECT id, ts_epoch AS ts, value, CAST(label AS INTEGER) AS label
    FROM canon WHERE id <= 2000
    ORDER BY ts, id LIMIT 500 OFFSET 100
    """,
    doc="get-data wire payload e2e (engine.py:279-316): stage a bounded "
    "job table, page it through EngineAPI.get_data (split-orient "
    "columns/index/data, epoch-float timestamps, offset/limit replacing "
    "the reference's unbounded read) and round-trip the payload rows back "
    "into a frame the oracle checks against the canonical series with the "
    "same ORDER/LIMIT/OFFSET.",
)
def api_get_data(spark: SparkSession, sf_dir: str):
    import tempfile

    from exact_spark.operators.timeseries import canonical_events

    work = pathlib.Path(tempfile.mkdtemp(prefix="exact_spark_api_"))
    try:
        api = EngineAPI(spark, str(work / "wh"), str(work / "out"))
        demo = (
            canonical_events(spark, sf_dir)
            .filter(F.col("id") <= 2000)
            .select(
                "id",
                F.timestamp_seconds(F.col("ts_epoch")).alias("timestamp"),
                "value",
                F.col("label").cast("int").alias("label"),
                F.lit(False).alias("injected_anomaly"),
                F.lit(False).alias("is_anomaly"),
            )
        )
        api.catalog.create_table(api.catalog.table_name("wire_demo"), demo)
        payload = api.get_data("wire_demo", limit=500, offset=100)
        ci = {c: i for i, c in enumerate(payload["columns"])}
        rows = [
            {
                "id": int(r[ci["id"]]),
                "ts": float(r[ci["timestamp"]]),
                "value": float(r[ci["value"]]),
                "label": int(r[ci["label"]]),
            }
            for r in payload["data"]
        ]
        return spark.createDataFrame(
            rows, schema="id long, ts double, value double, label int"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
