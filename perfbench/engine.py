"""Engine process of the benchmark: one Spark session, one workload.

Started by ``run.py`` as ``python3 perfbench/engine.py <config.json>``
with the run directory as its working directory, ``TMPDIR`` and the
streaming checkpoint base inside it, and the repository root on
``PYTHONPATH``. It writes ``result.json`` into the run directory. The
``control_plane`` workload also writes ``ready.json`` once its server
listens, settles when the load generator writes a line to its standard
input after the warm-up, and serves until that input closes.

With tracing on, the session writes an event log and the workload's calls
into the program are wrapped in spans (see ``spans.py``); the per-layer
numbers are computed after the session stops, when the log is complete.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

import eventlog
import gen
import spec
from spans import OFF, Tracer

#: the five injection types of FIXTURES.md F3, offsets from the first row
SETTINGS = (
    ("spike", 600, 120, 3.0, 100.0, ["V1"]),
    ("step", 1800, 300, 2.0, 50.0, ["V2", "V4"]),
    ("lowered", 3600, 3600, 1.0, 100.0, ["V1"]),
    ("custom", 7200, 90, 0.0, 25.0, []),
    ("offline", 9000, 30, 1.0, 100.0, ["V5"]),
)
SUMMARY_KEYS = {
    "job_name", "table_name", "model", "rows", "feature_columns", "train_rows",
    "test_rows", "anomalies_flagged", "metrics_all", "metrics_test",
    "anomaly_settings", "execution_time_simulation_seconds",
    "execution_time_training_seconds", "execution_time_detection_seconds",
    "execution_time_evaluation_seconds", "execution_time_total_seconds",
    "timestamp", "timeline_svg", "logfile",
}
CONFUSION = ("tp", "tn", "fp", "fn")
BATCH_ROWS = 4000  # rows of the generated series
#: model of the batch jobs: driver-side trees, broadcast mapInPandas scoring
BATCH_MODEL = "isolation_forest"
#: input format of each timed job, after the warm-up job on the JSON copy
TIMED_FORMATS = ("csv", "json")
EXECUTION_TIMES = ("total", "simulation", "training", "detection", "evaluation")

#: registered queries the control plane's run-query requests draw from
CP_QUERIES = ("rel_order_priority_smj", "w1_sliding_features", "ts_changepoint_cusum")
CP_QUERY_LIMIT = 50
CP_SQL = "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
CP_TABLES = 3
CP_ROWS = 10_000  # rows of each staged job table


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:300]


def _dir_files(path: Path) -> list[Path]:
    """Parquet files of a table; dot-prefixed swap leftovers excluded."""
    return [
        p for p in path.rglob("*.parquet")
        if not any(s.startswith(".") for s in p.relative_to(path).parts)
    ]


#: idle seconds between the warm-up and the timed window
SETTLE_S = 2.0


def settle(spark) -> None:
    """Start the timed window from the same state in every run: collect
    the warm-up's garbage in both interpreters and let the JVM's compiler
    threads finish the methods the warm-up queued."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


# -- batch_jobs -----------------------------------------------------------------


def _install_batch_wrappers(tracer: Tracer) -> None:
    from exact_spark.plans import api as api_mod
    from exact_spark.plans import batch as batch_mod
    from exact_spark.sources import ingest as ingest_mod
    from exact_spark.sources.catalog import JobCatalog

    tracer.wrap(api_mod, "run_batch", "batch.run_batch")
    tracer.wrap(batch_mod, "read_file", "ingest.read_file")
    tracer.wrap(batch_mod, "canonicalize", "ingest.canonicalize")
    tracer.wrap(ingest_mod, "with_dense_id", "ingest.with_dense_id")
    tracer.wrap(batch_mod, "inject_anomalies", "inject.inject_anomalies")
    tracer.wrap(batch_mod, "evaluate_classification", "batch.evaluate")
    tracer.wrap(batch_mod, "_write_timeline_svg", "batch.summary")
    tracer.wrap(batch_mod, "save_run_summary", "batch.summary")
    tracer.wrap(
        JobCatalog, "create_table", "catalog.create_table",
        attrs_of=lambda a, kw, r: {
            "bytes": sum(p.stat().st_size for p in _dir_files(a[0]._path(a[1])))
        },
    )
    tracer.wrap(JobCatalog, "update_anomalies", "catalog.update_anomalies")
    tracer.wrap(JobCatalog, "read_data", "catalog.read_data")
    tracer.wrap(
        JobCatalog, "_swap_partitions", "catalog.swap_partitions",
        attrs_of=lambda a, kw, r: {"parts": len(a[2])},
    )
    raw_get_model = batch_mod.get_model

    def get_model(name, **params):
        model = raw_get_model(name, **params)
        model.run = tracer.traced(model.run, "model.run")
        model.detect = tracer.traced(model.detect, "model.detect")
        return model

    tracer.patch(batch_mod, "get_model", get_model)


def _check_job(summary: dict, facts: dict, same_as: dict | None) -> str | None:
    missing = SUMMARY_KEYS - set(summary)
    if missing:
        return f"run summary lacks {sorted(missing)}"
    want = facts["rows"] - facts["bad_rows"]
    if summary["rows"] != want:
        return f"rows {summary['rows']} != generated {want}"
    m = summary["metrics_all"]
    if sum(m[k] for k in CONFUSION) != want:
        return f"confusion {[m[k] for k in CONFUSION]} does not sum to {want}"
    if same_as is not None:
        a = [m[k] for k in CONFUSION]
        b = [same_as["metrics_all"][k] for k in CONFUSION]
        if a != b:
            return f"confusion {a} differs from the warm-up job's on the same series {b}"
    return None


def batch_jobs(spark, cfg: dict, tracer, t0: float) -> dict:
    from exact_spark.operators.inject import AnomalySetting
    from exact_spark.plans.api import EngineAPI
    from exact_spark.plans.batch import BatchJob

    run = Path.cwd()
    api = EngineAPI(spark, str(run / "warehouse"), str(run / "output"))
    settings = [AnomalySetting(t, o, d, m, p, list(c)) for t, o, d, m, p, c in SETTINGS]
    # one series in both formats: the warm-up job reads the record JSON,
    # the timed jobs the CSV and then the JSON again, and all must flag the
    # same rows
    (run / "inputs").mkdir()
    files = {fmt: run / "inputs" / f"series.{fmt}" for fmt in ("json", "csv")}
    facts = {fmt: gen.write_series(path, BATCH_ROWS, cfg["seed"]) for fmt, path in files.items()}

    def job(fmt: str, name: str) -> BatchJob:
        return BatchJob(
            job_name=name, filepath=str(files[fmt]), time_col="ts", label_col="lbl",
            anomaly_settings=settings, model=BATCH_MODEL,
        )

    if tracer is not OFF:
        _install_batch_wrappers(tracer)
    ops: list[dict] = []
    tw = time.perf_counter()
    try:
        with tracer.span("session.warmup", rid="warmup"):
            warm = api.run_batch(job("json", "warmup"))
        err = _check_job(warm, facts["json"], None)
    except Exception as exc:
        warm, err = None, _err(exc)
    ops.append({"kind": "warmup_job", "rid": "warmup", "ok": err is None, "error": err})
    warmup_s = time.perf_counter() - tw
    settle(spark)
    setup_s = time.perf_counter() - t0

    # a fixed number of timed jobs whatever --seconds: a slower machine
    # changes their latency, never how many are timed or which
    extras: list[dict] = []
    timed_start = time.time()
    t_window = time.perf_counter()
    for k, fmt in enumerate(TIMED_FORMATS):
        name = f"job{k}"
        t = time.perf_counter()
        try:
            with tracer.span("op", rid=name):
                summary = api.run_batch(job(fmt, name))
            lat = time.perf_counter() - t
            err = _check_job(summary, facts[fmt], warm) if warm else "no warm-up job to compare"
        except Exception as exc:  # a failed job is a failed op
            lat, err = time.perf_counter() - t, _err(exc)
        ops.append({"kind": "job", "rid": name, "latency_s": lat, "ok": err is None,
                    "error": err})
        if tracer is not OFF and err is None:
            table = run / "warehouse" / summary["table_name"]
            extras.append({
                "input_bytes": files[fmt].stat().st_size,
                "files": len(_dir_files(table)),
                "partitions": len(list(table.glob("__date=*"))),
                **{k: summary[f"execution_time_{k}_seconds"] for k in EXECUTION_TIMES},
            })
    window_s = time.perf_counter() - t_window

    # after the timed jobs: one get-data page, then cancel every job
    names = ["warmup"] + [f"job{k}" for k in range(len(TIMED_FORMATS))]
    try:
        page = api.get_data(names[-1], limit=500)
        ids = [r[page["columns"].index("id")] for r in page["data"]]
        err = None if ids == list(range(1, 501)) else f"get_data page ids {ids[:3]}..{ids[-3:]}"
    except Exception as exc:
        err = _err(exc)
    ops.append({"kind": "get_data", "rid": "get_data", "ok": err is None, "error": err})
    for name in names:
        try:
            err = None if api.cancel_job(name) else f"cancel_job({name}) dropped nothing"
        except Exception as exc:
            err = _err(exc)
        ops.append({"kind": "cancel_job", "rid": f"cancel:{name}", "ok": err is None, "error": err})
    # per-layer numbers are per timed job: average the jobs' write shape
    extra = {k: sum(e[k] for e in extras) / len(extras) for k in extras[0]} if extras else {}
    return {"setup_s": setup_s, "warmup_s": warmup_s, "window_s": window_s, "ops": ops,
            "timed_start": timed_start, "extra": extra}


# -- artifact builds -----------------------------------------------------------------


def _watch_artifact_builds(tracer, builds: list[dict]) -> None:
    """Record every artifact build the program runs, traced or not, with
    its wall-clock time, so a build inside the timed window fails the run.
    ``artifacts.materialize`` runs ``build`` only on a cache miss, and its
    consumers import it at call time; the canonical event table keeps its
    own cache and calls ``_canonical_compute`` only to rebuild it."""
    from exact_spark import artifacts
    from exact_spark.operators import timeseries

    def built(tag: str, fn):
        def build(*args):
            builds.append({"artifact": tag, "at": time.time()})
            with tracer.span("artifacts.build", artifact=tag):
                return fn(*args)

        return build

    raw_materialize = artifacts.materialize
    tracer.patch(artifacts, "materialize", lambda source, tag, build: raw_materialize(
        source, tag, built(tag, build)))
    tracer.patch(timeseries, "_canonical_compute",
                 built("canonical", timeseries._canonical_compute))


def _build_artifacts(spark, sf_dir: str) -> float:
    """Build the per-corpus artifacts the timed queries serve from, so no
    timed op pays for one; returns the seconds spent."""
    from exact_spark.operators.timeseries import canonical_table_path

    t = time.perf_counter()
    canonical_table_path(spark, sf_dir)
    return time.perf_counter() - t


def _oracle_rows(corpus: Path, names) -> dict[str, int]:
    """Row count of each query's DuckDB oracle on the generated corpus."""
    import duckdb

    from exact_spark.io import TABLES
    from exact_spark.registry import REGISTRY

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        return {
            q: con.execute(f"SELECT COUNT(*) FROM ({REGISTRY[q].sql})").fetchone()[0]
            for q in names if REGISTRY[q].sql is not None
        }
    finally:
        con.close()


# -- control_plane (engine side; the load generator lives in run.py) -------------


def _stage_job_tables(spark, api, cfg: dict) -> None:
    import pandas as pd

    for k in range(CP_TABLES):
        c = gen.canonical_rows(CP_ROWS, cfg["seed"] * 10 + k)
        pdf = pd.DataFrame({
            "id": c["id"].astype("int64"),
            "timestamp": pd.to_datetime(c["ts"], unit="s"),
            **{f"V{j}": c[f"V{j}"] for j in range(1, 6)},
            "label": c["label"].astype("int32"),
            "injected_anomaly": False,
            "is_anomaly": False,
        })
        api.catalog.create_table(api.catalog.table_name(f"cp{k}"), spark.createDataFrame(pdf))


def _install_cp_wrappers(tracer: Tracer) -> None:
    import dataclasses

    from exact_spark.plans.api import EngineAPI
    from exact_spark.plans.wire import EngineServer
    from exact_spark.registry import REGISTRY
    from exact_spark.sources.catalog import JobCatalog

    raw_handle = EngineServer._handle

    def _handle(self, conn, data):
        with tracer.span("wire.handle", rid=data.get("bench_rid")):
            return raw_handle(self, conn, data)

    tracer.patch(EngineServer, "_handle", _handle)
    for meth in ("get_data", "run_query", "run_sql", "get_all_jobs", "get_columns"):
        tracer.wrap(EngineAPI, meth, f"api.{meth}")
    tracer.wrap(JobCatalog, "read_data", "catalog.read_data")
    for q in CP_QUERIES:  # run-query = build (the registered fn) + collect
        spec_ = REGISTRY[q]
        tracer.patch(REGISTRY, q, dataclasses.replace(
            spec_, fn=tracer.traced(spec_.fn, "query.build")))


def control_plane(spark, cfg: dict, tracer, t0: float) -> dict:
    from exact_spark.plans.api import EngineAPI
    from exact_spark.plans.wire import EngineServer
    from exact_spark.registry import _load_all

    run = Path.cwd()
    facts = gen.write_corpus(run / "corpus", cfg["seed"])
    api = EngineAPI(spark, str(run / "warehouse"), str(run / "output"),
                    analytics_dir=str(run / "corpus"))
    built = _build_artifacts(spark, str(run / "corpus"))
    tw = time.perf_counter()
    with tracer.span("session.warmup", rid="warmup"):
        _stage_job_tables(spark, api, cfg)
    warmup_s = time.perf_counter() - tw
    _load_all()
    query_rows = {
        q: min(CP_QUERY_LIMIT, n) for q, n in _oracle_rows(run / "corpus", CP_QUERIES).items()
    }
    if tracer is not OFF:
        _install_cp_wrappers(tracer)
    server = EngineServer(api)
    _host, port = server.start()
    setup_s = time.perf_counter() - t0
    ready = {
        "port": port, "setup_s": setup_s, "rows": CP_ROWS, "tables": CP_TABLES,
        "queries": query_rows, "query_limit": CP_QUERY_LIMIT, "sql": CP_SQL,
        "returnflag_counts": facts["returnflag_counts"],
    }
    tmp = run / "ready.json.tmp"
    tmp.write_text(json.dumps(ready))
    tmp.rename(run / "ready.json")
    # the load generator sends one line once its warm-up cycles are done,
    # then closes our stdin when the timed window is over
    if sys.stdin.readline():
        settle(spark)
        (run / "settled").write_text("")
        sys.stdin.read()
    server.stop(drain_s=5.0)
    handled = {sp["rid"]: sp["end"] - sp["start"] for sp in tracer.spans
               if sp["name"] == "wire.handle"}
    return {"setup_s": setup_s, "warmup_s": warmup_s, "handle_s": handled,
            "artifacts_s": built}


# -- per-layer numbers --------------------------------------------------------------

#: span name -> per-layer metric (seconds per timed op)
SPAN_METRICS = {
    "ingest.read_file": "ingest.read_file_s",
    "ingest.canonicalize": "ingest.canonicalize_s",
    "inject.inject_anomalies": "inject.inject_anomalies_s",
    "catalog.create_table": "catalog.create_table_s",
    "catalog.update_anomalies": "catalog.update_anomalies_s",
    "catalog.read_data": "catalog.read_data_s",
    "api.get_data": "api.get_data_s",
    "api.run_query": "api.run_query_s",
    "api.run_sql": "api.run_sql_s",
    "wire.handle": "wire.handle_s",
    "model.run": "model.run_s",
    "model.detect": "model.detect_s",
    "batch.run_batch": "batch.run_batch_s",
    "batch.evaluate": "batch.evaluate_s",
    "batch.summary": "batch.summary_s",
    "query.build": "query.build_s",
}


def layer_metrics(tracer: Tracer, spark_by_desc: dict, res: dict) -> dict[str, float]:
    """Per-layer numbers of a traced run, averaged over its timed ops."""
    timed = {sp["rid"] for sp in tracer.spans if sp["name"] in ("op", "wire.handle")}
    timed.discard(None)
    n_ops = max(1, len(timed))
    spans = [sp for sp in tracer.spans if sp["rid"] in timed]
    out: dict[str, float] = defaultdict(float)
    selfs = tracer.self_times()
    for sp in spans:
        d = sp["end"] - sp["start"]
        if sp["name"] in SPAN_METRICS:
            out[SPAN_METRICS[sp["name"]]] += d / n_ops
        out[f"self_s.{sp['name'].split('.')[0]}"] += selfs[sp["id"]] / n_ops
    out["batch.self_s"] = sum(
        selfs[sp["id"]] for sp in spans if sp["name"] == "batch.run_batch"
    ) / n_ops
    # run-query: what api.run_query spends beyond building the query
    out["query.execute_s"] = sum(
        selfs[sp["id"]] for sp in spans if sp["name"] == "api.run_query"
    ) / n_ops

    # catalog write shape and the run summary's own timings (batch_jobs)
    extra = res.get("extra") or {}
    created = [sp for sp in spans if sp["name"] == "catalog.create_table"]
    if created and extra:  # extra holds per-job averages
        out["catalog.bytes_written_per_input_byte"] = (
            sum(sp["attrs"]["bytes"] for sp in created) / n_ops / extra["input_bytes"]
        )
        out["catalog.files_per_table"] = extra["files"]
        rewritten = sum(sp["attrs"]["parts"] for sp in spans if sp["name"] == "catalog.swap_partitions")
        out["catalog.partitions_rewritten_share"] = rewritten / n_ops / max(1, extra["partitions"])
        for k in EXECUTION_TIMES:
            out[f"batch.execution_time_{k}_s"] = extra[k]

    # Spark engine totals of the jobs the timed spans submitted
    span_rid = {sp["id"]: sp["rid"] for sp in tracer.spans}
    for desc, agg in spark_by_desc.items():
        if not desc or not desc.startswith("span:"):
            continue
        if span_rid.get(int(desc.split(":", 1)[1])) in timed:
            for name, field in spec.SPARK_FIELDS.items():
                out[name] += agg[field] / n_ops

    out["session.warmup_s"] = res["warmup_s"]
    out["artifacts.build_s"] = res.get("artifacts_s", 0.0)
    return dict(out)


WORKLOADS = {"batch_jobs": batch_jobs, "control_plane": control_plane}


def main(config_path: str) -> None:
    cfg = json.loads(Path(config_path).read_text())
    run = Path.cwd()
    t0 = time.perf_counter()
    from exact_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(run / "spark-warehouse")}
    if cfg["trace"]:
        (run / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{cfg['workload']}", master=f"local[{spec.CORES}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the context is up and has run a job
    session_start_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext) if cfg["trace"] else OFF
    builds: list[dict] = []
    try:
        _watch_artifact_builds(tracer, builds)
        res = WORKLOADS[cfg["workload"]](spark, cfg, tracer, t0)
    finally:
        tracer.unwrap_all()
        spark.stop()
    res.update(session_start_s=session_start_s, builds=builds)
    if cfg["trace"]:
        by_desc = eventlog.parse(run / "eventlog", spec.CORES)
        res["per_layer"] = {"session.start_s": session_start_s,
                            **layer_metrics(tracer, by_desc, res)}
    (run / "result.json").write_text(json.dumps(res))


if __name__ == "__main__":
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    main(sys.argv[1])
