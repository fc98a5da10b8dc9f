"""Wire-protocol tests: the reference client's exact socket semantics
(Backend/api/api.py:160-199) against EngineServer."""

from __future__ import annotations

import io
import json
import socket
import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from exact_spark.plans.api import EngineAPI
from exact_spark.plans.wire import EngineServer
from tests.conftest import SF_DIR, SF_DIR_MID


@pytest.fixture()
def server(spark, tmp_path):
    (tmp_path / "datasets").mkdir()
    api = EngineAPI(
        spark, str(tmp_path / "wh"), str(tmp_path / "out"),
        datasets_dir=str(tmp_path / "datasets"),
    )
    # a small job table: 50 rows, one per minute
    df = spark.range(1, 51).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("timestamp"),
        (F.col("id") * 1.5).alias("v1"),
        F.lit(0).alias("label"),
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )
    api.catalog.create_table(api.catalog.table_name("wiredemo"), df)
    srv = EngineServer(api)
    srv.start()
    yield srv
    srv.stop()


def _request(srv, payload: dict, response: bool = True, second_message: bytes | None = None,
             timeout: float = 10):
    """The reference client's __send_data (api.py:160-199): one JSON dict
    per connection; get-data reads until EOF."""
    sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    sock.connect((srv.host, srv.port))
    sock.sendall(json.dumps(payload).encode("utf-8"))
    if second_message is not None:
        time.sleep(0.3)
        sock.sendall(second_message)
        sock.close()
        return None
    if not response:
        sock.close()
        return None
    chunks = []
    sock.settimeout(timeout)
    while True:
        b = sock.recv(1024 * 100)
        if not b:
            break
        chunks.append(b)
    sock.close()
    return json.loads(b"".join(chunks).decode("utf-8"))


def test_get_data_split_payload(server):
    got = _request(server, {
        "METHOD": "get-data",
        "job_name": "job_batch_wiredemo",
        "from_timestamp": "2000-01-01T00:00:00",
        "to_timestamp": None,
    })
    # envelope: {"data": <orient='split' JSON string>} (engine.py:301-303)
    inner = got["data"]
    assert isinstance(inner, str)
    pdf = pd.read_json(io.StringIO(inner), orient="split")
    assert len(pdf) == 50
    assert "timestamp" in pdf.columns and "v1" in pdf.columns
    # epoch-float timestamps (engine.py:296-298)
    raw = json.loads(inner)
    assert set(raw) == {"columns", "index", "data"}
    ts_i = raw["columns"].index("timestamp")
    assert isinstance(raw["data"][0][ts_i], float)
    assert raw["data"][0][ts_i] == 1700000000 + 60


def test_get_data_pagination_and_empty(server):
    page = _request(server, {
        "METHOD": "get-data",
        "job_name": "job_batch_wiredemo",
        "from_timestamp": "2000-01-01T00:00:00",
        "to_timestamp": None,
        "limit": 10, "offset": 20,
    })
    raw = json.loads(page["data"])
    id_i = raw["columns"].index("id")
    assert [r[id_i] for r in raw["data"]] == list(range(21, 31))
    assert raw["index"] == list(range(20, 30))
    # a window with no rows -> {"data": null} (engine.py:306-308)
    empty = _request(server, {
        "METHOD": "get-data",
        "job_name": "job_batch_wiredemo",
        "from_timestamp": "2090-01-01T00:00:00",
        "to_timestamp": None,
    })
    assert empty["data"] is None
    # invalid timestamp -> error envelope (engine.py:317-321)
    bad = _request(server, {
        "METHOD": "get-data",
        "job_name": "job_batch_wiredemo",
        "from_timestamp": "not-a-timestamp",
        "to_timestamp": None,
    })
    assert bad["data"] is None and "error" in bad


def test_listing_methods(server):
    assert _request(server, {"METHOD": "get-models"})["models"] == list(
        server.api.get_models()
    )
    from exact_spark.ml.explain import METHODS

    assert _request(server, {"METHOD": "get-xai-methods"})["methods"] == list(METHODS)
    assert "spike" in _request(server, {"METHOD": "get-injection-methods"})[
        "injection_methods"
    ]
    jobs = _request(server, {"METHOD": "get-all-jobs"})["jobs"]
    assert jobs == ["job_batch_wiredemo"]
    cols = _request(server, {"METHOD": "get-columns", "name": "wiredemo"})["columns"]
    assert "v1" in cols and "is_anomaly" not in cols
    unknown = _request(server, {"METHOD": "no-such-method"})
    assert unknown == {"error": "method-error-response"}


def test_import_dataset_two_message(server, tmp_path):
    csv = "t,val\n2024-01-01T00:00:00,1.5\n2024-01-01T00:01:00,2.5\n"
    _request(server, {
        "METHOD": "import-dataset", "name": "up.csv", "timestamp_column": "t",
    }, second_message=csv.encode("utf-8"))
    dest = tmp_path / "datasets" / "up.csv"
    deadline = time.time() + 30
    while not dest.exists() and time.time() < deadline:
        time.sleep(0.2)
    assert dest.exists()
    out = pd.read_csv(dest)
    # time column renamed 'timestamp' and moved first
    # (execute_calls.py:1029-1044)
    assert list(out.columns)[0] == "timestamp"
    assert len(out) == 2
    # existing file: buffer drained, contents untouched (engine.py:366-371)
    before = dest.read_bytes()
    _request(server, {
        "METHOD": "import-dataset", "name": "up.csv", "timestamp_column": "t",
    }, second_message=b"t,val\nGARBAGE,9\n")
    time.sleep(1.0)
    assert dest.read_bytes() == before


def test_run_batch_over_the_wire(server, tmp_path):
    """Fire-and-forget run-batch (engine.py:161-205): the job runs on a
    daemon thread, appears in get-all-jobs when its table lands, and its
    run summary reaches the logfile sink."""
    # stage a dataset the job can ingest
    csv = "ts,v\n" + "\n".join(
        f"{1700000000 + i * 60},{10.0 + (i % 9) * 0.5}" for i in range(200)
    )
    (tmp_path / "datasets" / "wirejob.csv").write_text(csv)

    _request(server, {
        "METHOD": "run-batch",
        "model": "threshold",
        "dataset": "wirejob.csv",
        "name": "job_batch_wirejob",   # client pre-prefixes (api.py:28)
        "debug": False,
        "time_column": "ts",
        "label_column": None,
    }, response=False)

    logfile = tmp_path / "out" / "wirejob" / "logfile"
    deadline = time.time() + 90
    while not logfile.exists() and time.time() < deadline:
        time.sleep(0.5)
    assert logfile.exists(), "run summary never written"
    summary = json.loads(logfile.read_text())
    assert summary["rows"] == 200
    assert summary["model"] == "threshold"
    assert "job_batch_wirejob" in _request(server, {"METHOD": "get-all-jobs"})["jobs"]
    # cancel-job drops the table + output dir (engine.py:408-450)
    _request(server, {"METHOD": "cancel-job", "job_name": "job_batch_wirejob"},
             response=False)
    deadline = time.time() + 30
    while time.time() < deadline:
        if "job_batch_wirejob" not in _request(server, {"METHOD": "get-all-jobs"})["jobs"]:
            break
        time.sleep(0.5)
    assert "job_batch_wirejob" not in _request(server, {"METHOD": "get-all-jobs"})["jobs"]


def test_run_stream_over_the_wire(server, tmp_path):
    """run-stream dispatch (engine.py:207-255): fire-and-forget, the
    job_stream_ table lands with scored+flagged rows."""
    csv = "ts,v\n" + "\n".join(
        f"{1700000000 + i * 60},{10.0 + (i % 9) * 0.5}" for i in range(150)
    )
    (tmp_path / "datasets" / "wirestream.csv").write_text(csv)

    _request(server, {
        "METHOD": "run-stream",
        "model": "threshold",
        "dataset": "wirestream.csv",
        "name": "job_stream_wirestream",
        "speedup": 1000,
        "chunks": 2,
        "debug": False,
        "time_column": "ts",
        "label_column": None,
    }, response=False)

    deadline = time.time() + 120
    table = None
    while time.time() < deadline:
        jobs = _request(server, {"METHOD": "get-all-jobs"})["jobs"]
        if "job_stream_wirestream" in jobs:
            table = "job_stream_wirestream"
            break
        time.sleep(0.5)
    assert table, "stream table never appeared"
    # wait until the replay finished appending all rows; the end-of-replay
    # compaction swaps partition directories, so a poll that listed files
    # pre-swap can hit FILE_NOT_EXIST — plain parquet has no snapshot
    # isolation (documented on compact_table); a client retries
    def count_with_retry():
        try:
            return server.api.catalog.read_data(table).count()
        except Exception:
            return -1

    while time.time() < deadline:
        if count_with_retry() == 150:
            break
        time.sleep(0.5)
    # join the worker BEFORE the final read: the job is only done once the
    # end-of-replay compaction committed (the row count hits 150 earlier),
    # and a worker still writing when the session fixture stops Spark dies
    # with TASK_WRITE_FAILED — the suite's one historical flake
    worker = server.job_threads["wirestream"]
    worker.join(timeout=max(0.0, deadline - time.time()))
    assert not worker.is_alive(), "stream job did not finish in time"
    assert "wirestream" not in server.job_errors, server.job_errors["wirestream"]
    stored = server.api.catalog.read_data(table)
    assert stored.count() == 150
    assert "is_anomaly" in stored.columns


def test_get_queries_and_run_query(server):
    """Extension surface: the whole registered-analytics registry is
    servable over the wire — list it, then run one oracle-backed query
    against the testdata tables and get a bounded split payload back."""
    qs = _request(server, {"METHOD": "get-queries"})["queries"]
    names = {q["name"] for q in qs}
    assert len(names) > 100 and "g1_confusion_metrics" in names
    assert any(q["oracle"] for q in qs) and any(not q["oracle"] for q in qs)

    out = _request(
        server,
        {"METHOD": "run-query", "name": "rel_region_revenue",
         "sf_dir": "/root/testdata/sf0.001", "limit": 10},
    )
    assert out["columns"] == ["region", "revenue", "n_lineitems"]
    assert 0 < len(out["data"]) <= 10

    bad = _request(server, {"METHOD": "run-query", "name": "nope"})
    assert "error" in bad


def test_explain_query_over_wire(server):
    """The live EXPLAIN surface: a client can inspect the physical plan
    (broadcasts, PushedFilters) of any registered analytic before running
    it."""
    out = _request(
        server,
        {"METHOD": "explain-query", "name": "rel_region_revenue",
         "sf_dir": "/root/testdata/sf0.001"},
    )
    assert out["name"] == "rel_region_revenue"
    assert "BroadcastHashJoin" in out["plan"] or "Physical Plan" in out["plan"]
    bad = _request(server, {"METHOD": "explain-query", "name": "nope"})
    assert "error" in bad


def test_run_sql_over_the_wire(server):
    """Ad-hoc read-only SQL surface: a join aggregate runs through
    spark.sql over the registered views; DDL/DML and statement splitting
    are rejected; bad SQL returns a JSON error, not a dropped connection."""
    out = _request(server, {
        "METHOD": "run-sql",
        "sql": "SELECT r_name, count(*) AS n FROM region GROUP BY r_name",
        "sf_dir": "/root/testdata/sf0.001",
    })
    assert out["columns"] == ["r_name", "n"]
    assert len(out["data"]) == 5

    joined = _request(server, {
        "METHOD": "run-sql",
        "sql": "SELECT n.n_name, count(*) AS cnt FROM customer c "
               "JOIN nation n ON n.n_nationkey = c.c_nationkey "
               "GROUP BY n.n_name",
        "sf_dir": "/root/testdata/sf0.001",
        "limit": 3,
    })
    assert joined["columns"] == ["n_name", "cnt"] and len(joined["data"]) <= 3

    for bad_sql in (
        "DROP TABLE region",
        "SELECT 1; SELECT 2",
        "INSERT INTO region VALUES (9, 'X')",
    ):
        bad = _request(server, {
            "METHOD": "run-sql", "sql": bad_sql,
            "sf_dir": "/root/testdata/sf0.001",
        })
        assert "error" in bad

    broken = _request(server, {
        "METHOD": "run-sql", "sql": "SELECT nope FROM region",
        "sf_dir": "/root/testdata/sf0.001",
    })
    assert "error" in broken


def test_concurrent_run_sql_answers_from_its_own_dir(server):
    """run-sql's testdata views are session-wide: concurrent requests for
    different sf_dirs must each count their own dir's lineitem."""
    want = {SF_DIR: 6000, SF_DIR_MID: 60000}
    dirs = list(want)
    got: list[tuple[str, object]] = []

    def client(idx: int) -> None:
        for k in range(10):
            sf = dirs[(idx + k) % 2]
            out = _request(server, {
                "METHOD": "run-sql", "sql": "SELECT COUNT(*) AS n FROM lineitem",
                "sf_dir": sf,
            }, timeout=120)
            got.append((sf, out["data"][0][0] if "data" in out else out))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert len(got) == 40
    wrong = [(sf, n) for sf, n in got if n != want[sf]]
    assert wrong == []


def test_slow_request_does_not_block_others(server, monkeypatch):
    """A request still being handled does not hold up another client's:
    each connection is served on its own thread."""
    entered, release = threading.Event(), threading.Event()
    models = server.api.get_models()

    def slow_get_models():
        entered.set()
        release.wait(30)
        return models

    monkeypatch.setattr(server.api, "get_models", slow_get_models)
    slow: list[dict] = []
    t = threading.Thread(
        target=lambda: slow.append(_request(server, {"METHOD": "get-models"}, timeout=60))
    )
    t.start()
    try:
        assert entered.wait(10)
        fast = _request(server, {"METHOD": "get-injection-methods"}, timeout=5)
        assert "spike" in fast["injection_methods"]
        assert t.is_alive() and not slow
    finally:
        release.set()
        t.join(60)
    assert slow == [{"models": models}]


def _wait_until(cond, timeout: float = 15.0) -> bool:
    deadline = time.time() + timeout
    while not cond() and time.time() < deadline:
        time.sleep(0.2)
    return cond()


def test_job_prefix_selects_stream_or_batch_table(server, spark, tmp_path):
    """get-columns and cancel-job act on the table the client's prefix
    names: job_stream_x is the stream job's table (and its staged source
    and checkpoint dir), never job_batch_x."""
    api = server.api
    df = spark.range(1, 4).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("timestamp"),
        (F.col("id") * 1.5).alias("v1"),
        F.lit(0).alias("label"),
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )
    api.catalog.create_table("job_batch_x", df)
    api.catalog.create_table("job_stream_x", df.withColumn("v_stream", F.col("v1")))
    work = tmp_path / "out" / "stream_x"
    (work / "checkpoint").mkdir(parents=True)

    cols = _request(server, {"METHOD": "get-columns", "name": "job_stream_x"})["columns"]
    assert "v_stream" in cols
    _request(server, {"METHOD": "cancel-job", "job_name": "job_stream_x"}, response=False)
    jobs = lambda: _request(server, {"METHOD": "get-all-jobs"})["jobs"]  # noqa: E731
    assert _wait_until(lambda: "job_stream_x" not in jobs() and not work.exists())
    assert "job_batch_x" in jobs()


def test_job_names_are_validated(server, tmp_path):
    """run-stream and cancel-job reject a name outside JOB_NAME_RE, as
    run-batch does: the failure is recorded and no table is created."""
    from exact_spark.plans.batch import BatchJob

    with pytest.raises(ValueError):
        server.api.run_stream(BatchJob(job_name="a/b", filepath="unused.csv"))

    csv = "ts,v\n" + "\n".join(f"{1700000000 + i * 60},{10.0 + i % 9}" for i in range(40))
    (tmp_path / "datasets" / "named.csv").write_text(csv)
    _request(server, {
        "METHOD": "run-stream", "model": "threshold", "dataset": "named.csv",
        "name": "a/b", "chunks": 2, "time_column": "ts", "label_column": None,
    }, response=False)
    assert _wait_until(lambda: "a/b" in server.job_threads)
    server.job_threads["a/b"].join(120)
    assert not server.job_threads["a/b"].is_alive()
    assert server.job_errors["a/b"].startswith("ValueError"), server.job_errors
    assert not (tmp_path / "wh" / "job_stream_a").exists()

    # through the output dir this name would reach the wiredemo table
    got = _request(server, {"METHOD": "cancel-job", "job_name": "../wh/job_batch_wiredemo"})
    assert "invalid job name" in got["error"]
    assert "job_batch_wiredemo" in _request(server, {"METHOD": "get-all-jobs"})["jobs"]


def test_get_running_reports_each_jobs_kind(server, monkeypatch):
    release = threading.Event()
    started = {"batch": threading.Event(), "stream": threading.Event()}

    def blocking(kind):
        def run(job, **kwargs):
            started[kind].set()
            release.wait(30)
        return run

    monkeypatch.setattr(server.api, "run_batch", blocking("batch"))
    monkeypatch.setattr(server.api, "run_stream", blocking("stream"))
    try:
        for kind in ("batch", "stream"):
            _request(server, {"METHOD": f"run-{kind}", "dataset": "none.csv",
                              "name": f"job_{kind}_k{kind}"}, response=False)
            assert started[kind].wait(10)
        running = _request(server, {"METHOD": "get-running"})["running"]
    finally:
        release.set()
        for t in list(server.job_threads.values()):
            t.join(30)
    assert sorted(running, key=lambda r: r["name"]) == [
        {"name": "kbatch", "type": "batch"},
        {"name": "kstream", "type": "stream"},
    ]


def test_duplicate_run_batch_lands_in_job_errors(server, tmp_path):
    """A run-batch under a name whose table exists fails before any Spark
    work: the error reaches job_errors and the table is unchanged."""
    csv = "ts,v\n" + "\n".join(f"{1700000000 + i * 60},{10.0 + i % 9}" for i in range(40))
    (tmp_path / "datasets" / "dup.csv").write_text(csv)
    before = server.api.get_data("wiredemo")
    _request(server, {
        "METHOD": "run-batch", "model": "threshold", "dataset": "dup.csv",
        "name": "job_batch_wiredemo", "time_column": "ts", "label_column": None,
    }, response=False)
    assert _wait_until(lambda: "wiredemo" in server.job_errors, timeout=60), server.job_errors
    assert server.job_errors["wiredemo"].startswith("ValueError"), server.job_errors
    assert server.api.get_data("wiredemo") == before


def test_second_run_batch_while_running_starts_nothing(server, tmp_path, monkeypatch):
    """A run-batch under the name of a job still running is refused: the
    first job keeps its job_threads entry and completes with its table."""
    from exact_spark.plans import batch

    entered, release = threading.Event(), threading.Event()
    raw_get_model = batch.get_model

    def slow_get_model(name, **params):
        entered.set()
        release.wait(60)
        return raw_get_model(name, **params)

    monkeypatch.setattr(batch, "get_model", slow_get_model)
    csv = "ts,v\n" + "\n".join(f"{1700000000 + i * 60},{10.0 + i % 9}" for i in range(40))
    (tmp_path / "datasets" / "twice.csv").write_text(csv)
    req = {
        "METHOD": "run-batch", "model": "threshold", "dataset": "twice.csv",
        "name": "job_batch_twice", "time_column": "ts", "label_column": None,
    }
    try:
        _request(server, req, response=False)
        assert entered.wait(60) and _wait_until(lambda: "twice" in server.job_threads)
        first = server.job_threads["twice"]
        _request(server, req, response=False)
        assert _wait_until(lambda: "twice" in server.job_errors), server.job_errors
        assert server.job_errors["twice"] == "ValueError: job 'twice' is already running"
        assert server.job_threads["twice"] is first
    finally:
        release.set()
    first.join(120)
    assert not first.is_alive()
    assert server.api.catalog.table_exists(server.api.catalog.table_name("twice"))
    assert len(server.api.get_data("twice")["data"]) == 40


def test_successful_job_clears_its_names_stale_error(server, tmp_path):
    """A failed job's job_errors entry does not outlive a later successful
    job of the same name."""
    req = {
        "METHOD": "run-batch", "model": "threshold", "dataset": "later.csv",
        "name": "job_batch_later", "time_column": "ts", "label_column": None,
    }
    _request(server, req, response=False)  # the dataset does not exist yet
    assert _wait_until(lambda: "later" in server.job_errors, timeout=60), server.job_errors
    failed = server.job_threads["later"]
    failed.join(60)

    csv = "ts,v\n" + "\n".join(f"{1700000000 + i * 60},{10.0 + i % 9}" for i in range(40))
    (tmp_path / "datasets" / "later.csv").write_text(csv)
    _request(server, req, response=False)
    assert _wait_until(lambda: server.job_threads["later"] is not failed)
    server.job_threads["later"].join(120)
    assert server.api.catalog.table_exists("job_batch_later")
    assert "later" not in server.job_errors, server.job_errors


def test_concurrent_starts_of_one_name_run_one_job():
    """Connections run on their own threads: however many start the same
    name at once, one job runs and the others are refused."""
    import sys

    from exact_spark.plans.batch import BatchJob

    srv = EngineServer(api=None)
    release = threading.Event()
    started: list[str] = []

    def fn(job):
        started.append(job.job_name)
        release.wait(30)

    job = BatchJob(job_name="same", filepath="unused.csv")
    callers = [
        threading.Thread(target=srv._start_job, args=("batch", job, fn)) for _ in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in callers:
            t.start()
        for t in callers:
            t.join(30)
    finally:
        sys.setswitchinterval(interval)
        release.set()
    srv.job_threads["same"].join(30)
    assert not any(t.is_alive() for t in callers)
    assert not srv.job_threads["same"].is_alive()
    assert started == ["same"]
    assert srv.job_errors["same"] == "ValueError: job 'same' is already running"
