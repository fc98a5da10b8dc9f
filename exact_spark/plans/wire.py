"""JSON-over-TCP control plane (SURVEY §2.10) — the reference's wire
protocol served over the Spark engine.

Reference: ``Backend/engine.py:134-404`` (socket listener + METHOD
dispatch), client ``Backend/api/api.py:9-199`` (one JSON request per
connection; ``get-data`` responses are read until EOF — chunked,
``api.py:177-190``; ``import-dataset`` is two messages on one connection —
the request dict, then the raw file bytes, ``api.py:170-176``).

Protocol parity, method by method:

- ``get-data`` -> ``{"data": <pandas orient='split' JSON string>}`` with
  epoch-float timestamps, or ``{"data": null}`` for an empty frame
  (engine.py:279-316). The frame itself is paged through
  ``EngineAPI.get_data`` (bounded collect) and the response is streamed
  with ``sendall`` — the client's read-until-EOF loop reassembles it.
- ``run-batch`` / ``run-stream`` -> fire-and-forget: the job runs on a
  daemon thread through ``EngineAPI.run_batch`` / ``run_stream``, no
  response bytes (engine.py:161-255). One live job per name: a request
  under the name of a running job starts nothing, and its refusal lands
  in ``job_errors``.
- ``get-data`` / ``get-columns`` / ``cancel-job``: a ``job_stream_`` name
  means the stream job's table, any other the batch job's.
- ``get-models`` / ``get-xai-methods`` / ``get-injection-methods`` /
  ``get-datasets`` / ``get-all-jobs`` / ``get-columns`` /
  ``get-dataset-columns`` / ``get-running`` -> the reference's exact
  response envelopes (engine.py:330-404).
- ``import-dataset``: if the target file exists, drain the socket and do
  nothing; else receive the file bytes, stage them, and rewrite with the
  time column renamed ``timestamp`` and moved first
  (engine.py:361-371, execute_calls.py:1029-1044).
- unknown METHOD -> ``{"error": "method-error-response"}``.

Concurrency contract:

- Every connection is served on its own thread, so a slow request (a
  whole-table ``get-data``, a ``run-query``) never holds up another
  client's. One SparkSession takes every thread's jobs; Spark's task
  scheduler shares the executor slots between them.
- ``run-batch`` / ``run-stream`` jobs run on their own daemon threads,
  outliving the connection that submitted them.
- Session state a request changes is serialized: ``run-sql``'s temp views
  (``EngineAPI.run_sql``) and the streaming demos' shuffle-partition
  override (``replay._state_partitions``) each sit under one module-level
  lock. The override is held only across a stateful query's start
  (``replay.run_bounded``), which fixes the query's state-partition count;
  only a request planned during that start runs its shuffles at it.
- Tables are plain parquet with no snapshot isolation: a ``get-data`` that
  races a ``cancel-job`` or a stream table's compaction may answer with a
  JSON error instead of rows (``JobCatalog.compact_table``'s caveat); the
  client retries. A batch table is written once, with its final flags;
  until then ``get-all-jobs`` omits it and ``get-data`` errors.
"""

from __future__ import annotations

import datetime as _dt
import json
import pathlib
import socket
import socketserver
import tempfile
import threading
import time

import pandas as pd

from exact_spark.plans.api import EngineAPI
from exact_spark.plans.batch import BatchJob
from exact_spark.sources.catalog import BATCH_PREFIX, STREAM_PREFIX

_RECV_CHUNK = 4096


def _job_ref(name: str) -> tuple[str, bool]:
    """``(bare job name, stream)``: the reference client pre-prefixes names
    (api.py:28 sends ``job_batch_<name>``), the catalog prefixes again."""
    if name.startswith(STREAM_PREFIX):
        return name[len(STREAM_PREFIX):], True
    if name.startswith(BATCH_PREFIX):
        return name[len(BATCH_PREFIX):], False
    return name, False


def _parse_settings(inj_params) -> list:
    from exact_spark.operators.inject import AnomalySetting

    return [
        AnomalySetting(
            anomaly_type=p["anomaly_type"],
            timestamp=float(p.get("timestamp", 0.0)),
            duration=float(p.get("duration", 0.0)),
            magnitude=float(p.get("magnitude", 1.0)),
            percentage=float(p.get("percentage", 100.0)),
            columns=p.get("columns"),
            mean=p.get("mean"),
            data_range=p.get("data_range"),
        )
        for p in inj_params or []
    ]


class _Connection(socketserver.BaseRequestHandler):
    """One wire connection, on its own thread: read the request, dispatch
    it through ``EngineServer._handle`` (looked up at call time, so a
    wrapper patched onto the class sees every request), close."""

    def handle(self) -> None:
        conn = self.request
        try:
            raw = conn.recv(_RECV_CHUNK).decode("utf-8")
            self.server.engine._handle(conn, json.loads(raw))
        except Exception as e:  # engine.py:152-155: log and keep serving
            try:
                conn.sendall(json.dumps({"error": str(e)}).encode("utf-8"))
            except OSError:
                pass
        finally:
            try:
                conn.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            conn.close()


class _Server(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True
    engine: EngineServer


class EngineServer:
    """TCP front-end over :class:`EngineAPI` speaking the reference's
    protocol, one thread per connection (see the module docstring for the
    concurrency contract). ``port=0`` binds an ephemeral port (tests)."""

    def __init__(self, api: EngineAPI, host: str = "127.0.0.1", port: int = 0):
        self.api = api
        self.host = host
        self.port = port
        self._server: _Server | None = None
        self.job_threads: dict[str, threading.Thread] = {}
        # job-name -> "batch" | "stream", recorded when the job's thread starts
        self.job_kinds: dict[str, str] = {}
        # job-name -> "ExcType: msg" for fire-and-forget jobs that failed;
        # surfaced instead of letting a worker thread die unhandled
        self.job_errors: dict[str, str] = {}
        # connections run on their own threads: checking that a name has no
        # live job and registering its new one happen under this lock
        self._jobs_lock = threading.Lock()

    # -- lifecycle -----------------------------------------------------------
    def start(self) -> tuple[str, int]:
        self._server = _Server((self.host, self.port), _Connection)
        self._server.engine = self
        self.port = self._server.server_address[1]
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self.host, self.port

    def stop(self, drain_s: float = 120.0) -> None:
        # Drain in-flight jobs FIRST: a fire-and-forget run_batch/run_stream
        # thread may still be mid-write (e.g. the end-of-replay compaction),
        # and the caller typically stops the SparkSession right after this —
        # killing the context under a live write job turns a clean shutdown
        # into TASK_WRITE_FAILED noise (the flake this drain removes).
        deadline = time.time() + drain_s
        for t in list(self.job_threads.values()):
            t.join(timeout=max(0.0, deadline - time.time()))
        if self._server:
            self._server.shutdown()
            self._server.server_close()

    def _run_job(self, name: str, fn, *args, **kwargs) -> None:
        """Worker-thread entry: a failure lands in ``job_errors`` instead of
        killing the thread unhandled. A cancelled batch job fails by design
        (engine.py:250-255): it raises and publishes no table."""
        try:
            fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — boundary: worker thread top
            self.job_errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    def _start_job(self, kind: str, job: BatchJob, fn, **kwargs) -> None:
        """Run ``fn(job, **kwargs)`` on a daemon thread that outlives the
        connection. One live job per name: while a job runs, another request
        under its name starts nothing and records the refusal in
        ``job_errors``; a job that starts clears its name's stale error."""
        name = job.job_name
        with self._jobs_lock:
            running = self.job_threads.get(name)
            if running is not None and running.is_alive():
                self.job_errors[name] = f"ValueError: job {name!r} is already running"
                return
            self.job_errors.pop(name, None)
            t = threading.Thread(target=self._run_job, args=(name, fn, job),
                                 kwargs=kwargs, daemon=True)
            self.job_kinds[name] = kind
            t.start()  # before publishing: a caller may join any listed thread
            self.job_threads[name] = t

    # -- dispatch (engine.py:158-404) ----------------------------------------
    def _job_from_request(self, data: dict) -> BatchJob:
        """The job a ``run-batch`` or ``run-stream`` request describes."""
        return BatchJob(
            job_name=_job_ref(data["name"])[0],
            filepath=str((self.api.datasets_dir or pathlib.Path(".")) / data["dataset"]),
            time_col=data.get("time_column") or "timestamp",
            label_col=data.get("label_column"),
            anomaly_settings=_parse_settings(data.get("inj_params")),
            model=data.get("model", "threshold"),
            model_params=data.get("model_params") or {},
        )

    def _handle(self, conn: socket.socket, data: dict) -> None:
        method = data["METHOD"]
        send = lambda obj: conn.sendall(json.dumps(obj).encode("utf-8"))  # noqa: E731

        if method == "get-data":
            try:
                from_dt = _dt.datetime.fromisoformat(data["from_timestamp"])
                to_dt = (
                    _dt.datetime.fromisoformat(data["to_timestamp"])
                    if data.get("to_timestamp") is not None
                    else None
                )
                name, stream = _job_ref(data["job_name"])
                payload = self.api.get_data(
                    name, from_dt, to_dt, stream=stream,
                    limit=data.get("limit"), offset=int(data.get("offset", 0)),
                )
                if payload["data"]:
                    pdf = pd.DataFrame(
                        payload["data"], columns=payload["columns"],
                        index=payload["index"],
                    )
                    # byte-compatible with engine.py:301's
                    # df.to_json(orient="split")
                    send({"data": pdf.to_json(orient="split")})
                else:
                    send({"data": None})  # engine.py:306-308
            except (ValueError, TypeError) as e:  # engine.py:317-321
                send({"error": f"Invalid timestamp format: {e}", "data": None})

        elif method == "run-batch":
            self._start_job("batch", self._job_from_request(data), self.api.run_batch)
        elif method == "run-stream":
            # engine.py:211's speedup knob; chunks is ours (bounds the
            # micro-batch count of a finite replay)
            self._start_job(
                "stream", self._job_from_request(data), self.api.run_stream,
                speedup=float(data.get("speedup", 1000.0)),
                chunks=int(data.get("chunks", 20)),
            )
        elif method == "get-running":
            running = [
                {"name": n, "type": self.job_kinds[n]}
                for n, t in list(self.job_threads.items())
                if t.is_alive()
            ]
            send({"running": running})
        elif method == "cancel-job":
            name, stream = _job_ref(data["job_name"])
            self.api.cancel_job(name, stream=stream)
        elif method == "get-models":
            send({"models": self.api.get_models()})
        elif method == "get-xai-methods":
            send({"methods": self.api.get_xai_methods()})
        elif method == "get-injection-methods":
            send({"injection_methods": self.api.get_injection_methods()})
        elif method == "get-datasets":
            send({"datasets": self.api.get_datasets()})
        elif method == "get-all-jobs":
            send({"jobs": self.api.get_all_jobs()})
        elif method == "get-columns":
            name, stream = _job_ref(data["name"])
            send({"columns": self.api.get_columns(name, stream=stream)})
        elif method == "get-dataset-columns":
            send({"columns": self.api.get_dataset_columns(data["dataset"])})

        elif method == "import-dataset":
            dest = self.api.datasets_dir / data["name"]
            conn.settimeout(1)
            body = b""
            try:
                chunk = conn.recv(_RECV_CHUNK)
                while chunk:
                    body += chunk
                    chunk = conn.recv(_RECV_CHUNK)
            except socket.timeout:
                pass
            # file exists -> drain and do nothing (engine.py:366-371)
            if not dest.exists() and body:
                with tempfile.NamedTemporaryFile(
                    "wb", suffix=dest.suffix or ".csv", delete=False
                ) as f:
                    f.write(body)
                    staged = f.name
                try:
                    out = self.api.import_dataset(staged, data["timestamp_column"])
                    pathlib.Path(out).rename(dest) if out != str(dest) else None
                finally:
                    pathlib.Path(staged).unlink(missing_ok=True)

        elif method == "get-queries":
            send({"queries": self.api.get_queries()})
        elif method == "run-query":
            try:
                payload = self.api.run_query(
                    data["name"], sf_dir=data.get("sf_dir"),
                    limit=int(data.get("limit", 1000)),
                )
                send({"columns": payload["columns"],
                      "data": json.loads(json.dumps(payload["data"], default=str))})
            except (KeyError, ValueError) as e:
                send({"error": f"unknown query or bad request: {e}"})
        elif method == "explain-query":
            try:
                send(self.api.explain_query(data["name"], sf_dir=data.get("sf_dir")))
            except (KeyError, ValueError) as e:
                send({"error": f"unknown query or bad request: {e}"})
        elif method == "run-sql":
            try:
                payload = self.api.run_sql(
                    data["sql"], sf_dir=data.get("sf_dir"),
                    limit=int(data.get("limit", 1000)),
                )
                send({"columns": payload["columns"],
                      "data": json.loads(json.dumps(payload["data"], default=str))})
            except (KeyError, ValueError) as e:
                send({"error": f"bad request: {e}"})
            except Exception as e:  # analysis errors (bad SQL) stay JSON
                send({"error": f"sql error: {e}"[:500]})

        else:
            send({"error": "method-error-response"})  # engine.py:402-404
