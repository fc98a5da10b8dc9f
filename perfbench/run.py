"""Benchmark of the exact_spark engine: EXACT batch jobs and the wire
control plane on local Spark.

    python3 perfbench/run.py --workload <batch_jobs|control_plane>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. All temporary state (generated inputs,
warehouse, job output, ``TMPDIR`` artifacts, ``spark.local.dir``,
streaming checkpoints, the event log) lives in one run directory under
``.perfbench_runs/``, which is removed on every exit; run directories a
killed run left behind are swept once they are an hour old.

The engine runs in its own process (``engine.py``). For ``control_plane``
this process is the load generator: four client threads speak the
reference's JSON-over-TCP protocol to the engine's server, one request
per connection. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``, the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import spec  # noqa: E402

RUNS_DIR = ".perfbench_runs"
STALE_RUN_S = 3600.0
ENGINE_TIMEOUT_S = 160.0
CP_CLIENTS = 4
#: control-plane request mix, one cycle of 20: 10 windowed get-data, 2
#: whole-table get-data, 5 metadata, 2 run-query, 1 run-sql. The request
#: classes follow the reference frontend (see README.md); their shares are
#: an assumption, not a measurement. Client i walks the cycle from
#: position 5 * i, so any 5 consecutive rounds of the four clients send
#: exactly one cycle, whatever the seed; the seed picks tables and window
#: positions.
CP_CYCLE = (
    "get_window", "meta", "get_window", "get_full", "get_window",
    "meta", "get_window", "run_query", "get_window", "meta",
    "get_window", "run_sql", "get_window", "meta", "get_window",
    "get_full", "get_window", "meta", "get_window", "run_query",
)
CP_META = ("get-all-jobs", "get-columns", "get-models")
#: untimed request cycles before the timed window: the engine's JVM is
#: still compiling the serving path for the first ~20 s of load, and
#: request latency falls by about a sixth over that time
CP_WARMUP_CYCLES = 2


class BenchError(Exception):
    pass


# -- run directory and engine process -------------------------------------------


def sweep_stale_runs(runs: Path) -> None:
    """Remove run directories older than ``STALE_RUN_S`` that a killed run
    could not clean up; younger ones may belong to a concurrent run."""
    if not runs.is_dir():
        return
    cutoff = time.time() - STALE_RUN_S
    for d in runs.iterdir():
        try:
            stale = d.stat().st_mtime < cutoff
        except OSError:
            continue
        if stale:
            shutil.rmtree(d, ignore_errors=True)


def start_engine(root: Path, run: Path, cfg: dict) -> subprocess.Popen:
    (run / "config.json").write_text(json.dumps(cfg))
    for d in ("tmp", "ckpt", "spark-local"):
        (run / d).mkdir()
    env = dict(
        os.environ,
        # Python workers import exact_spark from any working directory
        PYTHONPATH=os.pathsep.join(p for p in (str(root), os.environ.get("PYTHONPATH")) if p),
        TMPDIR=str(run / "tmp"),
        SPARK_GRAFT_CKPT_DIR=str(run / "ckpt"),
        SPARK_LOCAL_DIRS=str(run / "spark-local"),
        # the JVM's own temp files (Spark's artifact dirs) stay in the run
        # directory too, and it keeps no perf-data file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run / 'tmp'} -XX:-UsePerfData",
        TZ="UTC",
        # the same seed runs the same driver-side code paths: set and dict
        # order in the engine's Python process do not vary between runs
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(run / "engine.log", "wb") as log:
        return subprocess.Popen(
            [sys.executable, str(HERE / "engine.py"), str(run / "config.json")],
            cwd=run, env=env, stdin=subprocess.PIPE, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )


def stop_engine(proc: subprocess.Popen) -> None:
    """Stop the engine's whole process group (its JVM and Python workers
    included) and wait until none of it is left: the engine gets 5 s to
    exit by itself, the group then SIGTERM (so the JVM runs its shutdown
    hooks) and, 10 s later, SIGKILL."""
    try:
        proc.wait(timeout=5)
    except subprocess.TimeoutExpired:
        pass
    start = time.time()
    while time.time() - start < 30:
        try:
            os.killpg(proc.pid, signal.SIGTERM if time.time() - start < 10 else signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.2)
        proc.poll()  # reap the engine, or its zombie keeps the group alive
    proc.wait()


def engine_failed(run: Path, what: str) -> BenchError:
    log = run / "engine.log"
    tail = log.read_text(errors="replace")[-3000:] if log.exists() else ""
    print(tail, file=sys.stderr)
    return BenchError(what)


def run_engine(root: Path, run: Path, cfg: dict) -> dict:
    proc = start_engine(root, run, cfg)
    try:
        proc.stdin.close()
        proc.wait(timeout=ENGINE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise engine_failed(run, "engine timed out") from None
    finally:
        stop_engine(proc)
    if proc.returncode != 0 or not (run / "result.json").exists():
        raise engine_failed(run, f"engine exited with {proc.returncode}")
    return json.loads((run / "result.json").read_text())


# -- control-plane load generator --------------------------------------------------


def _iso(epoch_s: float) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).replace(tzinfo=None).isoformat()


def _check_page(resp: dict, first: int, last: int) -> str | None:
    page = json.loads(resp["data"]) if resp.get("data") else {"columns": ["id"], "data": []}
    ids = [r[page["columns"].index("id")] for r in page["data"]]
    if ids != list(range(first, last + 1)):
        return f"get-data ids {ids[:2]}..{ids[-2:]} ({len(ids)}), expected {first}..{last}"
    return None


def _expect(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}"[:300] + f", expected {want!r}"[:200]


def cp_request(cls: str, k: int, rng: random.Random, ready: dict):
    """The ``k``-th request of its class a client sends: (request,
    check(response) -> error or None). What a request costs depends on
    ``k`` only (window width, query); the seed picks tables and positions."""
    n, table = ready["rows"], f"job_batch_cp{rng.randrange(ready['tables'])}"
    if cls == "get_window":
        # the reference job page polls a trailing 10- or 60-minute window:
        # 20 or 120 rows at the generator's 30 s step
        length = (20, 120)[k % 2]
        a = rng.randint(1, n - length + 1)
        lo = gen.SERIES_T0 + (a - 1.5) * gen.SERIES_STEP_S
        hi = gen.SERIES_T0 + (a + length - 1.5) * gen.SERIES_STEP_S
        first, last = gen.window_ids(n, lo, hi)
        req = {"METHOD": "get-data", "job_name": table, "from_timestamp": _iso(lo),
               "to_timestamp": _iso(hi)}
        return req, lambda r: _check_page(r, first, last)
    if cls == "get_full":  # a batch job page loads the whole table once
        req = {"METHOD": "get-data", "job_name": table,
               "from_timestamp": _iso(gen.SERIES_T0 - 86400)}
        return req, lambda r: _check_page(r, 1, n)
    if cls == "meta":
        method = CP_META[k % len(CP_META)]
        if method == "get-all-jobs":
            want = [f"job_batch_cp{k}" for k in range(ready["tables"])]
            return {"METHOD": method}, lambda r: _expect(method, r.get("jobs"), want)
        if method == "get-columns":
            want = ["id", "timestamp", "V1", "V2", "V3", "V4", "V5", "label"]
            return {"METHOD": method, "name": table}, lambda r: _expect(
                method, r.get("columns"), want)
        return {"METHOD": method}, lambda r: _expect(
            method, "threshold" in (r.get("models") or []), True)
    if cls == "run_query":
        q = sorted(ready["queries"])[k % len(ready["queries"])]
        req = {"METHOD": "run-query", "name": q, "limit": ready["query_limit"]}
        return req, lambda r: _expect(q, len(r.get("data") or []), ready["queries"][q])
    req = {"METHOD": "run-sql", "sql": ready["sql"]}
    return req, lambda r: _expect(
        "run-sql", dict(r.get("data") or []), ready["returnflag_counts"])


def send(port: int, req: dict) -> bytes:
    """One request per connection; the response is read until EOF."""
    with socket.create_connection(("127.0.0.1", port), timeout=120) as s:
        s.sendall(json.dumps(req).encode())
        chunks = []
        while chunk := s.recv(65536):
            chunks.append(chunk)
    return b"".join(chunks)


def control_plane_load(
    ready: dict, seed: int, seconds: float, trace: bool, per_client: int | None = None
) -> tuple[list, float]:
    """Closed loop of ``CP_CLIENTS`` clients for ``seconds``, or until each
    has sent ``per_client`` requests."""
    ops: list[dict] = []
    lock = threading.Lock()
    t_start = time.perf_counter()
    deadline = t_start + seconds
    offset = len(CP_CYCLE) // CP_CLIENTS

    def client(idx: int) -> None:
        rng = random.Random(seed * 1000 + idx)
        sent: dict[str, int] = {}
        k = 0
        while k < per_client if per_client is not None else time.perf_counter() < deadline:
            cls = CP_CYCLE[(offset * idx + k) % len(CP_CYCLE)]
            sent[cls] = sent.get(cls, 0) + 1
            req, check = cp_request(cls, sent[cls] + idx, rng, ready)
            rid = f"c{idx}-{k}"
            if trace:
                req["bench_rid"] = rid
            t = time.perf_counter()
            size = 0
            try:
                raw = send(ready["port"], req)
                lat = time.perf_counter() - t
                size = len(raw)
                resp = json.loads(raw) if raw else {}
                err = resp["error"] if "error" in resp else check(resp) if raw else "no response"
            except (OSError, ValueError, KeyError) as exc:
                lat, err = time.perf_counter() - t, f"{type(exc).__name__}: {exc}"[:300]
            with lock:
                ops.append({"kind": cls, "rid": rid, "latency_s": lat, "ok": err is None,
                            "bytes": size, "error": err})
            k += 1

    threads = [threading.Thread(target=client, args=(i,)) for i in range(CP_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=ENGINE_TIMEOUT_S)
    return ops, time.perf_counter() - t_start


def run_control_plane(root: Path, run: Path, cfg: dict) -> dict:
    proc = start_engine(root, run, cfg)
    try:
        deadline = time.time() + ENGINE_TIMEOUT_S - cfg["seconds"] - 15
        while not (run / "ready.json").exists():
            if proc.poll() is not None or time.time() > deadline:
                raise engine_failed(run, "engine did not come up")
            time.sleep(0.1)
        ready = json.loads((run / "ready.json").read_text())
        t_warm = time.perf_counter()
        warm_ops, _ = control_plane_load(
            ready, cfg["seed"], 0, False, per_client=CP_WARMUP_CYCLES * len(CP_CYCLE) // CP_CLIENTS
        )
        proc.stdin.write(b"settle\n")
        proc.stdin.flush()
        while not (run / "settled").exists():
            if proc.poll() is not None or time.time() > deadline:
                raise engine_failed(run, "engine did not settle")
            time.sleep(0.05)
        warm_s = time.perf_counter() - t_warm
        timed_start = time.time()
        ops, window_s = control_plane_load(ready, cfg["seed"], cfg["seconds"], bool(cfg["trace"]))
        proc.stdin.close()
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        raise engine_failed(run, "engine did not stop") from None
    finally:
        stop_engine(proc)
    if proc.returncode != 0 or not (run / "result.json").exists():
        raise engine_failed(run, f"engine exited with {proc.returncode}")
    res = json.loads((run / "result.json").read_text())
    for o in warm_ops:
        o["kind"] = "warmup"
    res.update(ops=warm_ops + ops, window_s=window_s, setup_s=res["setup_s"] + warm_s,
               timed_start=timed_start)
    if cfg["trace"]:
        layers = res["per_layer"]
        handled = res["handle_s"]
        ok = [o for o in ops if o["ok"]]
        waits = [o["latency_s"] - handled[o["rid"]] for o in ok if o["rid"] in handled]
        layers["wire.wait_s"] = statistics.fmean(waits) if waits else 0.0
        layers["wire.response_bytes"] = statistics.fmean(o["bytes"] for o in ok) if ok else 0.0
        for cls in spec.WIRE_CLASSES:
            lat = [o["latency_s"] for o in ok if o["kind"] == cls]
            layers[f"wire.{cls}_p50_s"] = statistics.median(lat) if lat else 0.0
        lat = [o["latency_s"] for o in ok if o["kind"] == "get_window"]
        layers["wire.get_window_p90_s"] = _p90(lat) if lat else 0.0
    return res


# -- metrics -------------------------------------------------------------------------

#: op kinds whose latency the end-to-end metrics summarize
TIMED_KINDS = {"job", *CP_CYCLE}


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def end_to_end(res: dict) -> dict[str, float]:
    ok = [o for o in res["ops"] if o["ok"] and o["kind"] in TIMED_KINDS]
    lat = [o["latency_s"] for o in ok] or [float("nan")]
    return {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(ok) / res["window_s"],
    }


def report(res: dict, trace: bool) -> dict:
    # set-up builds every artifact the timed ops read: a build inside the
    # timed window is work the ops should not pay for, so it fails the run
    late = [b for b in res["builds"] if b["at"] >= res["timed_start"]]
    ops = res["ops"] + [
        {"kind": "artifact_build", "rid": f"build:{b['artifact']}", "ok": False,
         "error": f"artifact {b['artifact']} built inside the timed window"}
        for b in late
    ]
    failed = [o for o in ops if not o["ok"]]
    for o in ops:
        if "latency_s" in o:
            print(f"# {o['kind']} {o['rid']} {o['latency_s']:.3f}s", file=sys.stderr)
    for o in failed[:10]:
        print(f"# failed {o['rid']}: {o['error']}", file=sys.stderr)
    e2e = end_to_end(res)
    if trace:
        values = dict(res["per_layer"])
        values["trace.op_p50_s"] = e2e["op_p50_s"]
        values["trace.ops_per_s"] = e2e["ops_per_s"]
        values["artifacts.built_during_timed"] = len(late)
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                   for n, u in spec.PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in spec.END_TO_END.items()}
    return {"correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "exact_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (no exact_spark/ here)", file=sys.stderr)
        return 2
    runs = root / RUNS_DIR
    sweep_stale_runs(runs)
    run = runs / f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    run.mkdir(parents=True)
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace}
    try:
        if args.workload == "control_plane":
            res = run_control_plane(root, run, cfg)
        else:
            res = run_engine(root, run, cfg)
        out = report(res, bool(args.trace))
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run, ignore_errors=True)
        try:
            runs.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
