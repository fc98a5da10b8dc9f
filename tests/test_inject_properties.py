"""Metamorphic/property tests for the injection operators (SURVEY §5 plan
item 3): identities, exact shifts, and flag/value consistency."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from exact_spark.durations import parse_duration
from exact_spark.operators.inject import AnomalySetting, inject_anomalies

START = 1700000000.0


@pytest.fixture(scope="module")
def base(spark):
    df = spark.range(1, 501).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(START) + F.col("id") * 60).alias("timestamp"),
        (10.0 + F.sin(F.col("id") / 7.0)).alias("v1"),
        (5.0 + F.cos(F.col("id") / 11.0)).alias("v2"),
        F.lit(0).alias("label"),
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )
    return df.cache()


def _span_setting(kind, **kw):
    # rows with 100*60 < offset <= duration window: minutes 100-200
    return AnomalySetting(kind, 100 * 60.0, 100 * 60.0, **kw)


def _collect(df):
    return {r["id"]: r for r in df.collect()}


def test_custom_magnitude_one_is_identity_on_values(spark, base):
    out = _collect(
        inject_anomalies(base, [_span_setting("custom", magnitude=1.0, columns=["v1"])], START + 60)
    )
    orig = _collect(base)
    for i, row in out.items():
        assert row["v1"] == pytest.approx(orig[i]["v1"], abs=0)
    # but flags ARE set on the span (A9)
    assert any(r["injected_anomaly"] for r in out.values())


def test_step_shifts_by_mean_times_magnitude_exactly(spark, base):
    mag, mean = 3.0, 2.5
    s = _span_setting("step", magnitude=mag, mean=mean, columns=["v1"])
    out = _collect(inject_anomalies(base, [s], START + 60))
    orig = _collect(base)
    for i, row in out.items():
        if row["injected_anomaly"]:
            assert row["v1"] == pytest.approx(orig[i]["v1"] + mean * mag, rel=1e-12)
        else:
            assert row["v1"] == orig[i]["v1"]


def test_offline_zeroes_selected_rows(spark, base):
    out = _collect(
        inject_anomalies(base, [_span_setting("offline", columns=["v1"])], START + 60)
    )
    for row in out.values():
        if row["injected_anomaly"]:
            assert row["v1"] == 0.0


def test_flags_set_iff_in_span_at_full_percentage(spark, base):
    s = _span_setting("custom", magnitude=2.0, percentage=100.0, columns=["v1"])
    start = START + 60  # first row's timestamp
    out = _collect(inject_anomalies(base, [s], start))
    for i, row in out.items():
        ts = START + i * 60
        in_span = start + s.timestamp <= ts < start + s.timestamp + s.duration
        assert bool(row["injected_anomaly"]) == in_span, (i, ts)
        assert row["label"] == (1 if in_span else 0)
        assert bool(row["is_anomaly"]) == in_span


def test_percentage_zero_changes_nothing(spark, base):
    s = _span_setting("spike", magnitude=5.0, percentage=0.0, columns=["v1"])
    out = _collect(inject_anomalies(base, [s], START + 60))
    orig = _collect(base)
    for i, row in out.items():
        assert row["v1"] == orig[i]["v1"]
        assert not row["injected_anomaly"]


def test_percentage_subsample_exact_count_and_determinism(spark, base):
    s = _span_setting("custom", magnitude=2.0, percentage=40.0, columns=["v1"])
    a = inject_anomalies(base, [s], START + 60)
    n_span = 100  # minutes 100-199 inclusive span rows
    k = int(n_span * 0.40)
    assert a.filter(F.col("injected_anomaly")).count() == k
    # deterministic under re-evaluation and different partitioning
    b = inject_anomalies(base.repartition(7), [s], START + 60)
    ids_a = {r["id"] for r in a.filter(F.col("injected_anomaly")).select("id").collect()}
    ids_b = {r["id"] for r in b.filter(F.col("injected_anomaly")).select("id").collect()}
    assert ids_a == ids_b


def test_duration_parser_roundtrips():
    assert parse_duration("1h") == 3600.0
    assert parse_duration("1h30m") == parse_duration("90m")
    assert parse_duration("2days") == 2 * parse_duration("1days")


# -- equivalence pin: the Spark operator against a plain-Python model -------


def _model_inject(rows, settings, start, seed=42):
    """Driver-side reference of inject_anomalies: settings applied in order,
    each selecting by span + md5 rank (hashlib) and, for step/lowered, taking
    its A10 stats over the values the settings before it left."""
    rows = {i: dict(r) for i, r in rows.items()}
    rng = np.random.default_rng(seed)
    numeric = ["v1", "v2"]
    for i, s in enumerate(settings):
        cols = [c for c in s.columns if c in numeric] if s.columns else numeric
        if not cols:
            continue
        t0 = start + s.timestamp
        t1 = t0 + s.duration
        span = [k for k, r in rows.items() if t0 <= r["ts"] < t1]
        span.sort(key=lambda k: (hashlib.md5(f"{seed}:{i}:{k}".encode()).hexdigest(), k))
        sel = span[: math.floor(len(span) * float(s.percentage) / 100.0)]
        stats = {}
        for c in cols:
            xs = [rows[k][c] for k in sel]
            mean = (
                sum(math.floor(x * 1e6 + 0.5) for x in xs) / (1e6 * len(xs)) if xs else None
            )
            stats[c] = (mean, max(xs) - min(xs) if xs else None)
        if s.anomaly_type == "spike":
            factor = float(rng.uniform(1.0, s.magnitude))
        elif s.anomaly_type == "lowered":
            factor = float(rng.uniform(0.3, 0.4))
        for k in sel:
            r = rows[k]
            for c in cols:
                x = r[c]
                if s.anomaly_type == "spike":
                    r[c] = x * factor
                elif s.anomaly_type == "step":
                    mean = s.mean if s.mean is not None else stats[c][0]
                    r[c] = x + float(mean or 0.0) * s.magnitude
                elif s.anomaly_type == "lowered":
                    d = s.data_range if s.data_range is not None else stats[c][1]
                    if d is None or d == 0:
                        d = s.mean if s.mean is not None else 0.0
                    low = max(x - float(d) * factor, 0.0)
                    r[c] = x * factor if low == 0.0 else low
                elif s.anomaly_type == "offline":
                    r[c] = 0.0
                else:
                    r[c] = x * s.magnitude
            r["injected_anomaly"] = True
            r["label"] = 1
    for r in rows.values():
        r["is_anomaly"] = r["is_anomaly"] or r["injected_anomaly"]
    return rows


def test_multi_setting_matches_python_model(spark, base):
    minute = 60.0
    settings = [
        AnomalySetting("spike", 100 * minute, 100 * minute, magnitude=4.0,
                       percentage=70.0, columns=["v1"]),
        # step and lowered after the spike on the same column: their A10
        # stats read the spiked values
        AnomalySetting("step", 150 * minute, 110 * minute, magnitude=2.0,
                       percentage=50.0, columns=["v1"]),
        AnomalySetting("lowered", 180 * minute, 120 * minute, percentage=60.0,
                       columns=["v1", "v2"]),
        AnomalySetting("custom", 50 * minute, 350 * minute, magnitude=1.5,
                       percentage=30.0, columns=[]),  # all numeric columns
        AnomalySetting("spike", 0.0, 500 * minute, magnitude=9.0,
                       columns=["no_such_column"]),  # skipped: no draw
        AnomalySetting("spike", 120 * minute, 100 * minute, magnitude=3.0,
                       columns=["v2"]),
        AnomalySetting("offline", 300 * minute, 50 * minute, percentage=20.0,
                       columns=["v2"]),
        AnomalySetting("lowered", 200 * minute, 100 * minute, percentage=80.0,
                       columns=["v2"], data_range=0.5),
    ]
    start = START + 60
    got = _collect(inject_anomalies(base, settings, start))
    rows = {
        r["id"]: r.asDict()
        for r in base.withColumn("ts", F.col("timestamp").cast("double")).collect()
    }
    want = _model_inject(rows, settings, start)
    assert sum(r["injected_anomaly"] for r in want.values()) > 100
    assert got.keys() == want.keys()
    for k, r in got.items():
        for c in ("v1", "v2", "label", "injected_anomaly", "is_anomaly"):
            assert r[c] == want[k][c], (k, c, r[c], want[k][c])


def test_stream_injection_matches_batch_at_full_percentage(spark, base):
    """At 100% the stream's md5-bucket selection keeps every span row, as
    the batch's rank does, so the shared per-setting transform must give
    the same rows. The leading setting has no target column: it is skipped
    on both paths and draws nothing, so the later spike's factor agrees."""
    from exact_spark.operators.inject import streaming_injection

    minute = 60.0
    settings = [
        AnomalySetting("spike", 0.0, 500 * minute, magnitude=9.0,
                       columns=["no_such_column"]),
        AnomalySetting("spike", 100 * minute, 100 * minute, magnitude=4.0,
                       columns=["v1"]),
        AnomalySetting("lowered", 150 * minute, 100 * minute, columns=["v1", "v2"],
                       mean=2.0, data_range=1.5),
        AnomalySetting("step", 180 * minute, 120 * minute, magnitude=2.0,
                       columns=["v2"], mean=0.75, data_range=3.0),
        AnomalySetting("offline", 300 * minute, 50 * minute, columns=["v1"]),
        AnomalySetting("custom", 50 * minute, 350 * minute, magnitude=1.5),
    ]
    start = START + 60
    batch = _collect(inject_anomalies(base, settings, start))
    stream = _collect(streaming_injection(base, settings, start))
    assert sum(r["injected_anomaly"] for r in batch.values()) > 300
    assert stream.keys() == batch.keys()
    for k, r in stream.items():
        for c in ("v1", "v2", "label", "injected_anomaly", "is_anomaly"):
            assert r[c] == batch[k][c], (k, c, r[c], batch[k][c])
