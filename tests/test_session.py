"""The engine's session conf policy holds on every path into a registered
query, and the partition count follows one rule."""

from __future__ import annotations

from exact_spark import session
from exact_spark.registry import REGISTRY, register

_ZONE = "spark.sql.session.timeZone"


def test_registered_query_tunes_any_session(spark, monkeypatch):
    want = str(max(spark.sparkContext.defaultParallelism, 8))
    assert spark.conf.get("spark.sql.shuffle.partitions") == want

    name = "__test_session_probe"
    seen: list[str] = []
    try:

        @register(name, sql=None)
        def probe(spark, sf_dir):
            seen.append(spark.conf.get(_ZONE))
            return spark.range(1)

        for call in (REGISTRY[name].fn, probe):
            # an untuned session: foreign zone, empty memo
            spark.conf.set(_ZONE, "America/New_York")
            monkeypatch.setattr(session, "_TUNED_APPS", set())
            call(spark, "unused")
        assert seen == ["UTC", "UTC"]
    finally:
        REGISTRY.pop(name, None)
        spark.conf.set(_ZONE, "UTC")


def test_default_conf_overrides_only_non_defaults(spark):
    """Every DEFAULT_CONF entry changes what a fresh session reads: an
    entry equal to Spark's default sets nothing. The session zone is
    exempt, as its default is the host's zone."""
    fresh = spark.newSession()

    def read(k: str) -> str:
        v = fresh.conf.get(k)
        # byte-size confs read back with a "b" suffix when left at default
        return v[:-1] if v.endswith("b") and v[:-1].isdigit() else v

    no_ops = []
    for k, v in session.DEFAULT_CONF.items():
        if k == _ZONE:
            continue
        default = read(k)
        fresh.conf.set(k, v)
        if read(k) == default:
            no_ops.append(k)
    assert no_ops == []
