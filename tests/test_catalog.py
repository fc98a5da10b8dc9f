"""Job-table catalog (S4-S12) tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from exact_spark.sources.catalog import JobCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return JobCatalog(spark, str(tmp_path / "warehouse"))


def _series(spark, n=100):
    return spark.range(1, n + 1).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("timestamp"),
        (F.col("id") * 1.5).alias("v1"),
        F.lit(0).alias("label"),
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )


def test_create_read_exists_drop(spark, catalog):
    df = _series(spark)
    name = catalog.table_name("demo")
    assert name == "job_batch_demo"
    assert catalog.create_table(name, df) == name
    assert catalog.create_table(name, df) is None  # no-op if exists (S4)
    assert catalog.table_exists(name)
    assert catalog.list_all_tables() == [name]
    got = catalog.read_data(name)
    assert got.count() == 100
    # S7 range scan
    lo = got.agg(F.min("timestamp")).collect()[0][0]
    sub = catalog.read_data(name, from_time=lo, to_time=lo)
    assert sub.count() == 1
    # S11 hides flags
    cols = catalog.get_columns(name)
    assert "is_anomaly" not in cols and "injected_anomaly" not in cols
    assert "v1" in cols
    assert catalog.drop_table(name)
    assert not catalog.table_exists(name)


def test_update_anomalies_merge(spark, catalog):
    df = _series(spark)
    name = catalog.table_name("flags")
    catalog.create_table(name, df)
    ids = spark.createDataFrame([(5,), (10,), (10,)], ["id"])
    n = catalog.update_anomalies(name, ids)
    assert n == 2  # newly flipped rows
    flagged = catalog.read_data(name).filter(F.col("is_anomaly")).select("id")
    assert sorted(r["id"] for r in flagged.collect()) == [5, 10]
    # re-apply is idempotent: 10 is already flagged, only 20 flips
    n2 = catalog.update_anomalies(name, spark.createDataFrame([(10,), (20,)], ["id"]))
    assert n2 == 1
    flagged = catalog.read_data(name).filter(F.col("is_anomaly")).select("id")
    assert sorted(r["id"] for r in flagged.collect()) == [5, 10, 20]


def test_update_anomalies_recovers_from_crash_leftovers(spark, catalog):
    """A crashed previous run can strand a '.…​.old' backup dir inside the
    table and a sibling '.tmp' staging dir; the next update must clean both
    up and still apply correctly (neither a rename collision nor Spark
    partition-discovery breakage)."""
    df = _series(spark)
    name = catalog.table_name("crashy")
    catalog.create_table(name, df)
    path = catalog._path(name)
    part = next(p.name for p in path.iterdir() if p.name.startswith("__date="))
    stray_old = path / ("." + part + ".old")
    stray_old.mkdir()
    (stray_old / "stale.parquet").write_bytes(b"junk")
    stray_tmp = path.with_name(path.name + ".deadbeef.tmp")
    stray_tmp.mkdir()
    (stray_tmp / "stale").write_bytes(b"junk")

    n = catalog.update_anomalies(name, spark.createDataFrame([(7,)], ["id"]))
    assert n == 1
    assert not stray_old.exists() and not stray_tmp.exists()
    assert not list(path.glob(".*.old"))
    flagged = catalog.read_data(name).filter(F.col("is_anomaly")).select("id")
    assert [r["id"] for r in flagged.collect()] == [7]


def _partition_bytes(table_path):
    """{partition dir name: {file name: bytes}} for every __date=* dir."""
    out = {}
    for part in table_path.iterdir():
        if part.is_dir() and part.name.startswith("__date="):
            out[part.name] = {
                f.name: f.read_bytes() for f in part.iterdir() if f.is_file()
            }
    return out


def test_update_anomalies_partition_scoped(spark, catalog):
    """S8 at scale: only date partitions containing flagged ids are
    rewritten — every other partition's files stay byte-identical."""
    # hourly rows -> ~5 distinct UTC dates
    df = spark.range(1, 101).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600).alias("timestamp"),
        (F.col("id") * 1.5).alias("v1"),
        F.lit(0).alias("label"),
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )
    name = catalog.table_name("scoped")
    catalog.create_table(name, df)
    path = catalog._path(name)
    before = _partition_bytes(path)
    assert len(before) >= 4

    # ids 10 and 11 are adjacent hours well inside one UTC date
    targets = sorted(
        str(r["__date"])
        for r in spark.read.parquet(str(path)).filter(F.col("id").isin([10, 11]))
        .select("__date").distinct().collect()
    )
    assert len(targets) == 1
    n = catalog.update_anomalies(name, spark.createDataFrame([(10,), (11,)], ["id"]))
    assert n == 2
    after = _partition_bytes(path)
    assert set(after) == set(before)
    for part in before:
        if part == f"__date={targets[0]}":
            assert before[part] != after[part]
        else:
            assert before[part] == after[part], f"{part} was rewritten"
    flagged = catalog.read_data(name).filter(F.col("is_anomaly")).select("id")
    assert sorted(r["id"] for r in flagged.collect()) == [10, 11]


def test_compact_table(spark, catalog):
    """Maintenance compaction: streaming-style appends accrete small files;
    compact bin-packs each date partition, touched partitions shrink to the
    packed count, untouched ones stay byte-identical, data unchanged."""
    name = catalog.table_name("compactme")
    # day 1: 8 separate appends -> >=8 small files in one date partition
    base = 1700006400  # 2023-11-15 00:00 UTC
    for k in range(8):
        df = spark.range(k * 10 + 1, k * 10 + 11).select(
            F.col("id"),
            F.timestamp_seconds(F.lit(base) + F.col("id") * 60).alias("timestamp"),
            (F.col("id") * 1.5).alias("v1"),
            F.lit(0).alias("label"),
            F.lit(False).alias("injected_anomaly"),
            F.lit(False).alias("is_anomaly"),
        )
        if k == 0:
            catalog.create_table(name, df)
        else:
            catalog.insert_data(name, df)
    # day 2: one clean append -> already compact, must not be rewritten
    df2 = spark.range(1000, 1010).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(base + 86400) + (F.col("id") - 999) * 60).alias(
            "timestamp"
        ),
        (F.col("id") * 1.5).alias("v1"),
        F.lit(0).alias("label"),
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )
    catalog.insert_data(name, df2.coalesce(1))

    path = catalog._path(name)
    parts_before = _partition_bytes(path)
    day1 = [p for p in parts_before if "2023-11-15" in p][0]
    day2 = [p for p in parts_before if "2023-11-16" in p][0]
    n_day1_files = len(list((path / day1).glob("*.parquet")))
    assert n_day1_files >= 8

    before_rows = sorted(
        (r["id"], r["v1"]) for r in catalog.read_data(name).collect()
    )
    stats = catalog.compact_table(name, target_file_bytes=1 << 30)
    assert stats["partitions_compacted"] == 1
    assert stats["files_before"] >= 9
    assert stats["files_after"] < stats["files_before"]

    parts_after = _partition_bytes(path)
    assert len(list((path / day1).glob("*.parquet"))) == 1  # bin-packed
    # untouched partition byte-identical
    assert parts_after[day2] == parts_before[day2]
    # content unchanged
    after_rows = sorted(
        (r["id"], r["v1"]) for r in catalog.read_data(name).collect()
    )
    assert after_rows == before_rows
    # idempotent: second compact is a no-op
    stats2 = catalog.compact_table(name, target_file_bytes=1 << 30)
    assert stats2["partitions_compacted"] == 0


def test_refresh_rollup_incremental(spark, catalog):
    """Continuous-aggregate analog: the hourly rollup refreshes only the
    date partitions whose content changed; unchanged rollup partitions
    stay byte-identical and the result always equals a full recompute."""
    name = catalog.table_name("rollme")
    base = 1700006400  # 2023-11-15 00:00 UTC

    def series(lo, n, step=600):
        return spark.range(lo, lo + n).select(
            F.col("id"),
            F.timestamp_seconds(F.lit(base) + (F.col("id") - 1) * step).alias(
                "timestamp"
            ),
            (F.col("id") * 1.5).alias("v1"),
            F.lit(0).alias("label"),
            F.lit(False).alias("injected_anomaly"),
            (F.col("id") % 10 == 0).alias("is_anomaly"),
        )

    # days 1-2 (10-min cadence, 288 rows spans 2 days)
    catalog.create_table(name, series(1, 288))
    r1 = catalog.refresh_rollup(name)
    assert len(r1["refreshed_dates"]) == 2

    def full_recompute():
        df = catalog.read_data(name)
        return sorted(
            (str(r["hour"]), r["n_rows"], r["n_anomalies"])
            for r in df.groupBy(F.date_trunc("hour", "timestamp").alias("hour"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
            )
            .collect()
        )

    def rollup_rows():
        return sorted(
            (str(r["hour"]), r["n_rows"], r["n_anomalies"])
            for r in catalog.read_rollup(name).collect()
        )

    assert rollup_rows() == full_recompute()

    # append day 3 only -> exactly one date refreshes; day-1/2 rollup
    # partitions are not rewritten
    rollup_dir = catalog.warehouse / f"_rollup_hour_{name}"
    before = _partition_bytes(rollup_dir)
    catalog.insert_data(name, series(289, 144))
    r2 = catalog.refresh_rollup(name)
    assert r2["refreshed_dates"] == ["2023-11-17"]
    after = _partition_bytes(rollup_dir)
    for part in before:
        if "2023-11-17" not in part:
            assert after[part] == before[part]
    assert rollup_rows() == full_recompute()

    # flag writeback on one day invalidates exactly that day
    ids = spark.createDataFrame([(5,), (6,)], ["id"])
    catalog.update_anomalies(name, ids)
    r3 = catalog.refresh_rollup(name)
    assert r3["refreshed_dates"] == ["2023-11-15"]
    assert rollup_rows() == full_recompute()

    # no-op refresh refreshes nothing
    r4 = catalog.refresh_rollup(name)
    assert r4["refreshed_dates"] == []
    # drop removes the sidecar too
    catalog.drop_table(name)
    assert not rollup_dir.exists()


def test_vacuum_removes_crash_leftovers(spark, catalog):
    """vacuum clears staging/backup debris without touching live data."""
    name = catalog.table_name("vac")
    catalog.create_table(name, _series(spark, 50))
    path = catalog._path(name)
    # plant the three leftover classes a crash can strand
    (catalog.warehouse / (name + ".deadbeef.tmp")).mkdir()
    stray_old = path / ".__date=2023-11-14.old"
    stray_old.mkdir()
    (stray_old / "junk").write_text("x")
    (path / "_temporary").mkdir()

    before = sorted(r["id"] for r in catalog.read_data(name).collect())
    # the age guard protects a CONCURRENT writer's fresh staging dirs:
    # everything just planted is younger than the default threshold
    assert catalog.vacuum() == {"tmp_dirs": 0, "old_backups": 0, "temporary": 0}
    assert list(catalog.warehouse.glob("*.tmp"))
    # single-writer caller (min_age 0) reclaims the debris
    removed = catalog.vacuum(min_age_seconds=0)
    assert removed == {"tmp_dirs": 1, "old_backups": 1, "temporary": 1}
    assert not list(catalog.warehouse.glob("*.tmp"))
    assert not list(path.glob(".__date=*.old"))
    assert sorted(r["id"] for r in catalog.read_data(name).collect()) == before
    # idempotent
    assert catalog.vacuum(min_age_seconds=0) == {
        "tmp_dirs": 0,
        "old_backups": 0,
        "temporary": 0,
    }


def test_expire_partitions_retention(spark, catalog):
    # 4 rows/day across 25 days
    df = spark.range(0, 100).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 21600).alias("timestamp"),
        (F.col("id") * 1.5).alias("v1"),
        F.lit(0).alias("label"),
        F.lit(False).alias("injected_anomaly"),
        F.lit(False).alias("is_anomaly"),
    )
    name = catalog.table_name("ttl")
    catalog.create_table(name, df)
    dates = sorted(
        r["d"] for r in
        df.select(F.to_date("timestamp").alias("d")).distinct().collect()
    )
    cutoff = str(dates[10])

    out = catalog.expire_partitions(name, cutoff)
    assert out["partitions_dropped"] == 10
    kept = catalog.read_data(name)
    # exactly the rows at/after the cutoff survive; expired dates are gone
    expected = df.filter(F.to_date("timestamp") >= F.lit(cutoff).cast("date"))
    assert kept.count() == expected.count()
    assert sorted(r["id"] for r in kept.select("id").collect()) == sorted(
        r["id"] for r in expected.select("id").collect()
    )
    min_left = kept.agg(F.min(F.to_date("timestamp")).alias("d")).collect()[0]["d"]
    assert str(min_left) == cutoff

    # idempotent; no tombstones left behind for vacuum to chase
    assert catalog.expire_partitions(name, cutoff)["partitions_dropped"] == 0
    p = catalog._path(name)
    assert not list(p.glob(".__date=*.expired"))


def test_list_all_tables_during_concurrent_drop(catalog):
    """get-all-jobs may run while cancel-job drops a table: a table half
    deleted is simply not listed, the scan does not raise."""
    import shutil
    import threading

    for trial in range(20):
        table = catalog.warehouse / "job_batch_x"
        for d in range(20):
            (table / f"__date={d}").mkdir(parents=True)
            for k in range(5):
                (table / f"__date={d}" / f"part-{k}.parquet").write_text("x")
        drop = threading.Thread(target=shutil.rmtree, args=(table,))
        drop.start()
        try:
            while drop.is_alive():
                assert catalog.list_all_tables() in ([], ["job_batch_x"])
        finally:
            drop.join(30)
        assert not drop.is_alive()
