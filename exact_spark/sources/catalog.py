"""Job-table catalog (SURVEY.md §2.1: S4-S12).

The reference stores one TimescaleDB hypertable per job with name prefixes
``job_batch_`` / ``job_stream_`` driving discovery (engine.py:41-42,
timescaledb_api.py:94-104). The Spark-native equivalent is a parquet table
per job under a warehouse prefix, partitioned by UTC date of the time axis
(the hypertable time-partitioning analog -> partition pruning for S7
time-range reads).

Flag writeback (S8) replaces the reference's one-row-at-a-time UPDATE loop
(timescaledb_api.py:238-274) with a set-oriented join + atomic directory
swap — the plain-parquet equivalent of a Delta MERGE. Jobs do not use it:
they write final flags at create (a batch job writes its table once, after
detection; the stream sink appends scored rows). S8 is the operator the
``catalog_lifecycle`` query shows.
"""

from __future__ import annotations

import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exact_spark.sources.ingest import FLAG_COLS

BATCH_PREFIX = "job_batch_"
STREAM_PREFIX = "job_stream_"


class JobCatalog:
    """Filesystem-backed job-table catalog (works the same on a local disk
    and an object store)."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse = Path(warehouse_dir)
        self.warehouse.mkdir(parents=True, exist_ok=True)

    # -- naming (api.py:27) --------------------------------------------------
    def table_name(self, job_name: str, stream: bool = False) -> str:
        return (STREAM_PREFIX if stream else BATCH_PREFIX) + job_name

    def _path(self, table_name: str) -> Path:
        return self.warehouse / table_name

    # -- S4: create ----------------------------------------------------------
    def create_table(self, table_name: str, df: DataFrame) -> str | None:
        """Create + populate; no-op if the table exists (timescaledb_api.py:25-122).

        Partitioned by UTC date of ``timestamp`` — the hypertable analog.
        """
        if self.table_exists(table_name):
            return None
        # cluster by the partition column first: otherwise every task
        # writes a sliver into every date directory (n_tasks x n_dates
        # small files — the classic partitioned-write mistake at scale)
        out = df.withColumn("__date", F.to_date("timestamp")).repartition("__date")
        out.write.partitionBy("__date").parquet(str(self._path(table_name)))
        return table_name

    # -- S5/S6: append (Spark writes partitions in parallel natively) --------
    def insert_data(self, table_name: str, df: DataFrame) -> None:
        df.withColumn("__date", F.to_date("timestamp")).write.mode("append").partitionBy(
            "__date"
        ).parquet(str(self._path(table_name)))

    # -- S7: time-range scan -------------------------------------------------
    def read_data(
        self, table_name: str, from_time=None, to_time=None
    ) -> DataFrame:
        """SELECT * WHERE timestamp >= f [AND <= t] (timescaledb_api.py:152-174).

        Time bounds are applied to BOTH the ``__date`` partition column
        (directory pruning — only the matching date partitions are listed
        and scanned; the hypertable chunk-exclusion analog) and the exact
        ``timestamp`` column within the surviving partitions.
        """
        df = self.spark.read.parquet(str(self._path(table_name)))
        if from_time is not None:
            df = df.filter(
                (F.col("__date") >= F.to_date(F.lit(from_time)))
                & (F.col("timestamp") >= F.lit(from_time))
            )
        if to_time is not None:
            df = df.filter(
                (F.col("__date") <= F.to_date(F.lit(to_time)))
                & (F.col("timestamp") <= F.lit(to_time))
            )
        return df.drop("__date")

    # -- S8: flag writeback (MERGE-equivalent, partition-scoped) -------------
    def update_anomalies(self, table_name: str, anomaly_ids: DataFrame) -> int:
        """Set is_anomaly=true for the given ids (column ``id``) and return
        how many rows were newly flipped.

        MERGE-style partition-scoped rewrite: a column-pruned (id, __date)
        scan locates the date partitions that actually contain matching ids,
        only those partitions are re-joined and rewritten, and each rewritten
        date directory is swapped in with an atomic rename. Partitions with
        no matching id are never read in full and never rewritten — at scale
        a 0.1% flag update touches ~0.1% of the table, not 100% (the Delta/
        Iceberg MERGE equivalent on plain parquet).

        No job calls it: jobs write their final flags at create. It is the
        S8 operator ``catalog_lifecycle`` shows.
        """
        path = self._path(table_name)
        # recover from a previous crashed run before Spark lists the table:
        # a stray swap leftover ('.…​.old' backup dir or sibling '.tmp'
        # staging dir) must not survive into partition discovery or a rename
        # collision below
        for leftover in list(path.glob(".*.old")) + list(
            path.parent.glob(path.name + ".*.tmp")
        ):
            shutil.rmtree(leftover, ignore_errors=True)
        # cache: the id set participates in two jobs (locating scan +
        # rewrite join); without it the caller's lineage — often a scoring
        # pipeline — would re-execute per job
        ids = anomaly_ids.select(F.col("id").alias("__match_id")).distinct().cache()
        df = self.spark.read.parquet(str(path))

        # 1. which date partitions hold ids to flip (and how many rows are
        #    actually newly flipped)? One column-pruned broadcast-join scan.
        hits = (
            df.select("id", "is_anomaly", "__date")
            .join(F.broadcast(ids), df.id == F.col("__match_id"))
            .groupBy("__date")
            .agg(F.sum(F.when(~F.col("is_anomaly"), 1).otherwise(0)).alias("n_new"))
            .collect()
        )
        hit_dates = [r["__date"] for r in hits]
        n_new = int(sum(r["n_new"] for r in hits))
        if not hit_dates:
            ids.unpersist()
            return 0

        # 2. rewrite ONLY the affected partitions
        affected = df.filter(F.col("__date").isin(hit_dates))
        updated = (
            affected.join(F.broadcast(ids), affected.id == F.col("__match_id"), "left")
            .withColumn(
                "is_anomaly",
                F.when(F.col("__match_id").isNotNull(), F.lit(True)).otherwise(
                    F.col("is_anomaly")
                ),
            )
            .drop("__match_id")
        )
        tmp = path.with_name(path.name + "." + uuid.uuid4().hex[:8] + ".tmp")
        updated.repartition("__date").write.partitionBy("__date").parquet(str(tmp))
        self._swap_partitions(path, tmp, [f"__date={d}" for d in hit_dates])
        ids.unpersist()
        return n_new

    @staticmethod
    def _swap_partitions(path: Path, tmp: Path, parts: list[str]) -> None:
        """Per-partition atomic directory swap from a staged rewrite. The
        backup name starts with '.' so Spark's file listing ignores it if a
        crash strands it mid-loop, and any pre-existing leftover is removed
        first so the rename can't collide."""
        for part in parts:
            src, dst = tmp / part, path / part
            old = path / ("." + part + ".old")
            shutil.rmtree(old, ignore_errors=True)
            if dst.exists():
                dst.rename(old)
            src.rename(dst)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp)

    # -- maintenance: small-file compaction (extension) ----------------------
    def compact_table(
        self,
        table_name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
    ) -> dict:
        """Bin-pack each date partition's files toward ``target_file_bytes``.

        Streaming appends (one file set per micro-batch) and fine-grained
        writebacks accrete small files; at scale the per-file open/footer
        cost comes to dominate scans long before data volume does. This
        rewrites ONLY partitions whose file count exceeds the bin-packed
        target (``ceil(bytes / target)``), coalescing each to that count,
        and swaps the rewritten directories in atomically — readers never
        see a partial partition, and untouched partitions are never read
        or rewritten (same MERGE-style scoping as ``update_anomalies``).

        Reader isolation caveat (inherent to plain parquet, applies to
        ``update_anomalies`` too): the swap is atomic at the directory
        level, but a reader that listed files BEFORE the swap and reads
        them after will hit FILE_NOT_EXIST and must retry. Snapshot
        isolation across a rewrite needs a manifest layer (Delta/Iceberg)
        — at scale, run maintenance in a reader quiesce window or behind
        a retrying read path.

        Returns ``{partitions_compacted, files_before, files_after}``.
        """
        import math

        path = self._path(table_name)
        plan: dict[str, int] = {}
        files_before = files_after = 0
        for part_dir in sorted(path.glob("__date=*")):
            files = list(part_dir.glob("*.parquet"))
            files_before += len(files)
            target = max(1, math.ceil(sum(f.stat().st_size for f in files) / target_file_bytes))
            if len(files) > target and len(files) >= min_files:
                plan[part_dir.name] = target
                files_after += target
            else:
                files_after += len(files)
        if not plan:
            return {"partitions_compacted": 0, "files_before": files_before,
                    "files_after": files_before}

        tmp = path.with_name(path.name + "." + uuid.uuid4().hex[:8] + ".tmp")
        dates = [p.split("=", 1)[1] for p in plan]
        df = self.spark.read.parquet(str(path)).filter(F.col("__date").isin(dates))
        # one output file per (date, bucket): repartition on a composite key
        # so every partition's rows land in exactly `target` writer tasks —
        # a plain coalesce would serialize the whole rewrite into one task
        buckets = {d: n for d, n in zip(dates, plan.values())}
        bucket_n = F.create_map(
            *[x for d, n in buckets.items() for x in (F.lit(d), F.lit(n))]
        )[F.col("__date").cast("string")]
        df = (
            df.withColumn("__bucket", (F.crc32(F.col("id").cast("string")) % bucket_n))
            .repartition("__date", "__bucket")
            .drop("__bucket")
        )
        df.write.partitionBy("__date").parquet(str(tmp))
        self._swap_partitions(path, tmp, list(plan))
        return {"partitions_compacted": len(plan), "files_before": files_before,
                "files_after": files_after}

    # -- maintenance: incremental hourly rollup (continuous-aggregate analog)
    def refresh_rollup(self, table_name: str) -> dict:
        """Incrementally maintain an hourly rollup sidecar of a job table —
        the TimescaleDB continuous-aggregate analog on plain parquet.

        Per (date, hour): row count, anomaly count, injected count. State
        is a per-date-partition content fingerprint (file names + sizes)
        stored beside the rollup; a refresh recomputes ONLY dates whose
        fingerprint changed or appeared since the last refresh and swaps
        just those rollup partitions in atomically. Appends, flag
        writebacks and compactions all invalidate exactly the dates they
        touched — at scale a refresh after a day's ingest reads one day,
        not the table. (Compaction rewrites change the fingerprint but not
        the data; the rollup recompute is then a no-op-sized date scan —
        correct, merely redundant, and avoided by compacting before
        refreshing.)

        Returns ``{refreshed_dates, rollup_rows}``.
        """
        import json

        src = self._path(table_name)
        dst = self.warehouse / f"_rollup_hour_{table_name}"
        meta_file = dst / "_rollup_meta.json"

        def fingerprint(part_dir: Path) -> str:
            return ";".join(
                f"{f.name}:{f.stat().st_size}"
                for f in sorted(part_dir.glob("*.parquet"))
            )

        current = {
            p.name.split("=", 1)[1]: fingerprint(p)
            for p in src.glob("__date=*")
        }
        seen = json.loads(meta_file.read_text()) if meta_file.exists() else {}
        changed = sorted(d for d, fp in current.items() if seen.get(d) != fp)
        stale = sorted(d for d in seen if d not in current)
        for d in stale:  # dropped source partitions drop their rollup
            shutil.rmtree(dst / f"__date={d}", ignore_errors=True)
        if changed:
            df = self.spark.read.parquet(str(src)).filter(
                F.col("__date").isin(changed)
            )
            agg = (
                df.groupBy("__date", F.date_trunc("hour", "timestamp").alias("hour"))
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
                    F.sum(F.col("injected_anomaly").cast("long")).alias("n_injected"),
                )
            )
            tmp = dst.with_name(dst.name + "." + uuid.uuid4().hex[:8] + ".tmp")
            dst.mkdir(parents=True, exist_ok=True)
            agg.repartition("__date").write.partitionBy("__date").parquet(str(tmp))
            # a changed date with rows landed in tmp; a changed-to-empty date
            # has no tmp dir — remove its rollup partition outright
            written = {p.name for p in tmp.glob("__date=*")}
            swap = [p for p in (f"__date={d}" for d in changed) if p in written]
            for p in (f"__date={d}" for d in changed):
                if p not in written:
                    shutil.rmtree(dst / p, ignore_errors=True)
            self._swap_partitions(dst, tmp, swap)
        dst.mkdir(parents=True, exist_ok=True)
        meta_file.write_text(json.dumps(current))
        rollup_rows = (
            self.spark.read.parquet(str(dst)).count()
            if any(dst.glob("__date=*"))
            else 0
        )
        return {"refreshed_dates": changed, "rollup_rows": rollup_rows}

    def read_rollup(self, table_name: str) -> DataFrame:
        return self.spark.read.parquet(
            str(self.warehouse / f"_rollup_hour_{table_name}")
        ).drop("__date")

    # -- maintenance: vacuum crash leftovers ---------------------------------
    def vacuum(self, min_age_seconds: float = 3600.0) -> dict:
        """Remove swap/staging debris a crashed maintenance run can strand:
        ``<table>.<uuid>.tmp`` staging dirs, ``.__date=*.old`` swap
        backups, and Spark ``_temporary`` output dirs. Every leftover
        class is already invisible to readers (dot-prefixed or
        underscore-prefixed names are ignored by Spark's file listing;
        ``.tmp`` dirs fail the table-name prefix filter), so vacuum is
        about reclaiming space and keeping the atomic-rename paths clear,
        not correctness. Live tables are never touched.

        ``min_age_seconds`` guards against a CONCURRENT maintenance run:
        a staging dir younger than the threshold may be another writer's
        in-flight compact/writeback, so only debris older than it is
        eligible (a crash leftover only gets older). Pass 0 only when the
        caller owns the single-writer guarantee.
        """
        cutoff = time.time() - min_age_seconds

        def _stale(p: Path) -> bool:
            try:
                return p.stat().st_mtime <= cutoff
            except OSError:  # vanished mid-scan: another vacuum got it
                return False

        removed = {"tmp_dirs": 0, "old_backups": 0, "temporary": 0}
        for p in list(self.warehouse.glob("*.tmp")):
            if not _stale(p):
                continue
            shutil.rmtree(p, ignore_errors=True)
            removed["tmp_dirs"] += 1
        for table in self.warehouse.iterdir():
            if not table.is_dir():
                continue
            for old in table.glob(".__date=*.old"):
                if not _stale(old):
                    continue
                shutil.rmtree(old, ignore_errors=True)
                removed["old_backups"] += 1
            tmp = table / "_temporary"
            if tmp.exists() and _stale(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
                removed["temporary"] += 1
        return removed

    # -- maintenance: retention / TTL expiry (extension) ---------------------
    def expire_partitions(self, table_name: str, older_than_date: str) -> dict:
        """Drop every date partition strictly OLDER than
        ``older_than_date`` (``YYYY-MM-DD``) — the retention-policy
        operator a time-series warehouse runs on schedule (TimescaleDB's
        ``drop_chunks`` analog; the reference has no retention at all and
        grows forever). Deletion is per-partition-directory: each dir is
        renamed to a dot-prefixed tombstone FIRST (invisible to Spark's
        listing at that instant, same trick as _swap_partitions) and then
        removed, so a reader never sees a half-deleted partition, and a
        crash strands only invisible tombstones that vacuum() reclaims.
        Hot partitions are never listed, opened, or rewritten — expiring
        a year from a 100 TB table touches only the expired dirs'
        metadata. Idempotent: re-running with the same cutoff is a no-op.
        Returns ``{partitions_dropped, cutoff}``."""
        path = self._path(table_name)
        dropped = 0
        for part_dir in sorted(path.glob("__date=*")):
            d = part_dir.name.split("=", 1)[1]
            if d < older_than_date:
                tomb = path / ("." + part_dir.name + ".expired")
                shutil.rmtree(tomb, ignore_errors=True)
                part_dir.rename(tomb)
                shutil.rmtree(tomb, ignore_errors=True)
                dropped += 1
        # expired data must leave the rollup sidecar too: stale hourly
        # cells would resurrect dropped days in aggregate reads
        rollup = self.warehouse / f"_rollup_hour_{table_name}"
        if dropped and rollup.exists():
            shutil.rmtree(rollup, ignore_errors=True)
        return {"partitions_dropped": dropped, "cutoff": older_than_date}

    # -- S9: drop ------------------------------------------------------------
    def drop_table(self, table_name: str) -> bool:
        p = self._path(table_name)
        shutil.rmtree(self.warehouse / f"_rollup_hour_{table_name}", ignore_errors=True)
        if p.exists():
            shutil.rmtree(p)
            return True
        return False

    # -- S10: exists ---------------------------------------------------------
    def table_exists(self, table_name: str) -> bool:
        """True only once the table has a COMMITTED write.

        A bare directory check races with Spark's output committer: the
        table dir (and ``_temporary``) exist for the whole duration of the
        first write, and a concurrent reader that trusts the dir would hit
        UNABLE_TO_INFER_SCHEMA. ``_SUCCESS`` is the commit marker; the
        parquet-file fallback covers tables written with the marker
        disabled.
        """
        p = self._path(table_name)
        if not p.exists():
            return False
        if (p / "_SUCCESS").exists():
            return True
        # Only parquet files in VISIBLE directories count: a file under
        # _temporary/ is an uncommitted task attempt (the race this probe
        # exists to close) and one under .__date=*.old is crash debris.
        # Partition dirs (__date=...) are underscore-prefixed but visible —
        # the '=' tells them apart from committer/metadata dirs.
        def _visible(part: str) -> bool:
            if part.startswith("."):
                return False
            return not (part.startswith("_") and "=" not in part)

        try:
            files = p.rglob("*.parquet")
            return any(all(_visible(part) for part in f.relative_to(p).parts) for f in files)
        except FileNotFoundError:  # a concurrent drop_table is deleting it
            return False

    # -- S11: columns minus flags (timescaledb_api.py:232-233) ---------------
    def get_columns(self, table_name: str) -> list[str]:
        df = self.spark.read.parquet(str(self._path(table_name)))
        return [c for c in df.columns if c not in FLAG_COLS and c != "__date"]

    # -- S12: catalog scan by prefix (timescaledb_api.py:276-295) ------------
    def list_all_tables(self) -> list[str]:
        return sorted(
            p.name
            for p in self.warehouse.iterdir()
            if p.is_dir()
            and (p.name.startswith(BATCH_PREFIX) or p.name.startswith(STREAM_PREFIX))
            and not p.name.endswith(".tmp")
            and self.table_exists(p.name)  # committed writes only (see S10)
        )


# ---------------------------------------------------------------------------
# Driver-visible catalog lifecycle demo (rows-only: filesystem side effects
# are not SQL-expressible for the DuckDB oracle).
from exact_spark.registry import register  # noqa: E402


@register(
    "catalog_lifecycle",
    sql=None,
    doc="S4-S12 + J2/S8 e2e: create a job_batch_ table from the canonical "
    "events series (date-partitioned parquet = hypertable analog), "
    "time-range read with partition pruning (S7), set-oriented flag "
    "writeback join replacing the reference's per-row UPDATE loop "
    "(timescaledb_api.py:238-274), catalog listing + column probe with "
    "flag columns hidden (timescaledb_api.py:216-235), drop.",
)
def catalog_lifecycle(spark: SparkSession, sf_dir: str):
    import pathlib
    import tempfile

    from exact_spark.operators.timeseries import canonical_events

    work = pathlib.Path(tempfile.mkdtemp(prefix="exact_spark_catalog_"))
    try:
        cat = JobCatalog(spark, str(work))
        table = cat.table_name("lifecycle_demo")  # S4 naming contract
        canon = canonical_events(spark, sf_dir)
        # bound the DEMO table to the first 4 days of the series — the
        # lifecycle surface (create/list/read/update/drop) is what's under
        # test, not write volume
        t_lo = canon.agg(F.min("ts_epoch")).collect()[0][0]
        df = canon.filter(F.col("ts_epoch") < t_lo + 4 * 86400.0).select(
            "id",
            F.timestamp_seconds(F.col("ts_epoch")).alias("timestamp"),
            "value",
            "label",
            F.lit(False).alias("injected_anomaly"),
            F.lit(False).alias("is_anomaly"),
        )
        cat.create_table(table, df)  # S4+S5

        listed = cat.list_all_tables()  # S12
        cols = cat.get_columns(table)  # S11 (flags hidden)

        # S8/J2: flag the P95 outliers of the FIRST DAY via one
        # set-oriented writeback — a time-localized flag set, so the
        # partition-scoped MERGE rewrites only the touched date partitions
        # (the realistic shape: a detector flags a recent window, not
        # uniformly across all of history). Everything derived from the
        # pre-update file listing must be evaluated BEFORE update_anomalies
        # swaps the rewritten directories.
        stored = cat.read_data(table)
        import datetime as _dt

        # series start is already known from the bounding scan above
        t0 = _dt.datetime.fromtimestamp(t_lo, _dt.timezone.utc).replace(tzinfo=None)
        t_hi = t0 + _dt.timedelta(days=1)
        recent = stored.filter(F.col("timestamp") < F.lit(t_hi))
        thr = recent.agg(F.percentile(F.col("value"), F.lit(0.95)).alias("t"))
        ids = (
            recent.crossJoin(F.broadcast(thr))
            .filter(F.col("value") > F.col("t"))
            .select("id")
        )
        n_updated = cat.update_anomalies(table, ids)

        # S7: time-range read back over the partition-pruned table
        ranged = cat.read_data(table, from_time=t0)
        n_flagged = ranged.filter(F.col("is_anomaly")).count()

        # maintenance extensions: bin-pack the rewritten partitions, then
        # refresh the hourly continuous-aggregate sidecar incrementally
        compaction = cat.compact_table(table)
        rollup = cat.refresh_rollup(table)

        row = {
            "table_name": table,
            "n_tables_listed": len(listed),
            "n_visible_columns": len(cols),
            "flags_hidden": all(c not in cols for c in FLAG_COLS),
            "n_updated": int(n_updated),
            "n_flagged_readback": int(n_flagged),
            "n_compacted_partitions": int(compaction["partitions_compacted"]),
            "rollup_rows": int(rollup["rollup_rows"]),
            "dropped": cat.drop_table(table),  # S9
        }
        return spark.createDataFrame(
            [row],
            schema="table_name string, n_tables_listed long, "
            "n_visible_columns long, flags_hidden boolean, n_updated long, "
            "n_flagged_readback long, n_compacted_partitions long, "
            "rollup_rows long, dropped boolean",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "catalog_partition_stats",
    sql=None,  # file-layout introspection has no SQL-visible oracle surface
    doc="Partition-level small-files report over the materialized canonical "
    "table — the measured INPUT to compact_table's decision (the report "
    "states, per date partition, exactly what the compactor would do "
    "with its default target, using the same ceil(bytes/target) "
    "bin-packing rule — the two can never disagree). Scale shape: "
    "per-file row counts come from ONE distributed scan grouped by "
    "input_file_name(); file sizes are a driver-side listing of "
    "filesystem metadata (names+bytes only — never data) broadcast into "
    "the join. Output is |partitions| rows.",
)
def catalog_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import pathlib

    from exact_spark.operators.timeseries import canonical_table_path

    target_file_bytes = 128 * 1024 * 1024  # compact_table's default
    base = pathlib.Path(canonical_table_path(spark, sf_dir))

    # driver-side FS metadata (the same listing compact_table plans from)
    sizes = [
        (f"file://{p}", p.stat().st_size)  # input_file_name() URI form; as_uri() would %-encode '='
        for p in base.rglob("*.parquet")
        if not any(part.startswith(("_", ".")) and "=" not in part for part in p.parts)
    ]
    sizes_df = spark.createDataFrame(sizes, "file_name string, file_bytes long")

    per_file = (
        spark.read.parquet(str(base))
        .select("__date", F.input_file_name().alias("file_name"))
        .groupBy("__date", "file_name")
        .agg(F.count(F.lit(1)).alias("file_rows"))
    )
    per_part = (
        per_file.join(F.broadcast(sizes_df), "file_name", "left")
        .groupBy(F.col("__date").cast("string").alias("partition"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("file_rows").cast("long").alias("n_rows"),
            F.sum("file_bytes").cast("long").alias("total_bytes"),
            F.min("file_rows").cast("long").alias("min_file_rows"),
            F.max("file_rows").cast("long").alias("max_file_rows"),
        )
    )
    target_files = F.greatest(
        F.lit(1),
        F.ceil(F.col("total_bytes").cast("double") / F.lit(float(target_file_bytes))).cast("long"),
    )
    return per_part.select(
        "partition",
        "n_files",
        "n_rows",
        "total_bytes",
        "min_file_rows",
        "max_file_rows",
        target_files.alias("target_files"),
        (F.col("n_files") > target_files).alias("needs_compaction"),
    )


@register(
    "catalog_retention_expire",
    # the retained set is a PURE function of the canonical series: the demo
    # table holds the first 4 x 86400 s of canon, partitions are UTC dates
    # (day_idx = floor(ts_epoch/86400)), the cutoff is date(min)+2 days —
    # so before/dropped/after are all SQL-expressible, and the two
    # invariant columns (exactness, idempotence) are literal TRUE/0
    sql=f"""
    WITH canon AS ({{canon}}),
    lo AS (SELECT MIN(ts_epoch) AS lo FROM canon),
    b AS (
        SELECT CAST(FLOOR(ts_epoch / 86400.0) AS BIGINT) AS day_idx
        FROM canon, lo WHERE ts_epoch < lo.lo + 4 * 86400.0
    ),
    cut AS (SELECT CAST(FLOOR(lo.lo / 86400.0) AS BIGINT) + 2 AS cut_day FROM lo)
    SELECT CAST(count(*) AS BIGINT) AS n_rows_before,
           CAST((SELECT count(DISTINCT day_idx) FROM b, cut
                 WHERE day_idx < cut_day) AS BIGINT) AS n_partitions_dropped,
           CAST((SELECT count(*) FROM b, cut
                 WHERE day_idx >= cut_day) AS BIGINT) AS n_rows_after,
           TRUE AS retained_rows_exact,
           CAST(0 AS BIGINT) AS second_expire_dropped
    FROM b
    """.format(canon=__import__("exact_spark.operators.timeseries", fromlist=["CANON_SQL"]).CANON_SQL),
    doc="Retention/TTL lifecycle e2e: create a bounded date-partitioned "
    "demo table, expire partitions older than a cutoff via the "
    "tombstone-rename path (TimescaleDB drop_chunks analog — the "
    "reference grows forever), and prove the post-expiry read serves "
    "exactly the retained rows with the expired dirs gone and a second "
    "expire a no-op (idempotence). Summary row only — bounded demo "
    "volume, the lifecycle is what is under test.",
)
def catalog_retention_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pathlib
    import tempfile

    from exact_spark.operators.timeseries import canonical_events

    work = pathlib.Path(tempfile.mkdtemp(prefix="exact_spark_retention_"))
    try:
        cat = JobCatalog(spark, str(work))
        table = cat.table_name("retention_demo")
        canon = canonical_events(spark, sf_dir)
        t_lo = canon.agg(F.min("ts_epoch")).collect()[0][0]
        df = canon.filter(F.col("ts_epoch") < t_lo + 4 * 86400.0).select(
            "id",
            F.timestamp_seconds(F.col("ts_epoch")).alias("timestamp"),
            "value",
            "label",
            F.lit(False).alias("injected_anomaly"),
            F.lit(False).alias("is_anomaly"),
        )
        cat.create_table(table, df)
        n_before = cat.read_data(table).count()

        import datetime as _dt

        cutoff = (
            _dt.datetime.fromtimestamp(t_lo, _dt.timezone.utc) + _dt.timedelta(days=2)
        ).strftime("%Y-%m-%d")
        first = cat.expire_partitions(table, cutoff)
        n_after = cat.read_data(table).count()
        n_expected = df.filter(
            F.to_date("timestamp") >= F.lit(cutoff).cast("date")
        ).count()
        again = cat.expire_partitions(table, cutoff)  # idempotence
        return spark.createDataFrame(
            [
                (
                    int(n_before),
                    int(first["partitions_dropped"]),
                    int(n_after),
                    bool(n_after == n_expected),
                    int(again["partitions_dropped"]),
                )
            ],
            "n_rows_before long, n_partitions_dropped long, n_rows_after long, "
            "retained_rows_exact boolean, second_expire_dropped long",
        )
    finally:
        import shutil as _sh

        _sh.rmtree(work, ignore_errors=True)
