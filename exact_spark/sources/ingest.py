"""File ingest + canonicalization (SURVEY.md §1.3, §2.1 S1-S6, §2.2 P1-P5).

Mirrors the reference's BatchImporter.start_simulation canonicalization
(Backend/Simulator/BatchImport/batchimport.py:171-409):

1. drop ``Unnamed:*`` columns (batchimport.py:198)
2. rename user time/label columns to canonical ``timestamp``/``label``
   (batchimport.py:202-210)
3. timestamp coercion (batchimport.py:214-244): numeric => Unix seconds
   UTC; strings parsed; NaT/unparseable rows dropped
4. label coercion (batchimport.py:253-274): 'true'/'false' (any case),
   bool, 1/1.0, 0/0.0 -> {1,0}; anything else -> 0
5. global time sort + dense ``id`` (batchimport.py:281; id contract from
   Database/timescaledb_api.py:69)
6. add ``injected_anomaly=false``, ``is_anomaly=false``
   (batchimport.py:365-366)

The reference materializes the whole file in pandas; here everything is a
DataFrame transform. Dense-id synthesis is the one global-order operation:
``with_dense_id`` does it scale-safely — range-repartition by the ordering
key, per-partition local row_number (no global shuffle to one partition),
plus a tiny driver-side prefix-sum of partition counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

FLAG_COLS = ("is_anomaly", "injected_anomaly")


def read_file(spark: SparkSession, path: str) -> DataFrame:
    """S1/S3: CSV or record-oriented JSON scan, header-inferred schema
    (read_csv.py:7-15, read_json.py:7-15)."""
    if path.endswith(".json"):
        return spark.read.json(path)
    return spark.read.csv(path, header=True, inferSchema=True)


def get_file_columns(spark: SparkSession, path: str) -> list[str]:
    """S2: header probe (read_csv.py:17-23)."""
    return read_file(spark, path).schema.fieldNames()


def _coerce_timestamp(df: DataFrame, col: str) -> DataFrame:
    """P3 (batchimport.py:214-244): numeric -> epoch seconds; strings ->
    parsed timestamps; unparseable -> null (dropped by caller)."""
    dtype = dict(df.dtypes)[col]
    c = F.col(col)
    if dtype in ("bigint", "int", "double", "float", "decimal"):
        ts = F.timestamp_seconds(c.cast("double"))
    elif dtype.startswith("timestamp"):
        ts = c.cast("timestamp")
    else:
        # try_to_timestamp: unparseable strings -> null, like pd NaT
        ts = F.coalesce(
            F.try_to_timestamp(c),
            F.timestamp_seconds(c.try_cast("double")),
        )
    return df.withColumn(col, ts)


def _coerce_label(df: DataFrame, col: str) -> DataFrame:
    """P4 (batchimport.py:253-274): truthy forms -> 1, falsy -> 0,
    anything else -> 0."""
    c = F.col(col).cast("string")
    lowered = F.lower(F.trim(c))
    as_num = c.try_cast("double")
    lab = (
        F.when(lowered == "true", 1)
        .when(lowered == "false", 0)
        .when(as_num == 1.0, 1)
        .otherwise(0)
    )
    return df.withColumn(col, lab.cast("int"))


def with_dense_id(
    df: DataFrame, order_cols: list[str], id_col: str = "id", num_partitions: int | None = None
) -> DataFrame:
    """Dense 1-based id following the global ordering, without a
    single-partition global sort.

    Two jobs, both DETERMINISTIC BY VALUE so they cannot disagree:

    1. bucket boundaries = approx-quantile cut points of the primary order
       key, collected once and baked into the plan as literals. (A plain
       ``repartitionByRange`` re-SAMPLES boundaries on every action — the
       count job and the assignment job would see different partitions,
       which silently duplicates/drops ids.)
    2. per-bucket counts -> driver prefix sum (one tiny row per bucket);
       id = bucket offset + row_number within the bucket.

    The in-bucket order appends a whole-row hash tie-break so the order is
    total: rows with equal keys are either distinguishable (hash differs)
    or fully identical (any assignment yields the same table). Survives
    100 TB: driver state is `num_partitions` doubles + counts.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    primary = order_cols[0]
    pc = F.col(primary)
    if dict(df.dtypes)[primary] == "timestamp_ntz":
        pc = pc.cast("timestamp")  # NTZ has no direct double cast
    primary_d = pc.cast("double")

    # total tie-break: whole-row hash (deterministic, partition-independent)
    tie = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns]))
    work = df.withColumn("__pd", primary_d).withColumn("__tie", tie)

    qs = [i / parts for i in range(1, parts)]
    bounds = sorted(set(work.stat.approxQuantile("__pd", qs, 0.001))) if qs else []
    if bounds:
        bucket = sum(
            ((F.col("__pd") > F.lit(b)).cast("int") for b in bounds), F.lit(0)
        )
    else:
        bucket = F.lit(0)
    keyed = work.withColumn("__bkt", bucket)

    counts = {
        r["__bkt"]: r["cnt"]
        for r in keyed.groupBy("__bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("__bkt")
    )
    w = Window.partitionBy("__bkt").orderBy(*order_cols, "__tie")
    return (
        keyed.withColumn(id_col, (offset_expr + F.row_number().over(w)).cast("long"))
        .drop("__pd", "__tie", "__bkt")
    )


def canonicalize(
    df: DataFrame,
    time_col: str,
    label_col: str | None = None,
    positional: bool = False,
) -> DataFrame:
    """Full P1-P5 canonicalization to the EXACT job-table schema.

    ``positional=True`` mirrors the stream path's first-column-time /
    last-column-label convention (simulator.py:151-155).
    """
    # P1: Unnamed:* drop
    df = df.drop(*[c for c in df.columns if c.startswith("Unnamed:")])

    # P2: rename to canonical
    if positional:
        cols = df.columns
        time_col, label_col = cols[0], cols[-1]
    if time_col != "timestamp":
        df = df.withColumnRenamed(time_col, "timestamp")
    if label_col is not None and label_col != "label":
        df = df.withColumnRenamed(label_col, "label")

    # P3: timestamp coercion + NaT drop
    df = _coerce_timestamp(df, "timestamp").na.drop(subset=["timestamp"])

    # P4: label coercion
    if label_col is not None:
        df = _coerce_label(df, "label")
    else:
        df = df.withColumn("label", F.lit(0))

    # P5 + id synthesis: global time order -> dense id
    df = with_dense_id(df, ["timestamp"] + [c for c in ("label",) if c in df.columns])

    # flags (batchimport.py:365-366)
    df = df.withColumn("injected_anomaly", F.lit(False)).withColumn(
        "is_anomaly", F.lit(False)
    )
    feature_cols = [
        c for c in df.columns if c not in ("id", "timestamp", "label", *FLAG_COLS)
    ]
    return df.select("id", "timestamp", *feature_cols, "label", "injected_anomaly", "is_anomaly")


def feature_columns(df: DataFrame) -> list[str]:
    """P6 (execute_calls.py:531-544): all columns minus
    {id, timestamp, label, flags} and any timestamp-typed column."""
    excl = {"id", "timestamp", "label", *FLAG_COLS}
    return [
        f.name
        for f in df.schema.fields
        if f.name not in excl and not isinstance(f.dataType, (T.TimestampType, T.DateType))
    ]


# ---------------------------------------------------------------------------
# Driver-visible ingest demo. It reads a file staged at run time, which the
# DuckDB oracle views cannot see — but its output invariants are a pure
# function of the canonical series, so the oracle computes the EXPECTED
# shape from CANON_SQL (timeseries binds this module only after defining
# CANON_SQL, so either import order resolves).
from exact_spark.operators.timeseries import CANON_SQL as _CANON_SQL_REF  # noqa: E402
from exact_spark.registry import register  # noqa: E402


@register(
    "ingest_json_e2e",
    # The roundtrip's invariants are a deterministic function of the
    # canonical series: the 2000-row sample re-canonicalizes to dense ids
    # 1..2000 with the same label mass, so the oracle computes the expected
    # shape directly from CANON_SQL — the ingest path is hash-checked.
    sql="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id,
           CAST(count(DISTINCT id) AS BIGINT) AS n_distinct_ids,
           CAST(SUM(label) AS BIGINT) AS n_labeled, 'v' AS feature_cols
    FROM ({canon}) WHERE id <= 2000
    """.format(canon=_CANON_SQL_REF),
    doc="S3 + P1-P5 e2e: stage the canonical events sample as "
    "record-oriented JSON (read_json.py:7-15 input shape), ingest with "
    "header-inferred schema, canonicalize (timestamp coercion, label "
    "normalization, dense id), return shape/stat invariants.",
)
def ingest_json_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pathlib
    import shutil
    import tempfile

    from exact_spark.operators.timeseries import canonical_events

    work = pathlib.Path(tempfile.mkdtemp(prefix="exact_spark_ingest_"))
    try:
        sample = (
            canonical_events(spark, sf_dir)
            .filter(F.col("id") <= 2_000)
            .select(
                F.col("ts_epoch").alias("when"),
                F.col("value").alias("v"),
                F.col("label").alias("flag"),
            )
        )
        json_dir = work / "input"
        sample.coalesce(1).write.mode("overwrite").json(str(json_dir))
        json_file = next(str(p) for p in json_dir.glob("*.json"))

        canon = canonicalize(read_file(spark, json_file), time_col="when", label_col="flag")
        agg = canon.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("id").cast("long").alias("min_id"),
            F.max("id").cast("long").alias("max_id"),
            F.countDistinct("id").cast("long").alias("n_distinct_ids"),
            F.sum("label").cast("long").alias("n_labeled"),
        ).collect()[0]
        row = dict(agg.asDict())
        row["feature_cols"] = ",".join(feature_columns(canon))
        return spark.createDataFrame(
            [row],
            schema="n_rows long, min_id long, max_id long, "
            "n_distinct_ids long, n_labeled long, feature_cols string",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
