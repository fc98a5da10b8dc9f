"""Relational analytics over the star schema (joins + aggregations).

The reference has no relational joins (SURVEY §2.5) — correlation is
positional in pandas. These queries are the Spark-native expression of the
implicit joins (J1-J5) plus the aggregate shapes (G1-G8), exercised on the
TPC-H-ish testdata so join strategy / pushdown / partial aggregation are
benchmarkable.

Scale design:
- dimension sides (region/nation/customer/supplier/part) are broadcast —
  no shuffle of the fact table for dim joins
- aggregates are expressed declaratively so Catalyst emits partial
  (map-side) aggregation before the shuffle
- float aggregates use fixed-point (see exact_spark.functions) so results
  are reduction-order independent — also what makes them bit-stable across
  cluster sizes and retries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from exact_spark import io
from exact_spark.functions import SCALE2, favg, fixed, fround, fsum, sql_favg, sql_fixed, sql_fround, sql_fsum
from exact_spark.registry import register


@register(
    "rel_pricing_summary",
    sql=f"""
    SELECT l_returnflag,
           l_linestatus,
           {sql_fsum('l_quantity', SCALE2)} AS sum_qty,
           {sql_fsum('l_extendedprice', SCALE2)} AS sum_base_price,
           {sql_fsum('l_extendedprice * (1.0 - l_discount)', SCALE2)} AS sum_disc_price,
           {sql_fsum('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)', SCALE2)} AS sum_charge,
           {sql_favg('l_quantity', SCALE2)} AS avg_qty,
           {sql_favg('l_extendedprice', SCALE2)} AS avg_price,
           {sql_favg('l_discount', 1000000)} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: scan + pushed filter + partial agg. "
    "Exercises the G1-class multi-aggregate single-pass shape.",
)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    li = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        fsum(F.col("l_quantity"), SCALE2).alias("sum_qty"),
        fsum(F.col("l_extendedprice"), SCALE2).alias("sum_base_price"),
        fsum(disc_price, SCALE2).alias("sum_disc_price"),
        fsum(charge, SCALE2).alias("sum_charge"),
        favg(F.col("l_quantity"), SCALE2).alias("avg_qty"),
        favg(F.col("l_extendedprice"), SCALE2).alias("avg_price"),
        favg(F.col("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_TOP_N = 10


@register(
    "rel_top_customers",
    sql=f"""
    WITH rev AS (
        SELECT o.o_custkey,
               SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * {SCALE2}.0 + 0.5) AS BIGINT)) AS revenue_cents,
               count(*) AS n_lineitems
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    ),
    ranked AS (
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               rev.revenue_cents / {SCALE2}.0 AS revenue,
               rev.n_lineitems,
               row_number() OVER (ORDER BY rev.revenue_cents DESC, c.c_custkey) AS rn
        FROM rev
        JOIN customer c ON rev.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT c_custkey, c_name, nation, revenue, n_lineitems FROM ranked WHERE rn <= {_TOP_N}
    """,
    doc="J1-shaped fact-fact join + dim broadcast + deterministic top-k "
    "(fixed-point revenue makes the ranking reduction-order stable).",
)
def rel_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    orders = io.load(spark, sf_dir, "orders")
    cust = io.load(spark, sf_dir, "customer")
    nation = io.load(spark, sf_dir, "nation")
    rev_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(float(SCALE2))
        + F.lit(0.5)
    ).cast("long")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(rev_cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    joined = rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    w = Window.orderBy(F.col("revenue_cents").desc(), F.col("c_custkey"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_N)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            (F.col("revenue_cents") / F.lit(float(SCALE2))).alias("revenue"),
            "n_lineitems",
        )
    )


@register(
    "rel_region_revenue",
    sql=f"""
    SELECT r.r_name AS region,
           {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="5-way star join rolled up to region. Dim tables broadcast; only the "
    "lineitem->orders join shuffles (and AQE can pick broadcast there too).",
)
def rel_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    orders = io.load(spark, sf_dir, "orders")
    cust = io.load(spark, sf_dir, "customer")
    nation = io.load(spark, sf_dir, "nation")
    region = io.load(spark, sf_dir, "region")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return df.groupBy(F.col("r_name").alias("region")).agg(
        fsum(disc_price, SCALE2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "rel_distinct_two_phase",
    sql=f"""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           {sql_fsum('l_extendedprice * (1.0 - l_discount)', SCALE2)} AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Skew-safe distinct aggregation: l_returnflag has 3 values, so a "
    "naive groupBy lands the whole fact table on 3 reducers. Phase 1 "
    "groups by (flag, suppkey) — the high-cardinality second key is the "
    "salt, spreading the shuffle evenly; phase 2 re-aggregates the tiny "
    "intermediate. Same two-phase shape MinHash/exact-dedup use; the "
    "pattern generalizes to explicit `pmod(hash, k)` salts when no "
    "natural spreading key exists.",
)
def rel_distinct_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    from exact_spark.functions import fixed

    phase1 = li.groupBy("l_returnflag", "l_suppkey").agg(
        F.sum(fixed(rev, SCALE2)).alias("rev_fx")
    )
    return phase1.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        (F.sum("rev_fx") / F.lit(float(SCALE2))).alias("revenue"),
    )


@register(
    "rel_order_priority_smj",
    sql="""
    SELECT o.o_orderpriority,
           count(*) AS n_line_items,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-09-01 00:00:00'
    GROUP BY o.o_orderpriority
    """,
    doc="Fact-fact join on the shuffle path: orders JOIN lineitem with a "
    "merge-join hint — at 100 TB neither side broadcasts, so this is the "
    "sort-merge shape the real plan takes, with the orderdate filter "
    "pushed to the orders scan before the shuffle. Scale path: bucket "
    "both tables by orderkey at write time and the shuffle disappears "
    "entirely (co-located join).",
)
def rel_order_priority_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-09-01 00:00:00").cast("timestamp"))
    )
    li = io.load(spark, sf_dir, "lineitem")
    joined = orders.hint("merge").join(
        li, li["l_orderkey"] == orders["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_line_items"),
        fsum(F.col("l_extendedprice"), SCALE2).alias("total_price"),
    )


# -- bucketed co-located joins (the big-big join scale strategy) -------------
def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.

    Bucketing is the pre-shuffle strategy for REPEATED big-big joins: both
    sides hash-clustered into the same ``n_buckets`` on the join key at
    write time means every subsequent equi-join on that key is co-located
    — the SortMergeJoin reads matching buckets pairwise with NO Exchange
    on either side (and no Sort either, when ``sort_cols`` covers the
    key). At 100 TB this turns the dominant recurring shuffle of a fact-
    fact join into a one-time write-side cost. (Broadcast remains the
    strategy for dim tables — see the rel_* queries; bucketing is for the
    fact-fact case where neither side fits in memory.)
    """
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def salted_join(
    fact: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join for the case AQE can't fix and broadcast
    can't reach: a hot fact key overwhelming one reducer, with a right
    side too large to broadcast.

    The fact side gets a deterministic content-hash salt in [0, n_salt);
    the right side is replicated n_salt ways (explode of a literal range)
    and the join runs on (key, salt) — the hot key's rows spread over
    n_salt reducers instead of one. Cost: the right side shuffles n_salt
    copies, so use it for moderate right sides; the salt is content-keyed
    (not random), so results are deterministic under any partitioning.
    Prefer, in order: broadcast (dim tables), AQE skew-join (enabled in
    tune_session), bucketing (write_bucketed), then salting.
    """
    salt_f = F.pmod(F.hash(F.struct(*[F.col(c) for c in fact.columns])), F.lit(n_salt))
    salted_fact = fact.withColumn("__salt", salt_f)
    salted_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = salted_fact.join(salted_right, on=[key, "__salt"], how=how)
    return out.drop("__salt")


# --- multi-dimension layout: Z-order clustering -----------------------------


def zorder_column(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Morton (Z-order) key over numeric columns: each column maps to a
    ``2^bits``-bucket index over its [min, max] span (one tiny stats agg,
    shipped as literals), and the bucket bits interleave into one long.

    Sorting/range-partitioning by this key clusters rows so that EVERY
    participating column's values are locally contiguous — parquet min/max
    stats then prune files/row-groups for predicates on ANY of the
    columns, where a plain sort only serves its leading column. This is
    the single biggest I/O lever for a 100 TB table queried along more
    than one dimension.
    """
    row = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    n = 1 << bits
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo_v, hi_v = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo_v is None or hi_v is None:
            # empty frame or all-null column: no span to bucket over —
            # everything clusters into the low bucket instead of a
            # TypeError at plan-build time
            bucket = F.lit(0).cast("long")
        else:
            lo, hi = float(lo_v), float(hi_v)
            span = (hi - lo) or 1.0
            bucket = F.coalesce(  # null values cluster into the low bucket
                F.least(
                    F.lit(n - 1).cast("long"),
                    F.floor(
                        (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * n
                    ).cast("long"),
                ),
                F.lit(0).cast("long"),
            )
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1).cast("long"))
            z = z + F.shiftleft(bit, b * len(cols) + ci)
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16, bits: int = 8
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned AND
    sorted by the Z-order key of ``cols`` — each file covers a compact
    hyper-rectangle of the key space, so file- and row-group-level min/max
    skipping works along every clustered dimension."""
    z = zorder_column(df, cols, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


@register(
    "rel_revenue_rollup",
    sql=f"""
    SELECT COALESCE(n.n_name, '<all>') AS nation,
           COALESCE(CAST(year(o.o_orderdate) AS VARCHAR), '<all>') AS order_year,
           CAST(grouping(n.n_name) AS BIGINT) AS g_nation,
           CAST(grouping(year(o.o_orderdate)) AS BIGINT) AS g_year,
           {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, year(o.o_orderdate))
    """,
    doc="OLAP subtotal cube: revenue by (nation, year) with ROLLUP "
    "subtotals and a grand total in ONE pass — Catalyst's Expand operator "
    "replicates each row once per grouping set before a single shuffled "
    "aggregation, versus three separate scans+shuffles for the naive "
    "union-of-aggregates. Dimension joins (customer/nation) broadcast; "
    "grouping() flags disambiguate '<all>' rollup rows from literal "
    "values. Fixed-point revenue so every grouping level hash-matches "
    "the oracle exactly.",
)
def rel_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    orders = io.load(spark, sf_dir, "orders")
    cust = io.load(spark, sf_dir, "customer")
    nation = io.load(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.year("o_orderdate").alias("order_year"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("rev"),
        )
    )
    agg = joined.rollup("n_name", "order_year").agg(
        fsum(F.col("rev")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
        F.grouping("n_name").cast("long").alias("g_nation"),
        F.grouping("order_year").cast("long").alias("g_year"),
    )
    return agg.select(
        F.coalesce(F.col("n_name"), F.lit("<all>")).alias("nation"),
        F.coalesce(F.col("order_year").cast("string"), F.lit("<all>")).alias("order_year"),
        "g_nation",
        "g_year",
        "revenue",
        "n_items",
    )


_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1999-06-30"
_Q3_TOPK = 10


@register(
    "rel_shipping_priority",
    sql=f"""
    SELECT l.l_orderkey,
           {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS revenue,
           CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS orderdate_ms,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{_Q3_SEGMENT}'
      AND o.o_orderdate < TIMESTAMP '{_Q3_DATE} 00:00:00'
      AND l.l_shipdate > TIMESTAMP '{_Q3_DATE} 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT {_Q3_TOPK}
    """,
    doc="TPC-H Q3 shipping priority on this schema: revenue of not-yet-"
    "shipped lineitems for one market segment's pre-cutoff orders, top-10 "
    "by revenue. Plan shape: the segment-filtered CUSTOMER side broadcasts "
    "(selective dimension), orders x lineitem is the one fact shuffle "
    "keyed on the orderkey with BOTH date predicates pushed to the scans, "
    "revenue through the fixed-point kernels, final top-K as distributed "
    "TakeOrderedAndProject — no global sort.",
)
def rel_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    )
    orders = io.load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(f"{_Q3_DATE} 00:00:00").cast("timestamp")
    )
    li = io.load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(f"{_Q3_DATE} 00:00:00").cast("timestamp")
    )
    j = (
        li.join(
            F.broadcast(cust.select("c_custkey"))
            .join(orders, orders.o_custkey == F.col("c_custkey"))
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        fsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), SCALE2).alias(
            "revenue"
        )
    )
    return (
        agg.select(
            "l_orderkey",
            "revenue",
            # NTZ -> LTZ cast is exact under the UTC-pinned session
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(_Q3_TOPK)
    )


_Q14_FROM = "2000-01-01"
_Q14_TO = "2000-07-01"


@register(
    "rel_promo_revenue",
    sql=f"""
    SELECT {sql_fround(
        "100.0 * SUM(CASE WHEN p.p_type = 'PROMO' "
        "THEN CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT) "
        "ELSE 0 END) * 1.0 / "
        "SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT))"
    )} AS promo_revenue_pct,
           {sql_fsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END", SCALE2)} AS promo_revenue,
           {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS total_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '{_Q14_FROM} 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '{_Q14_TO} 00:00:00'
    """,
    doc="TPC-H Q14 promotion effect: PROMO-type revenue share over a "
    "ship-date window. Plan shape: the part dimension broadcasts, the "
    "date range pushes to the lineitem scan, both revenue sums go through "
    "the fixed-point kernels and the percentage is a ratio of the two "
    "exact integer sums — one broadcast join, one scalar aggregate, no "
    "shuffle of fact rows beyond the partial-agg combine.",
)
def rel_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{_Q14_FROM} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{_Q14_TO} 00:00:00").cast("timestamp"))
    )
    part = io.load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
    rev_fx = F.floor(
        F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    promo_fx = F.when(F.col("p_type") == "PROMO", rev_fx).otherwise(F.lit(0).cast("long"))
    agg = j.agg(
        F.sum(promo_fx).alias("promo_fx"),
        F.sum(rev_fx).alias("total_fx"),
    )
    return agg.select(
        fround(
            F.lit(100.0) * F.col("promo_fx") * 1.0 / F.col("total_fx")
        ).alias("promo_revenue_pct"),
        (F.col("promo_fx") / F.lit(100.0)).alias("promo_revenue"),
        (F.col("total_fx") / F.lit(100.0)).alias("total_revenue"),
    )


_Q5_FROM = "1999-01-01"
_Q5_TO = "2000-01-01"


@register(
    "rel_local_supplier_volume",
    sql=f"""
    SELECT n.n_name AS nation,
           {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '{_Q5_FROM} 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '{_Q5_TO} 00:00:00'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 local supplier volume: revenue where the customer and "
    "the supplier share a nation, grouped by that nation, over one order "
    "year. Plan shape: supplier/customer/nation dimensions broadcast, the "
    "date range pushes to the orders scan, the customer=supplier nation "
    "equality is a post-broadcast residual filter, and only the "
    "lineitem x orders fact join shuffles — the standard star-join "
    "discipline, with the revenue sum through the fixed-point kernels.",
)
def rel_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    orders = io.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{_Q5_FROM} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{_Q5_TO} 00:00:00").cast("timestamp"))
    )
    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = io.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    return df.groupBy(F.col("n_name").alias("nation")).agg(
        fsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), SCALE2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_Q18_QTY = 250.0
_Q18_TOPK = 20


@register(
    "rel_large_orders",
    sql=f"""
    WITH big AS (
        SELECT l_orderkey, {sql_fsum('l_quantity', SCALE2)} AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING {sql_fsum('l_quantity', SCALE2)} > {_Q18_QTY}
    )
    SELECT c.c_custkey,
           c.c_name,
           o.o_orderkey,
           CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS orderdate_ms,
           {sql_fround('o.o_totalprice', SCALE2)} AS totalprice,
           b.sum_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT {_Q18_TOPK}
    """,
    doc="TPC-H Q18 large-volume customers on this schema: orders whose "
    "total lineitem quantity exceeds a threshold, joined back to the "
    "order and customer. Plan shape: the HAVING side is ONE map-side-"
    "combinable groupBy on the fact's own join key (so the orderkey "
    "shuffle is shared with the join), the surviving order set is tiny "
    "and broadcasts into orders, the customer dimension broadcasts, and "
    "the top-K is a distributed TakeOrderedAndProject — no global sort, "
    "no second full lineitem pass.",
)
def rel_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(fsum(F.col("l_quantity"), SCALE2).alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_QTY)
    )
    orders = io.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return (
        j.select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
            fround(F.col("o_totalprice"), SCALE2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(_Q18_TOPK)
    )


_Q17_TYPE = "PROMO"


@register(
    "rel_small_qty_revenue",
    sql=f"""
    WITH pa AS (
        SELECT l_partkey, {sql_favg('l_quantity', SCALE2)} AS avg_qty
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT {sql_fround('SUM(' + sql_fixed('l.l_extendedprice', SCALE2)
                       + ') / (100.0 * 7.0)')} AS avg_yearly,
           count(*) AS n_small
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa   ON pa.l_partkey = l.l_partkey
    WHERE p.p_type = '{_Q17_TYPE}'
      AND l.l_quantity < 0.5 * pa.avg_qty
    """,
    doc="TPC-H Q17 small-quantity-order revenue: lineitems of one part "
    "type below half their part's average quantity; yearly revenue slice. "
    "Plan shape: the part-type dimension filter broadcasts into ONE "
    "lineitem scan, and the correlated per-part average is a window over "
    "the promo-filtered rows — one partkey shuffle of just the promo "
    "slice, instead of a second full fact scan joined against a "
    "broadcast per-partkey aggregate (which is |part|-sized and cannot "
    "broadcast at 100 TB); the final aggregate is a scalar.",
)
def rel_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    promo = io.load(spark, sf_dir, "part").filter(F.col("p_type") == _Q17_TYPE)
    j = li.join(
        F.broadcast(promo.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    # per-part average as a WINDOW over the promo-filtered fact rows
    # (identical per-part sums/counts: the inner join keeps every lineitem
    # row of a promo part, and favg is per-part). The previous shape
    # aggregated avg_qty over ALL parts and broadcast that |part|-sized
    # frame back into a SECOND lineitem scan — at 100 TB a per-partkey
    # aggregate is billions of rows and cannot broadcast. Now: one scan,
    # one partkey shuffle of only the promo slice (guide §2.4, §3.1).
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum(fixed(F.col("l_quantity"), SCALE2)).over(w) / (
        F.lit(float(SCALE2)) * F.count(F.col("l_quantity")).over(w)
    )
    j = j.withColumn("avg_qty", avg_qty).filter(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    agg = j.agg(
        F.sum(F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)).cast("long")).alias("rev_fx"),
        F.count(F.lit(1)).alias("n_small"),
    )
    return agg.select(
        fround(F.col("rev_fx") / (F.lit(100.0) * F.lit(7.0))).alias("avg_yearly"),
        "n_small",
    )


_BLOOM_BITS = 4096  # 64 longs; fp rate ~ (1-e^(-2n/m))^2 — <2% at n=1500
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_PRIORITY = "1-URGENT"


def _bloom_positions(key: Column) -> tuple[Column, Column]:
    """Two deterministic bit positions in [0, _BLOOM_BITS) from
    xxhash64(key) under two seeds.

    Unlike the CMS/LSH hashes, bloom membership never crosses engines (the
    oracle is the plain semi-join — the filter only needs NO FALSE
    NEGATIVES within Spark), so the cheap JVM-side xxhash64 beats an
    md5+conv per probe row. pmod keeps the position non-negative.
    """
    p1 = F.pmod(F.xxhash64(key), F.lit(_BLOOM_BITS)).cast("long")
    p2 = F.pmod(F.xxhash64(key, F.lit(1)), F.lit(_BLOOM_BITS)).cast("long")
    return p1, p2


@register(
    "rel_bloom_semijoin",
    sql=f"""
    SELECT o.o_orderpriority,
           {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN (
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderpriority = '{_BLOOM_PRIORITY}'
    ) o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Bloom-pruned semi-join: revenue of lineitems belonging to urgent "
    "orders. Plan shape: the build side folds into a {bits}-bit Bloom "
    "filter via ONE map-side-combinable bit_or aggregate (<= {words} "
    "longs ever reach the driver, whatever the build cardinality), the "
    "bitset is embedded as a literal in the probe-side FILTER so "
    "non-member fact rows die at the scan BEFORE any join shuffle, and "
    "the exact join afterwards removes the ~2% false positives — the "
    "pattern that turns a 100 TB fact x 100 M key semi-join into a "
    "pruned scan plus a small residual join. The Bloom filter itself "
    "never changes the result (no false negatives), which is why the "
    "oracle is the plain semi-join.".format(bits=_BLOOM_BITS, words=_BLOOM_WORDS),
)
def rel_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    build = (
        io.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == _BLOOM_PRIORITY)
        .select("o_orderkey", "o_orderpriority")
    )
    # -- build: per-key bit masks -> one bit_or per word (distributed) ------
    p1, p2 = _bloom_positions(F.col("o_orderkey"))
    masks = build.select(
        F.explode(F.array(p1, p2)).alias("pos")
    ).select(
        (F.col("pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
    )
    words_rows = masks.groupBy("word").agg(F.bit_or("mask").alias("bits")).collect()
    words = [0] * _BLOOM_WORDS
    for r in words_rows:
        words[int(r["word"])] = int(r["bits"])

    # -- probe: literal-bitset membership filter at the fact scan -----------
    bitset = F.array(*[F.lit(w).cast("long") for w in words])
    li = io.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    q1, q2 = _bloom_positions(F.col("l_orderkey"))

    def member(pos: Column) -> Column:
        word = F.element_at(bitset, ((pos / 64).cast("long") + 1).cast("int"))
        bit = F.call_function("shiftright", word, (pos % 64).cast("int"))
        return bit.bitwiseAND(F.lit(1).cast("long")) == 1

    pruned = li.filter(member(q1) & member(q2))
    # -- residual exact join kills the false positives ----------------------
    j = pruned.join(F.broadcast(build), pruned.l_orderkey == build.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        fsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), SCALE2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_PIVOT_PRIORITIES = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)
_PIVOT_NAMES = ("urgent", "high", "medium", "not_specified", "low")


@register(
    "rel_pivot_priority_year",
    sql=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           {', '.join(
               "CAST(SUM(CASE WHEN o_orderpriority = '" + p + "' THEN 1 ELSE 0 END) AS BIGINT) AS n_" + n
               for p, n in zip(_PIVOT_PRIORITIES, _PIVOT_NAMES)
           )},
           count(*) AS n_total,
           {sql_fsum('o_totalprice', SCALE2)} AS revenue
    FROM orders
    GROUP BY 1
    """,
    doc="Pivot (long->wide conditional aggregation): order counts per "
    "year x priority as one wide row per year, plus totals. Plan shape: "
    "one explicit conditional aggregate (the same shape as the SQL) "
    "computes every priority cell AND the totals in a single pass — "
    "map-side combinable, one shuffle on the year key, no pivot-value "
    "discovery job and no separate totals branch to join back.",
)
def rel_pivot_priority_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderpriority",
        "o_totalprice",
    )
    # ONE conditional aggregate (literally the oracle SQL's shape): the
    # previous pivot + separate totals groupBy consumed `base` twice, so
    # Catalyst re-expanded the orders scan per branch and joined the two
    # grouped frames back — 2 scans + a join for what one map-side-
    # combinable pass computes (guide §1.2 step 1, §2.4).
    return base.groupBy("order_year").agg(
        *[
            F.sum(F.when(F.col("o_orderpriority") == p, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{n}")
            for p, n in zip(_PIVOT_PRIORITIES, _PIVOT_NAMES)
        ],
        F.count(F.lit(1)).alias("n_total"),
        fsum(F.col("o_totalprice"), SCALE2).alias("revenue"),
    )


_TOPN_PER_TYPE = 3


@register(
    "rel_top_parts_per_type",
    sql=f"""
    WITH rev AS (
        SELECT p.p_type, l.l_partkey,
               {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS revenue,
               count(*) AS n_lineitems
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_type, l.l_partkey
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY p_type ORDER BY revenue DESC, l_partkey
        ) AS rn
        FROM rev
    )
    SELECT p_type, l_partkey AS p_partkey, revenue, n_lineitems, rn AS rank
    FROM ranked WHERE rn <= {_TOPN_PER_TYPE}
    """,
    doc="Per-group top-N (the grouped ranking pattern, distinct from "
    "rel_top_customers' global top-K): the 3 highest-revenue parts within "
    "every part type. Plan shape: part dimension broadcasts, ONE "
    "map-side-combinable groupBy keyed (type, part), then a window "
    "PARTITIONED on the group key — every group ranks in parallel, no "
    "global sort, no single-partition window at any group count.",
)
def rel_top_parts_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    part = io.load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_partkey")
        .agg(
            fsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), SCALE2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    w = Window.partitionBy("p_type").orderBy(F.col("revenue").desc(), "l_partkey")
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPN_PER_TYPE)
        .select(
            "p_type",
            F.col("l_partkey").alias("p_partkey"),
            "revenue",
            "n_lineitems",
            "rank",
        )
    )


@register(
    "rel_inactive_customers",
    sql=f"""
    WITH avg_bal AS (
        SELECT {sql_favg('c_acctbal', SCALE2)} AS ab
        FROM customer WHERE c_acctbal > 0.0
    ),
    rich AS (
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.ab
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    )
    SELECT n.n_name AS nation,
           count(*) AS n_customers,
           {sql_fsum('r.c_acctbal', SCALE2)} AS total_acctbal
    FROM rich r JOIN nation n ON n.n_nationkey = r.c_nationkey
    GROUP BY n.n_name
    """,
    doc="TPC-H Q22-shaped dormant-capital report: customers with an "
    "above-average positive balance who have NEVER placed an order, "
    "rolled up per nation. Plan shape: the global average is ONE scalar "
    "aggregate folded into the filter (decorrelated, no per-row "
    "subquery), the NOT EXISTS becomes a LEFT ANTI join — the join type "
    "the rest of the suite doesn't otherwise exercise — on the customer "
    "key with the orders side reduced to its distinct custkeys first, "
    "and the nation dimension broadcasts; the fixed-point balance sum "
    "keeps the rollup reduction-order exact.",
)
def rel_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer")
    orders = io.load(spark, sf_dir, "orders").select("o_custkey").distinct()
    nation = io.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ab = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(favg(F.col("c_acctbal"), SCALE2).alias("ab"))
        .collect()[0]["ab"]
    )
    rich = cust.filter(F.col("c_acctbal") > F.lit(ab)).join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        rich.join(F.broadcast(nation), rich.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            fsum(F.col("c_acctbal"), SCALE2).alias("total_acctbal"),
        )
    )


_Q7_NATION_A = "NATION_1"
_Q7_NATION_B = "NATION_2"


@register(
    "rel_bilateral_trade",
    sql=f"""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE ((cn.n_name = '{_Q7_NATION_A}' AND sn.n_name = '{_Q7_NATION_B}')
        OR (cn.n_name = '{_Q7_NATION_B}' AND sn.n_name = '{_Q7_NATION_A}'))
    GROUP BY cn.n_name, sn.n_name, year(l.l_shipdate)
    """,
    doc="TPC-H Q7-shaped bilateral trade volume: revenue flowing between "
    "two nations in BOTH directions (customer-nation x supplier-nation "
    "x ship year). The distinct join pattern here is the SAME dimension "
    "joined twice under different roles (nation as buyer-side and "
    "seller-side), with the either-direction predicate applied AFTER "
    "both role joins. Plan shape: customer/supplier/nation(x2) all "
    "broadcast, the orderkey fact join is the only shuffle, and the "
    "direction filter is a post-broadcast residual — the fact table is "
    "touched once.",
)
def rel_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = io.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(
            (
                (F.col("cust_nation") == _Q7_NATION_A)
                & (F.col("supp_nation") == _Q7_NATION_B)
            )
            | (
                (F.col("cust_nation") == _Q7_NATION_B)
                & (F.col("supp_nation") == _Q7_NATION_A)
            )
        )
    )
    return j.groupBy(
        "cust_nation", "supp_nation", F.year("l_shipdate").cast("long").alias("ship_year")
    ).agg(
        fsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), SCALE2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_ROLL_DAYS = 7


@register(
    "rel_rolling_revenue",
    sql=f"""
    WITH daily AS (
        SELECT o.o_custkey,
               CAST(epoch(o.o_orderdate) // 86400 AS BIGINT) AS day,
               SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS rev_fx
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey, CAST(epoch(o.o_orderdate) // 86400 AS BIGINT)
    )
    SELECT o_custkey AS c_custkey, day,
           (rev_fx / 100.0) AS day_revenue,
           (CAST(SUM(rev_fx) OVER (
               PARTITION BY o_custkey ORDER BY day
               RANGE BETWEEN {_ROLL_DAYS - 1} PRECEDING AND CURRENT ROW
           ) AS BIGINT) / 100.0) AS rolling_7d_revenue
    FROM daily
    """,
    doc="Trailing 7-day rolling revenue per customer — the RANGE-frame "
    "moving aggregate (a TIME-bounded window, not a row-count one: a "
    "customer with one order in the week gets a 1-day trailing sum, not "
    "6 phantom rows). Plan shape: one fact groupBy collapses lineitems "
    "to (customer, day) dailies FIRST (the window then runs over the "
    "small daily series, not raw lineitems), the RANGE window partitions "
    "per customer — parallel across customers, integer day arithmetic, "
    "fixed-point revenue.",
)
def rel_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    rev_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    daily = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "o_custkey",
            F.floor(F.col("o_orderdate").cast("timestamp").cast("double") / 86400.0)
            .cast("long")
            .alias("day"),
        )
        .agg(F.sum(rev_fx).alias("rev_fx"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-(_ROLL_DAYS - 1), 0)
    )
    return daily.select(
        F.col("o_custkey").alias("c_custkey"),
        "day",
        (F.col("rev_fx") / 100.0).alias("day_revenue"),
        (F.sum("rev_fx").over(w).cast("long") / 100.0).alias("rolling_7d_revenue"),
    )


@register(
    "rel_grouping_sets",
    sql=f"""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           {sql_fsum('l_extendedprice * (1.0 - l_discount)', SCALE2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="GROUPING SETS with NON-hierarchical sets — the aggregation shape "
    "ROLLUP cannot express (rel_revenue_rollup's subtotals nest; these "
    "are two independent single-dimension rollups plus the grand total): "
    "per-returnflag, per-linestatus, and overall revenue in ONE Expand "
    "pass over the fact scan — one read, one shuffle, however many sets; "
    "GROUPING() flags disambiguate the subtotal rows exactly as the "
    "cube query does.",
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    agg = (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            fsum(disc, SCALE2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    return agg.select(
        F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
        "g_flag",
        "g_status",
        "revenue",
        "n_lineitems",
    )


_Q6_FROM, _Q6_TO = "2000-01-01", "2001-01-01"
_Q6_DISC_LO, _Q6_DISC_HI = 0.05, 0.07
_Q6_QTY = 24.0


@register(
    "rel_forecast_revenue",
    sql=f"""
    SELECT {sql_fsum('l_extendedprice * l_discount', SCALE2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_Q6_FROM} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_Q6_TO} 00:00:00'
      AND l_discount BETWEEN {_Q6_DISC_LO} AND {_Q6_DISC_HI}
      AND l_quantity < {_Q6_QTY}
    """,
    doc="TPC-H Q6 forecasting-revenue-change: the canonical scan-dominated "
    "query — no join at all, a conjunction of range predicates and one "
    "fixed-point sum. Its whole value is what the plan shows: every "
    "predicate lands in PushedFilters (date + discount + quantity all "
    "prune at the parquet reader), the projection reads exactly two "
    "columns, and the aggregate is a scalar — the query a column store "
    "must execute at raw scan speed or nothing else matters.",
)
def rel_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit(f"{_Q6_FROM} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{_Q6_TO} 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(_Q6_DISC_LO, _Q6_DISC_HI))
        & (F.col("l_quantity") < _Q6_QTY)
    )
    return f.agg(
        fsum(F.col("l_extendedprice") * F.col("l_discount"), SCALE2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_MB_MIN_SUPPORT = 3  # baskets containing the pair
_MB_BASKET_CAP = 30  # skew guard: a basket of B items expands to B^2/2 pairs


@register(
    "rel_market_basket",
    sql=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sized AS (
        SELECT l_orderkey FROM items GROUP BY l_orderkey
        HAVING count(*) BETWEEN 2 AND {_MB_BASKET_CAP}
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_baskets
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN sized s ON s.l_orderkey = a.l_orderkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {_MB_MIN_SUPPORT}
    ),
    ic AS (SELECT l_partkey, count(*) AS c FROM items GROUP BY l_partkey),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items)
    SELECT p.part_a, p.part_b, p.n_baskets,
           ca.c AS n_a, cb.c AS n_b,
           (CAST(p.n_baskets AS DOUBLE) / ca.c) AS confidence_a_to_b,
           (CAST(p.n_baskets AS DOUBLE) * n.n_orders / (CAST(ca.c AS DOUBLE) * cb.c)) AS lift
    FROM pairs p
    JOIN ic ca ON ca.l_partkey = p.part_a
    JOIN ic cb ON cb.l_partkey = p.part_b, n
    """,
    doc="Market-basket association mining (support / confidence / lift for "
    "part pairs co-ordered in one order — the classic affinity analysis, "
    "and the relational twin of text_cooccurrence_pmi): pair candidates "
    "come from the SAME capped collect-expand shape as the dedup LSH "
    "family — one shuffle keyed on the basket id, the quadratic pair "
    "expansion bounded per basket ({cap} items) so a degenerate mega-"
    "order can't blow up one task; item census and basket count are "
    "map-side-combinable; lift is the rational c_ab*N/(c_a*c_b) — no "
    "logs, cross-engine exact.".format(cap=_MB_BASKET_CAP),
)
def rel_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    # ONE pass over the fact table (guide §1.2 / §8): the old shape
    # derived items = distinct(orderkey, partkey) FOUR times (basket
    # grouping, two census sides, the order count) — four lineitem scans
    # and four distinct exchanges per query. collect_set folds the
    # distinct INTO the one per-order aggregation (map-side combined), and
    # the small per-order frame — one row per order, exactly the "decide
    # on small rows" proxy — is cached for its three consumers.
    # sort_array(collect_set(..)) == sort_array(collect_list over the
    # distinct pairs), so every downstream value is unchanged.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .cache()
    )
    grouped = baskets.filter(
        (F.size("parts") >= 2) & (F.size("parts") <= _MB_BASKET_CAP)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + F.lit(2), F.size("parts")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.part_a", "p.part_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= _MB_MIN_SUPPORT)
    )
    # per-part distinct-order census and the order count, both read from
    # the cached basket frame (the census explodes the already-distinct
    # per-order part sets — identical to counting the old items rows)
    ic = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_orders = baskets.count()
    j = pairs.join(
        F.broadcast(ic.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a"))),
        "part_a",
    ).join(
        F.broadcast(ic.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b"))),
        "part_b",
    )
    return j.select(
        "part_a",
        "part_b",
        "n_baskets",
        "n_a",
        "n_b",
        (F.col("n_baskets").cast("double") / F.col("n_a")).alias("confidence_a_to_b"),
        (
            F.col("n_baskets").cast("double")
            * F.lit(n_orders)
            / (F.col("n_a").cast("double") * F.col("n_b"))
        ).alias("lift"),
    )


@register(
    "rel_customer_rfm",
    sql=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(MAX(epoch(o_orderdate)) // 86400 AS BIGINT) AS last_day,
               count(*) AS frequency,
               SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS monetary_fx
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(last_day, 0.5) AS r_med,
               quantile_cont(CAST(frequency AS DOUBLE), 0.5) AS f_med,
               quantile_cont(CAST(monetary_fx AS DOUBLE), 0.5) AS m_med
        FROM per_cust
    ),
    seg AS (
        SELECT p.o_custkey,
               CASE WHEN p.last_day > c.r_med THEN 'recent' ELSE 'lapsed' END AS r_seg,
               CASE WHEN p.frequency > c.f_med THEN 'frequent' ELSE 'occasional' END AS f_seg,
               CASE WHEN p.monetary_fx > c.m_med THEN 'high_value' ELSE 'low_value' END AS m_seg,
               p.monetary_fx
        FROM per_cust p, cuts c
    )
    SELECT r_seg, f_seg, m_seg,
           count(*) AS n_customers,
           (CAST(SUM(monetary_fx) AS BIGINT) / 100.0) AS total_spend
    FROM seg GROUP BY r_seg, f_seg, m_seg
    """,
    doc="RFM customer segmentation (recency / frequency / monetary — the "
    "standard BI customer-value rollup): per-customer aggregates in one "
    "map-side-combinable pass, EXACT distributed medians as the segment "
    "cuts (deterministic, unlike ntile under ties), then an 8-cell "
    "segment census. Spend through the fixed-point kernels; three "
    "bounded passes total, none touching raw orders twice.",
)
def rel_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.floor(F.max(F.col("o_orderdate").cast("timestamp").cast("double")) / 86400.0)
        .cast("long")
        .alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")).alias(
            "monetary_fx"
        ),
    )
    cuts = per_cust.agg(
        F.percentile(F.col("last_day").cast("double"), F.lit(0.5)).alias("r_med"),
        F.percentile(F.col("frequency").cast("double"), F.lit(0.5)).alias("f_med"),
        F.percentile(F.col("monetary_fx").cast("double"), F.lit(0.5)).alias("m_med"),
    ).collect()[0]
    seg = per_cust.select(
        F.when(F.col("last_day") > cuts["r_med"], "recent").otherwise("lapsed").alias("r_seg"),
        F.when(F.col("frequency") > cuts["f_med"], "frequent")
        .otherwise("occasional")
        .alias("f_seg"),
        F.when(F.col("monetary_fx") > cuts["m_med"], "high_value")
        .otherwise("low_value")
        .alias("m_seg"),
        "monetary_fx",
    )
    return seg.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("monetary_fx").cast("long") / 100.0).alias("total_spend"),
    )


_Q13_EXCL_PRIORITY = "1-URGENT"


@register(
    "rel_order_count_distribution",
    sql=f"""
    WITH per_cust AS (
        SELECT o_custkey, count(*) AS c_count
        FROM orders
        WHERE o_orderpriority <> '{_Q13_EXCL_PRIORITY}'
        GROUP BY o_custkey
    )
    SELECT COALESCE(pc.c_count, 0) AS c_count,
           count(*) AS custdist
    FROM customer c LEFT JOIN per_cust pc ON pc.o_custkey = c.c_custkey
    GROUP BY COALESCE(pc.c_count, 0)
    """,
    doc="TPC-H Q13-shaped customer order-count distribution (left outer "
    "join + two-level aggregation). Scale shape: orders are collapsed to "
    "per-customer counts FIRST (map-side combinable, one shuffle of "
    "customer-cardinality rows), so the outer join matches two "
    "customer-sized keyed frames instead of streaming raw orders through "
    "a join; zero-order customers come from the LEFT side + COALESCE, "
    "exactly the rows an inner-join-then-histogram silently drops. The "
    "closing histogram groupBy runs over at most max(c_count) keys.",
)
def rel_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference analog: the engine's catalog/count rollups (SURVEY §2.4);
    the outer-join-preserving count shape has no pandas counterpart —
    positional indexing cannot express 'customers with zero orders'."""
    cust = io.load(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        io.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != _Q13_EXCL_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    joined = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
    return (
        joined.select(F.coalesce(F.col("c_count"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# Three (brand, max-size, quantity-band) arms; the redundant single-side
# bounds derived from them are stated explicitly in BOTH plans so each
# engine can push them to the scans (the classic hand-optimized Q19 form —
# semantically implied by the OR, not an extra filter).
_Q19_ARMS = [
    ("Brand#12", 15, 1.0, 11.0),
    ("Brand#23", 25, 10.0, 20.0),
    ("Brand#3", 35, 20.0, 30.0),
]
_Q19_BRANDS = tuple(a[0] for a in _Q19_ARMS)
_Q19_QTY_LO = min(a[2] for a in _Q19_ARMS)
_Q19_QTY_HI = max(a[3] for a in _Q19_ARMS)
_Q19_SIZE_HI = max(a[1] for a in _Q19_ARMS)


@register(
    "rel_disjunctive_revenue",
    sql=f"""
    SELECT {sql_fsum('l.l_extendedprice * (1.0 - l.l_discount)', SCALE2)} AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity BETWEEN {_Q19_QTY_LO} AND {_Q19_QTY_HI}
      AND p.p_brand IN {_Q19_BRANDS}
      AND p.p_size BETWEEN 1 AND {_Q19_SIZE_HI}
      AND (
        {' OR '.join(f"(p.p_brand = '{b}' AND p.p_size BETWEEN 1 AND {sz} AND l.l_quantity BETWEEN {lo} AND {hi})" for b, sz, lo, hi in _Q19_ARMS)}
      )
    """,
    doc="TPC-H Q19-shaped disjunctive-predicate revenue: three (brand, "
    "size, quantity-band) OR-arms that each reference BOTH join sides. "
    "Scale shape: the implied single-side envelopes (brand IN set, size "
    "and quantity bounds) are stated explicitly so they reach the parquet "
    "scans as PushedFilters — the part side shrinks to the three brands "
    "BEFORE broadcast, lineitem rows outside the quantity envelope never "
    "leave the scan — and only the residual cross-side OR evaluates "
    "post-join. Without the envelopes the whole OR is a post-join filter "
    "and both scans read everything.",
)
def rel_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(_Q19_QTY_LO, _Q19_QTY_HI)
    )
    part = io.load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(*_Q19_BRANDS) & F.col("p_size").between(1, _Q19_SIZE_HI)
    )
    arm = None
    for b, sz, lo, hi in _Q19_ARMS:
        cond = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(1, sz)
            & F.col("l_quantity").between(lo, hi)
        )
        arm = cond if arm is None else (arm | cond)
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(arm)
        .agg(
            fsum(disc, SCALE2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_Q16_EXCL_BRAND = "Brand#5"
_Q16_SIZES = (1, 4, 9, 16, 25, 36, 49)


@register(
    "rel_supplier_cnt_by_part",
    sql=f"""
    SELECT p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> '{_Q16_EXCL_BRAND}'
      AND p.p_size IN {_Q16_SIZES}
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_type, p.p_size
    """,
    doc="TPC-H Q16-shaped distinct-supplier census per (type, size): "
    "NOT-IN denylist + COUNT(DISTINCT) over a dimension join. Scale "
    "shape: the denylist (suppliers in arrears) broadcasts as a LEFT "
    "ANTI join — no shuffle, and no NOT IN null-trap since the key is a "
    "PK; the part side shrinks to the seven sizes before broadcast; the "
    "distinct-aggregate runs as Spark's two-phase partial-distinct "
    "(dedup on (type,size,suppkey) map-side, then count) instead of "
    "collecting supplier sets.",
)
def rel_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = io.load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != _Q16_EXCL_BRAND) & F.col("p_size").isin(*_Q16_SIZES)
    )
    bad_supp = io.load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "rel_important_parts",
    sql="""
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS val_fx
        FROM lineitem
        GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(val_fx) AS total_fx, count(*) AS n_parts FROM pv)
    SELECT pv.l_partkey AS p_partkey,
           (pv.val_fx / 100.0) AS part_value
    FROM pv, tot
    WHERE pv.val_fx * tot.n_parts * 2 > 3 * tot.total_fx
    """,
    doc="TPC-H Q11-shaped 'important parts': parts whose revenue exceeds "
    "1.5x the average part's (a scale-invariant share threshold — a "
    "fixed fraction like Q11's 0.0001 goes degenerate as part "
    "cardinality scales). Scale shape: ONE fact groupBy produces the "
    "per-part values; the global (total, count) reduces from that "
    "already-aggregated frame and broadcasts back as a 1-row cross "
    "join, so lineitem is scanned once and the threshold compare is "
    "integer-exact (no float share in the predicate).",
)
def rel_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    val_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    pv = li.groupBy("l_partkey").agg(F.sum(val_fx).alias("val_fx"))
    # total revenue and part count as windows over the per-part aggregate
    # (one row per distinct part — orders of magnitude smaller than the
    # lineitem a broadcast re-joined total branch would rescan). At
    # extreme part cardinality the single-partition window
    # would widen to a two-pass tree aggregate, same as text packing's
    # distributed prefix sum.
    from pyspark.sql.window import Window as _W

    return (
        pv.withColumns(
            {
                "total_fx": F.sum("val_fx").over(_W.partitionBy()),
                "n_parts": F.count(F.lit(1)).over(_W.partitionBy()),
            }
        )
        .filter(F.col("val_fx") * F.col("n_parts") * F.lit(2) > F.lit(3) * F.col("total_fx"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("val_fx") / 100.0).alias("part_value"),
        )
    )


_Q15_FROM, _Q15_TO = "2000-01-01", "2000-04-01"


@register(
    "rel_top_supplier",
    sql=f"""
    WITH srev AS (
        SELECT l_suppkey,
               SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS rev_fx
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{_Q15_FROM} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{_Q15_TO} 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, (srev.rev_fx / 100.0) AS total_revenue
    FROM supplier s
    JOIN srev ON srev.l_suppkey = s.s_suppkey
    WHERE srev.rev_fx = (SELECT MAX(rev_fx) FROM srev)
    """,
    doc="TPC-H Q15-shaped top supplier of the quarter: the 'create view, "
    "select where rev = (select max from view)' pattern. Scale shape: "
    "the quarter filter is pushed to the scan; one fact groupBy yields "
    "supplier-cardinality revenues; the scalar MAX reduces from that "
    "small frame and broadcasts back (1-row cross join, integer-exact "
    "equality so ties surface instead of an arbitrary LIMIT 1 pick); "
    "the supplier dimension broadcasts for the name attach.",
)
def rel_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{_Q15_FROM} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{_Q15_TO} 00:00:00").cast("timestamp"))
    )
    rev_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    # cache the supplier-cardinality revenue frame: the scalar-MAX branch
    # otherwise re-expands the whole lineage and scans lineitem a second
    # time for one number (guide §2.4, §5 — cache when the reuse saves a
    # full corpus pass; the frame is one narrow row per active supplier)
    srev = li.groupBy("l_suppkey").agg(F.sum(rev_fx).alias("rev_fx")).cache()
    mx = srev.agg(F.max("rev_fx").alias("max_fx"))
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_fx") == F.col("max_fx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", (F.col("rev_fx") / 100.0).alias("total_revenue"))
    )


_Q8_REGION = "ASIA"
_Q8_NATION = "NATION_2"
_Q8_PTYPE = "PROMO"


@register(
    "rel_market_share",
    sql=f"""
    WITH vol AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT) AS vol_fx,
               ns.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = nc.n_regionkey AND r.r_name = '{_Q8_REGION}'
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = '{_Q8_PTYPE}'
    )
    SELECT o_year,
           (SUM(CASE WHEN supp_nation = '{_Q8_NATION}' THEN vol_fx ELSE 0 END) * 1.0
              / SUM(vol_fx)) AS mkt_share,
           (SUM(vol_fx) / 100.0) AS total_volume
    FROM vol
    GROUP BY o_year
    """,
    doc="TPC-H Q8-shaped national market share: the focal nation's slice "
    "of PROMO-part revenue sold into one region, per order year. Scale "
    "shape: a five-dimension star join where EVERY dimension side "
    "(part filtered to one type, customer->nation->region filtered to "
    "one region, supplier->nation) broadcasts — the fact table never "
    "shuffles before aggregation; the share is a single divide of two "
    "integer-exact conditional sums, so numerator and denominator come "
    "out of ONE pass (no self-join of per-year totals).",
)
def rel_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = io.load(spark, sf_dir, "nation")
    reg = io.load(spark, sf_dir, "region").filter(F.col("r_name") == _Q8_REGION)
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = io.load(spark, sf_dir, "part").filter(F.col("p_type") == _Q8_PTYPE).select(
        "p_partkey"
    )
    # customer keys restricted to the region (dimension-side reduction,
    # then broadcast into the fact join)
    region_cust = (
        cust.join(
            F.broadcast(nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)),
            cust.c_nationkey == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        supp.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(region_cust), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol_fx.alias("vol_fx"),
            "supp_nation",
        )
    )
    return joined.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == _Q8_NATION, F.col("vol_fx")).otherwise(F.lit(0)))
            * F.lit(1.0)
            / F.sum("vol_fx")
        ).alias("mkt_share"),
        (F.sum("vol_fx") / 100.0).alias("total_volume"),
    )


@register(
    "rel_sole_blame_supplier",
    sql="""
    WITH per_pair AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
        FROM lineitem
        GROUP BY l_orderkey, l_suppkey
    ),
    flagged AS (
        SELECT l_orderkey, l_suppkey, has_r,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
               SUM(has_r) OVER (PARTITION BY l_orderkey) AS n_r_supp
        FROM per_pair
    )
    SELECT s.s_suppkey, s.s_name, count(*) AS numwait
    FROM flagged f
    JOIN orders o ON o.o_orderkey = f.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = f.l_suppkey
    WHERE f.has_r = 1 AND f.n_supp >= 2 AND f.n_r_supp = 1
    GROUP BY s.s_suppkey, s.s_name
    """,
    doc="TPC-H Q21-shaped 'sole blame' supplier census: on finished "
    "multi-supplier orders, suppliers who were the ONLY one with "
    "returned lines (returnflag standing in for Q21's late receipt — "
    "this data has no commit/receipt dates). Scale shape: Q21's "
    "EXISTS + NOT-EXISTS lineitem self-joins are rewritten as one "
    "(orderkey, suppkey) groupBy plus per-order window counts — two "
    "orderkey-clustered shuffles of a collapsed frame instead of three "
    "passes over raw lineitems joined to each other; the orders filter "
    "then prunes by status on an equi-join and the supplier dimension "
    "broadcasts for the final census.",
)
def rel_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_pair.select(
        "l_orderkey",
        "l_suppkey",
        "has_r",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("has_r").over(w).alias("n_r_supp"),
    ).filter((F.col("has_r") == 1) & (F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
    orders = (
        io.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.join(orders, flagged.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), flagged.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_Q2_PTYPE = "STANDARD"
_Q2_REGION = "EUROPE"


@register(
    "rel_min_cost_supplier",
    sql=f"""
    WITH eligible AS (
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = '{_Q2_REGION}'
    ),
    cost AS (
        SELECT l.l_partkey, l.l_suppkey,
               SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS cost_fx
        FROM lineitem l
        JOIN eligible e ON e.s_suppkey = l.l_suppkey
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = '{_Q2_PTYPE}'
        GROUP BY l.l_partkey, l.l_suppkey
    ),
    ranked AS (
        SELECT l_partkey, l_suppkey, cost_fx,
               row_number() OVER (
                   PARTITION BY l_partkey ORDER BY cost_fx, l_suppkey
               ) AS rk
        FROM cost
    )
    SELECT r.l_partkey AS p_partkey, r.l_suppkey AS s_suppkey, e.s_name,
           (r.cost_fx / 100.0) AS min_cost
    FROM ranked r JOIN eligible e ON e.s_suppkey = r.l_suppkey
    WHERE r.rk = 1
    """,
    doc="TPC-H Q2-shaped min-cost supplier per part (correlated-minimum "
    "selection under dimension restrictions; this schema has no partsupp, "
    "so 'cost' is the supplier's total charged for the part — same "
    "correlated shape): region-filtered suppliers reduce dimension-side "
    "and broadcast into the fact scan; one (part, supplier) groupBy; the "
    "per-part minimum is a window over the AGGREGATED frame, INTEGER "
    "fixed-point cost so min and ties (lowest suppkey, Q2's own "
    "tie-break rule) are cross-engine exact — never a float-ratio "
    "ordering.",
)
def rel_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = io.load(spark, sf_dir, "nation")
    reg = io.load(spark, sf_dir, "region").filter(F.col("r_name") == _Q2_REGION)
    # eligible is consumed twice (s_suppkey-only broadcast into the fact
    # join, full (key, name) final attach); without the cache Catalyst
    # re-expands the supplier⨝nation⨝region lineage per consumer — two
    # scans of each dimension. The frame is one narrow row per
    # region-filtered supplier (a derived frame inside the timed region,
    # not a base-table cache).
    eligible = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name")
        .cache()
    )
    part = (
        io.load(spark, sf_dir, "part")
        .filter(F.col("p_type") == _Q2_PTYPE)
        .select("p_partkey")
    )
    li = io.load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    cost_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    cost = (
        li.join(F.broadcast(eligible.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(cost_fx).alias("cost_fx"))
    )
    w = Window.partitionBy("l_partkey").orderBy("cost_fx", "l_suppkey")
    return (
        cost.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(F.broadcast(eligible), F.col("l_suppkey") == eligible.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            (F.col("cost_fx") / 100.0).alias("min_cost"),
        )
    )


_Q4_FROM, _Q4_TO = "1997-01-01", "1997-04-01"
_Q4_DISC = 0.08


@register(
    "rel_priority_semijoin",
    sql=f"""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{_Q4_FROM} 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '{_Q4_TO} 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= {_Q4_DISC}
      )
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4-shaped priority census via EXISTS (orders having at "
    "least one deep-discount lineitem; discount stands in for Q4's "
    "commit<receipt — this data has no commit/receipt dates). The "
    "EXISTS is a LEFT SEMI join — each order counted ONCE however many "
    "lineitems qualify, the defect an inner-join count silently has — "
    "with the lineitem side reduced by the pushed discount predicate "
    "before the join and the date range pushed to the orders scan. At "
    "scale this is the semi variant of the Q4 fact-fact shuffle; "
    "bucketing both sides on orderkey removes the exchange exactly as "
    "in rel_order_priority_smj.",
)
def rel_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{_Q4_FROM} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{_Q4_TO} 00:00:00").cast("timestamp"))
    )
    li = io.load(spark, sf_dir, "lineitem").filter(
        F.col("l_discount") >= _Q4_DISC
    ).select("l_orderkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q10_FROM, _Q10_TO = "1998-01-01", "1998-04-01"
_Q10_TOPK = 20


@register(
    "rel_returned_revenue",
    sql=f"""
    WITH rev AS (
        SELECT o.o_custkey,
               SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT))
                   AS rev_fx
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '{_Q10_FROM} 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '{_Q10_TO} 00:00:00'
        GROUP BY o.o_custkey
    )
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           (r.rev_fx / 100.0) AS lost_revenue
    FROM rev r
    JOIN customer c ON c.c_custkey = r.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    ORDER BY r.rev_fx DESC, c.c_custkey
    LIMIT {_Q10_TOPK}
    """,
    doc="TPC-H Q10-shaped returned-item revenue: customers who returned "
    "the most value in a quarter (the churn-risk report). Scale shape: "
    "the return flag and date range prune BOTH fact scans before their "
    "join; revenue collapses to customer cardinality in one groupBy "
    "BEFORE the dimension attach (customer/nation broadcast onto the "
    "aggregated frame, never onto raw lineitems); top-K is a "
    "distributed TakeOrderedAndProject on the integer revenue with a "
    "custkey tie-break.",
)
def rel_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = io.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{_Q10_FROM} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{_Q10_TO} 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    rev_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev_fx).alias("rev_fx"))
    )
    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nat = io.load(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    return (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .orderBy(F.col("rev_fx").desc(), "c_custkey")
        .limit(_Q10_TOPK)
        .select("c_custkey", "c_name", "nation", (F.col("rev_fx") / 100.0).alias("lost_revenue"))
    )


# --- measured Bloom false-positive rate --------------------------------------

_FPR_BITS = 4096


def _sql_bloom_pos(salt: str, key: str) -> str:
    h = f"md5('{salt}:' || CAST({key} AS VARCHAR))"
    return (
        f"((((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096)"
        f" + ((strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256)"
        f" + ((strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16)"
        f" + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1)) % {_FPR_BITS})"
    )


@register(
    "sketch_bloom_fpr",
    sql=f"""
    WITH build AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    probes AS (SELECT c_custkey AS k FROM customer),
    pos AS (
        SELECT {_sql_bloom_pos('b0', 'k')} AS p FROM build
        UNION
        SELECT {_sql_bloom_pos('b1', 'k')} AS p FROM build
    ),
    tested AS (
        SELECT pr.k,
               EXISTS (SELECT 1 FROM pos WHERE pos.p = {_sql_bloom_pos('b0', 'pr.k')})
               AND EXISTS (SELECT 1 FROM pos WHERE pos.p = {_sql_bloom_pos('b1', 'pr.k')})
                   AS bloom_pos,
               EXISTS (SELECT 1 FROM build b WHERE b.k = pr.k) AS actual
        FROM probes pr
    )
    SELECT (SELECT count(*) FROM build) AS n_inserted,
           CAST(SUM(CASE WHEN bloom_pos AND NOT actual THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_positive,
           CAST(SUM(CASE WHEN NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS n_negatives,
           CAST(SUM(CASE WHEN actual AND NOT bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_negative,
           (CAST(SUM(CASE WHEN bloom_pos AND NOT actual THEN 1 ELSE 0 END) AS DOUBLE)
              / NULLIF(SUM(CASE WHEN NOT actual THEN 1 ELSE 0 END), 0)) AS measured_fpr
    FROM tested
    """,
    doc="Measured Bloom-filter false-positive rate (the measure-don't-"
    "guess companion to rel_bloom_semijoin: the theoretical "
    "(1-e^(-kn/m))^k is a model — this measures the REAL rate for this "
    "key set and hash family, and proves zero false negatives as a "
    "column): urgent-priority customers build a {b}-bit double-hash "
    "filter (md5-derived positions so both engines compute identical "
    "bits), every customer probes it, and the census separates true "
    "members from false positives. Plan shape: the inserted-position "
    "set is at most {b} rows — broadcast semi-joins for the membership "
    "tests, one census aggregate; FPR is a single integer divide.".format(
        b=_FPR_BITS
    ),
)
def sketch_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    def pos(salt: str, key: Column) -> Column:
        h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
        return F.pmod(
            F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(_FPR_BITS)
        )

    # `build` (the distinct inserted-key set) feeds FOUR consumers: both
    # hash branches of the position set, the exact-membership join side,
    # and the n_inserted census — uncached each re-ran the orders scan +
    # filter + distinct (5 scans total). Cache the key set once.
    build = (
        io.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .cache()
    )
    probes = io.load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    posset = (
        build.select(pos("b0", F.col("k")).alias("p"))
        .unionByName(build.select(pos("b1", F.col("k")).alias("p")))
        .distinct()
    )
    p0 = posset.select(F.col("p").alias("p0v"))
    p1 = posset.select(F.col("p").alias("p1v"))
    bk = build.select(F.col("k").alias("bk"))
    tested = (
        probes.withColumn("pp0", pos("b0", F.col("k")))
        .withColumn("pp1", pos("b1", F.col("k")))
        .join(F.broadcast(p0), F.col("pp0") == F.col("p0v"), "left")
        .join(F.broadcast(p1), F.col("pp1") == F.col("p1v"), "left")
        .join(F.broadcast(bk), F.col("k") == F.col("bk"), "left")
        .select(
            (F.col("p0v").isNotNull() & F.col("p1v").isNotNull()).alias("bloom_pos"),
            F.col("bk").isNotNull().alias("actual"),
        )
    )
    # n_inserted rides as a broadcast single-row aggregate instead of an
    # eager driver-side count() — one action instead of two.
    n_row = build.agg(F.count(F.lit(1)).cast("long").alias("n_inserted"))
    bp, ac = F.col("bloom_pos"), F.col("actual")
    return (
        tested.agg(
            F.sum(F.when(bp & ~ac, 1).otherwise(0))
            .cast("long")
            .alias("n_false_positive"),
            F.sum(F.when(~ac, 1).otherwise(0)).cast("long").alias("n_negatives"),
            F.sum(F.when(ac & ~bp, 1).otherwise(0))
            .cast("long")
            .alias("n_false_negative"),
            (
                F.sum(F.when(bp & ~ac, 1).otherwise(0)).cast("double")
                / F.nullif(F.sum(F.when(~ac, 1).otherwise(0)), F.lit(0))
            ).alias("measured_fpr"),
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "n_inserted",
            "n_false_positive",
            "n_negatives",
            "n_false_negative",
            "measured_fpr",
        )
    )


@register(
    "rel_join_cardinality_check",
    sql="""
    WITH stats AS (
        SELECT (SELECT count(*) FROM lineitem) AS n_l,
               (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS d_l,
               (SELECT count(*) FROM orders) AS n_o,
               (SELECT count(DISTINCT o_orderkey) FROM orders) AS d_o,
               (SELECT count(*) FROM lineitem l JOIN orders o
                 ON o.o_orderkey = l.l_orderkey) AS actual
    )
    SELECT CAST(n_l AS BIGINT) AS n_lineitem,
           CAST(n_o AS BIGINT) AS n_orders,
           CAST(d_l AS BIGINT) AS ndv_lineitem_key,
           CAST(d_o AS BIGINT) AS ndv_orders_key,
           CAST(actual AS BIGINT) AS actual_join_rows,
           CAST((n_l * n_o) // GREATEST(d_l, d_o) AS BIGINT) AS estimated_join_rows,
           (CAST((n_l * n_o) // GREATEST(d_l, d_o) AS DOUBLE) / actual) AS est_over_actual
    FROM stats
    """,
    doc="Join-cardinality estimator audit (the statistic every cost-based "
    "optimizer's join ordering stands on: |A JOIN B| ~ n_a*n_b/"
    "max(ndv_a, ndv_b) under uniformity+containment): the textbook "
    "estimate computed from exact NDVs next to the ACTUAL join "
    "cardinality, with the over/under ratio as the data's skew "
    "signature — ratio >> 1 means key skew that AQE/salting must "
    "handle, =1 means uniform keys. All-integer inputs, integer "
    "estimate (floor-div), one divide for the ratio. Plan: ONE pass per "
    "table to per-key counts, then a full-outer join of the grouped "
    "frames feeds a single aggregate — n/ndv per side and the actual "
    "cardinality as sum(c_l*c_o) — so only one row per key is ever "
    "shuffled (the audit is the point — a production engine reads NDVs "
    "from column stats instead).",
)
def rel_join_cardinality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey")
    # ONE pass per table: collapse each side to per-key counts (map-side
    # combinable), then a full-outer join of the two grouped frames yields
    # every statistic in a single aggregate — n = sum of counts, ndv = rows
    # with a non-null key on that side, and the actual join cardinality is
    # sum(c_l * c_o) over matched keys (each key contributes exactly the
    # cross product of its row counts). The previous shape scanned each
    # table TWICE (stats pass + raw join) and shuffled every raw row for
    # the join; this shuffles one row per key (guide §2.3 aggregate-first,
    # §2.4) and the groupBy exchanges are reused by the equi-join.
    gl = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c_l"))
    go = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("c_o"))
    stats = gl.join(go, gl.l_orderkey == go.o_orderkey, "full_outer").agg(
        F.coalesce(F.sum("c_l"), F.lit(0)).cast("long").alias("n_l"),
        F.count(F.when(F.col("l_orderkey").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("d_l"),
        F.coalesce(F.sum("c_o"), F.lit(0)).cast("long").alias("n_o"),
        F.count(F.when(F.col("o_orderkey").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("d_o"),
        F.coalesce(F.sum(F.col("c_l") * F.col("c_o")), F.lit(0))
        .cast("long")
        .alias("actual"),
    )
    est = F.expr("CAST((n_l * n_o) DIV GREATEST(d_l, d_o) AS BIGINT)")
    return (
        stats
        .select(
            F.col("n_l").alias("n_lineitem"),
            F.col("n_o").alias("n_orders"),
            F.col("d_l").alias("ndv_lineitem_key"),
            F.col("d_o").alias("ndv_orders_key"),
            F.col("actual").alias("actual_join_rows"),
            est.alias("estimated_join_rows"),
            (est.cast("double") / F.col("actual")).alias("est_over_actual"),
        )
    )


@register(
    "rel_yoy_growth",
    sql="""
    WITH yearly AS (
        SELECT r.r_name AS region,
               CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS year,
               SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
                   AS BIGINT)) AS rev_fx
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT)
    )
    SELECT region, year,
           (rev_fx / 100.0) AS revenue,
           (CAST(rev_fx AS DOUBLE) / LAG(rev_fx) OVER (
               PARTITION BY region ORDER BY year) - 1.0) AS yoy_growth
    FROM yearly
    """,
    doc="Year-over-year revenue growth per region (the board-deck trend "
    "query): one fact pass collapses to (region, year) cells with all "
    "dimensions broadcast, then LAG runs over the CELL table (|regions| "
    "x |years| rows — the window never sees lineitems); growth is one "
    "divide of integer-exact yearly sums, NULL for each region's first "
    "year rather than a fake 0.",
)
def rel_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = io.load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = io.load(spark, sf_dir, "region")
    rev_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    yearly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").cast("long").alias("year"),
        )
        .agg(F.sum(rev_fx).alias("rev_fx"))
    )
    w = Window.partitionBy("region").orderBy("year")
    return yearly.select(
        "region",
        "year",
        (F.col("rev_fx") / 100.0).alias("revenue"),
        (F.col("rev_fx").cast("double") / F.lag("rev_fx").over(w) - 1.0).alias(
            "yoy_growth"
        ),
    )



_Q9_NAME_TOKEN = "red"


@register(
    "rel_product_profit",
    sql=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           (CAST(SUM(
               CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)
               - (CAST(FLOOR(p.p_retailprice * 100.0 + 0.5) AS BIGINT) * 6 // 10)
                 * CAST(l.l_quantity AS BIGINT)
           ) AS BIGINT) / 100.0) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%{_Q9_NAME_TOKEN}%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT)
    """,
    doc="TPC-H Q9-shaped product-type profit by supplier nation and year "
    "(this schema has no partsupp, so supply cost is pinned at 60% of "
    "the part's retail price — same five-table join shape). Scale "
    "design: the selective part filter (name token, ~13% of parts) "
    "broadcasts FIRST so the fact scan shrinks before the only big "
    "join (orders on orderkey); supplier/nation broadcast; profit is "
    "all-BIGINT cents (floor-scaled revenue minus integer supply cost "
    "x whole-unit quantity) so the sum is reduction-order independent "
    "and cross-engine exact — one divide at emit.",
)
def rel_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = (
        io.load(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"%{_Q9_NAME_TOKEN}%"))
        .select(
            "p_partkey",
            F.floor(F.col("p_retailprice") * 100.0 + F.lit(0.5)).cast("long").alias("retail_fx"),
        )
    )
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = io.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = io.load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rev_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    profit_fx = rev_fx - F.expr("retail_fx * 6 DIV 10") * F.col("l_quantity").cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit_fx).alias("profit_fx"))
        .select("nation", "o_year", (F.col("profit_fx") / 100.0).alias("profit"))
    )


_Q12_FROM, _Q12_TO = "1997-01-01", "1998-01-01"
_Q12_LAG_DAYS = 60


@register(
    "rel_ship_lag_priority",
    sql=f"""
    SELECT l.l_returnflag AS flag_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '{_Q12_FROM} 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '{_Q12_TO} 00:00:00'
      AND l.l_shipdate > o.o_orderdate + INTERVAL {_Q12_LAG_DAYS} DAY
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12-shaped late-shipment priority split (no l_shipmode / "
    "commit/receipt dates in this schema: the mode class is the return "
    "flag and 'late' is ship lag > 60 days after order date — same "
    "conditional two-bucket count over a fact-fact join). Scale design: "
    "the one-year shipdate range is pushed to the lineitem scan "
    "(PushedFilters) BEFORE the orderkey shuffle join; the lag predicate "
    "is a post-join filter (non-equi, cannot be pushed); counts are "
    "conditional integer sums with map-side partial aggregation into "
    "exactly |flags| cells.",
)
def rel_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        io.load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{_Q12_FROM} 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{_Q12_TO} 00:00:00").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag", "l_shipdate")
    )
    orders = io.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q12_LAG_DAYS} DAYS")
        )
        .groupBy(F.col("l_returnflag").alias("flag_class"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_Q20_PREFIX = "small"
_Q20_FROM, _Q20_TO = "1997-01-01", "1998-01-01"
_Q20_REGION = "ASIA"


@register(
    "rel_dominant_supplier",
    sql=f"""
    WITH shipped AS (
        SELECT l.l_partkey, l.l_suppkey,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '{_Q20_PREFIX}%'
        WHERE l.l_shipdate >= TIMESTAMP '{_Q20_FROM} 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '{_Q20_TO} 00:00:00'
        GROUP BY l.l_partkey, l.l_suppkey
    ),
    dom AS (
        SELECT DISTINCT l_suppkey
        FROM (
            SELECT l_suppkey, qty,
                   SUM(qty) OVER (PARTITION BY l_partkey) AS tot
            FROM shipped
        )
        WHERE qty * 2 > tot
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = '{_Q20_REGION}'
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
    """,
    doc="TPC-H Q20-shaped dominant-supplier selection (no partsupp "
    "availqty in this schema: a supplier 'dominates' a part when it "
    "shipped more than half that part's total quantity in the year — "
    "same correlated-aggregate semi-join shape). Scale design: the "
    "part-name filter broadcasts into the fact scan with the pushed "
    "one-year range, collapsing to a (part, supplier) aggregate before "
    "any window; the per-part total is a window over the AGGREGATED "
    "frame; the final semi-join broadcasts the small dominant-supplier "
    "set against the region-filtered supplier dimension. All-integer "
    "quantities — no float compare.",
)
def rel_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        io.load(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"{_Q20_PREFIX}%"))
        .select("p_partkey")
    )
    li = (
        io.load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{_Q20_FROM} 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{_Q20_TO} 00:00:00").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    dom = (
        shipped.withColumn("tot", F.sum("qty").over(w))
        .filter(F.col("qty") * 2 > F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    supp = io.load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = io.load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = io.load(spark, sf_dir, "region").filter(F.col("r_name") == _Q20_REGION)
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(F.broadcast(dom), supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "rel_customer_percentile",
    sql="""
    WITH per_cust AS (
        SELECT c.c_custkey, n.n_name AS nation,
               CAST(COALESCE(SUM(CAST(FLOOR(CAST(o.o_totalprice AS DOUBLE) * 100.0 + 0.5)
                   AS BIGINT)), 0) AS BIGINT) AS rev_fx
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, n.n_name
    )
    SELECT nation, c_custkey,
           (rev_fx / 100.0) AS revenue,
           cume_dist() OVER (PARTITION BY nation ORDER BY rev_fx) AS revenue_cume
    FROM per_cust
    """,
    doc="Each customer's revenue percentile within their nation via "
    "CUME_DIST (the segmentation standard behind 'top-decile customer' "
    "definitions; rank-based sibling of rel_customer_rfm's absolute "
    "scores). Scale shape: revenue collapses to CUSTOMER cardinality "
    "(one custkey groupBy, LEFT join so orderless customers rank at the "
    "bottom instead of vanishing) before the nation-partitioned window "
    "— the window sorts customers, never orders; CUME_DIST is an "
    "integer peer-count over the partition size divided once, so ties "
    "on the fixed-point revenue are cross-engine identical.",
)
def rel_customer_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = io.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = io.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = io.load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    price_fx = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    per_cust = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(F.col("c_custkey"), F.col("n_name").alias("nation"))
        .agg(F.coalesce(F.sum(price_fx), F.lit(0)).cast("long").alias("rev_fx"))
    )
    w = Window.partitionBy("nation").orderBy("rev_fx")
    return per_cust.select(
        "nation",
        "c_custkey",
        (F.col("rev_fx") / 100.0).alias("revenue"),
        F.cume_dist().over(w).alias("revenue_cume"),
    )


_SLA_PCTS = (0.5, 0.9, 0.99)


@register(
    "rel_ship_latency_percentiles",
    sql=f"""
    WITH lag AS (
        SELECT o.o_orderpriority,
               (CAST(FLOOR(epoch(l.l_shipdate)) AS BIGINT)
                - CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT)) // 86400 AS lag_days
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n_lines,
           {", ".join(
               f"quantile_cont(CAST(lag_days AS DOUBLE), {p!r}) AS p{int(p * 100)}_days"
               for p in _SLA_PCTS
           )}
    FROM lag
    GROUP BY o_orderpriority
    """,
    doc="Order-to-ship latency SLA profile: exact interpolated "
    "p50/p90/p99 of the ship lag in whole days, per order priority (the "
    "fulfillment dashboard every priority tier is judged on — and the "
    "quantitative check that urgent orders actually ship faster). Scale "
    "shape: the lag collapses to an INTEGER day count in the scan "
    "(epoch-difference DIV 86400 — immune to the two engines' "
    "date_diff boundary conventions), one orderkey join, and the "
    "distributed exact percentile runs per priority group; integer "
    "inputs make every interpolated cut cross-engine exact.",
)
def rel_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = io.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # testdata ships NTZ timestamps; the session is pinned UTC
    # (tune_session) so the NTZ->LTZ cast is exact micros
    lag_days = F.expr(
        "(unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 1000000"
        " - unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 1000000) DIV 86400"
    )
    lag = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority", lag_days.alias("lag_days")
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        *[
            F.percentile(F.col("lag_days").cast("double"), F.lit(p)).alias(
                f"p{int(p * 100)}_days"
            )
            for p in _SLA_PCTS
        ],
    )


# --- Pareto / ABC inventory classification ----------------------------------
# The classic warehouse curve: rank suppliers by revenue, accumulate the
# share of total revenue, and label the head that carries 80% "A", the next
# 15% "B", the long tail "C". The interesting part at scale is the EXACT
# cumulative sum in revenue order without a single-partition global sort —
# the same two-pass quantile-bucket scheme as ingest.with_dense_id, applied
# to prefix SUMS instead of prefix counts.


@register(
    "rel_pareto_abc",
    sql="""
    WITH srev AS (
        SELECT l_suppkey,
               SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS rev_fx
        FROM lineitem GROUP BY l_suppkey
    ),
    cum AS (
        SELECT l_suppkey, rev_fx,
               SUM(rev_fx) OVER (ORDER BY rev_fx DESC, l_suppkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_fx,
               SUM(rev_fx) OVER () AS total_fx,
               row_number() OVER (ORDER BY rev_fx DESC, l_suppkey) AS rnk
        FROM srev
    )
    SELECT l_suppkey AS s_suppkey,
           rnk,
           (rev_fx / 100.0) AS revenue,
           (CAST(cum_fx AS DOUBLE) / total_fx) AS cum_share,
           CASE WHEN cum_fx * 5 <= total_fx * 4 THEN 'A'
                WHEN cum_fx * 20 <= total_fx * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum
    """,
    doc="Pareto / ABC classification of suppliers by revenue share: "
    "cumulative revenue in descending order, class A while the running "
    "share is within 80% of total, B to 95%, C after — the inventory-"
    "control curve behind 'which 20% of suppliers carry 80% of the "
    "business'. Exactness: revenues are fixed-point BIGINT cents, the "
    "running total is an integer prefix sum over a TOTAL order (rev "
    "desc, suppkey asc), and class boundaries are integer cross-"
    "multiplications (cum*5<=total*4), so no float threshold can "
    "disagree between engines. Plan shape: the fact groupBy reduces to "
    "supplier cardinality; the prefix sum then runs as the two-pass "
    "quantile-bucket scheme (ingest.with_dense_id's pattern): bucket "
    "boundaries baked as literals, per-bucket subtotal rows collected "
    "once (driver state = one row per bucket), intra-bucket running "
    "sums under a partitioned window — no single-partition sort at any "
    "cardinality. Tail buckets holding equal-revenue runs stay within "
    "one bucket by construction (boundaries are value cut points).",
)
def rel_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem")
    rev_fx = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    srev = li.groupBy("l_suppkey").agg(F.sum(rev_fx).alias("rev_fx"))

    parts = spark.sparkContext.defaultParallelism
    qs = [i / parts for i in range(1, parts)]
    bounds = (
        sorted(set(srev.stat.approxQuantile(srev.columns[1], qs, 0.001))) if qs else []
    )
    if bounds:
        bucket = sum(
            ((F.col("rev_fx").cast("double") > F.lit(b)).cast("int") for b in bounds),
            F.lit(0),
        )
    else:
        bucket = F.lit(0)
    keyed = srev.withColumn("__bkt", bucket)
    sub = {
        r["__bkt"]: (r["s"], r["c"])
        for r in keyed.groupBy("__bkt")
        .agg(F.sum("rev_fx").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    # Empty fact table => no bucket subtotals; short-circuit with the
    # declared schema rather than build a /0 cum_share expression (the SQL
    # oracle returns zero rows cleanly in the same case).
    if not sub:
        return spark.createDataFrame(
            [],
            "s_suppkey bigint, rnk bigint, revenue double, "
            "cum_share double, abc_class string",
        )
    # descending revenue order => buckets consumed from HIGHEST to lowest
    off_sum, off_cnt, acc_s, acc_c = {}, {}, 0, 0
    for b in sorted(sub, reverse=True):
        off_sum[b], off_cnt[b] = acc_s, acc_c
        acc_s += sub[b][0]
        acc_c += sub[b][1]
    total_fx = acc_s
    sum_off = F.element_at(
        F.create_map(*[F.lit(x) for b, (s, _) in sub.items() for x in (b, off_sum[b])]),
        F.col("__bkt"),
    )
    cnt_off = F.element_at(
        F.create_map(*[F.lit(x) for b, (_, c) in sub.items() for x in (b, off_cnt[b])]),
        F.col("__bkt"),
    )
    w = (
        Window.partitionBy("__bkt")
        .orderBy(F.col("rev_fx").desc(), F.col("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("__bkt").orderBy(F.col("rev_fx").desc(), F.col("l_suppkey"))
    cum_fx = (sum_off + F.sum("rev_fx").over(w)).cast("long")
    return keyed.select(
        F.col("l_suppkey").alias("s_suppkey"),
        (cnt_off + F.row_number().over(wr)).cast("long").alias("rnk"),
        (F.col("rev_fx") / 100.0).alias("revenue"),
        (cum_fx.cast("double") / F.lit(float(total_fx))).alias("cum_share"),
        F.when(cum_fx * 5 <= F.lit(total_fx * 4), F.lit("A"))
        .when(cum_fx * 20 <= F.lit(total_fx * 19), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


def basket_cap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped mass of _MB_BASKET_CAP on rel_market_basket's basket key
    ("no silent caps" discipline — same one-aggregate shape as
    dedup._cap_census over the operator's own grouping key). TPC-H-shaped
    orders hold <= 7 items so the cap never binds on this data family;
    the census is the cheap proof of that claim on ANY corpus, and
    nonzero n_members_over_cap means a mega-basket's pairs were excluded
    (a basket is the only route for its pairs — if this ever binds on
    real data, the fuzzy-edit SNM precedent applies)."""
    from exact_spark.operators.dedup import _cap_census

    li = io.load(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    return _cap_census(items, ["l_orderkey"], _MB_BASKET_CAP)
