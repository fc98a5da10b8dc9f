"""Data-quality expectation checks (the Great-Expectations/dbt-test pattern,
engine-side): declarative per-column expectations evaluated in ONE pass per
table, plus referential integrity as an anti-join — the validation gate a
pipeline runs before promoting a batch.

Scale shape: every per-column expectation folds into a single conditional
aggregate over one scan (no per-expectation pass — a 100-expectation suite
on a 100 TB table is still one scan), uniqueness rides the same scan via a
two-phase distinct count, and referential integrity reduces the referenced
side to its distinct keys before a LEFT ANTI join. Output is one row per
expectation with violation counts — tiny at any input size.

No reference counterpart (the reference validates nothing on ingest); the
pattern is the published expectation-suite shape re-expressed as Spark
conditional aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from exact_spark import io
from exact_spark.registry import register


@register(
    "dq_expectations",
    sql="""
    WITH o AS (
        SELECT count(*) AS n,
               SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS null_key,
               SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS bad_price,
               SUM(CASE WHEN o_orderpriority NOT IN
                   ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                   THEN 1 ELSE 0 END) AS bad_priority,
               count(*) - COUNT(DISTINCT o_orderkey) AS dup_keys
        FROM orders
    ),
    li AS (
        SELECT count(*) AS n,
               SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0.0 THEN 1 ELSE 0 END) AS bad_qty,
               SUM(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END) AS bad_discount
        FROM lineitem
    ),
    ri AS (
        SELECT count(*) AS orphans FROM orders o2
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o2.o_custkey)
    )
    SELECT * FROM (
        SELECT 'orders' AS tbl, 'orderkey_not_null' AS expectation,
               CAST(o.null_key AS BIGINT) AS n_violations, o.n AS n_rows FROM o
        UNION ALL
        SELECT 'orders', 'totalprice_positive', CAST(o.bad_price AS BIGINT), o.n FROM o
        UNION ALL
        SELECT 'orders', 'priority_in_domain', CAST(o.bad_priority AS BIGINT), o.n FROM o
        UNION ALL
        SELECT 'orders', 'orderkey_unique', CAST(o.dup_keys AS BIGINT), o.n FROM o
        UNION ALL
        SELECT 'lineitem', 'quantity_positive', CAST(li.bad_qty AS BIGINT), li.n FROM li
        UNION ALL
        SELECT 'lineitem', 'discount_in_0_1', CAST(li.bad_discount AS BIGINT), li.n FROM li
        UNION ALL
        SELECT 'orders', 'custkey_references_customer', CAST(ri.orphans AS BIGINT),
               (SELECT n FROM o) FROM ri
    )
    """,
    doc="Declarative expectation suite over the star schema (see module "
    "doc): null / range / domain / uniqueness expectations fold into ONE "
    "conditional-aggregate scan per table, referential integrity is a "
    "LEFT ANTI join against the distinct-reduced referenced side, and the "
    "result is one row per expectation with its violation count — the "
    "promote-or-quarantine gate shape, costing one scan per table at any "
    "size.",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    li = io.load(spark, sf_dir, "lineitem")
    cust = io.load(spark, sf_dir, "customer").select("c_custkey").distinct()

    domain = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_key"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0.0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_price"),
        F.sum(F.when(~F.col("o_orderpriority").isin(*domain), 1).otherwise(0))
        .cast("long")
        .alias("bad_priority"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_keys"),
    ).collect()[0]
    l = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0.0), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0.0) | (F.col("l_discount") > 1.0), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_discount"),
    ).collect()[0]
    orphans = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).count()

    rows = [
        ("orders", "orderkey_not_null", int(o["null_key"]), int(o["n"])),
        ("orders", "totalprice_positive", int(o["bad_price"]), int(o["n"])),
        ("orders", "priority_in_domain", int(o["bad_priority"]), int(o["n"])),
        ("orders", "orderkey_unique", int(o["dup_keys"]), int(o["n"])),
        ("lineitem", "quantity_positive", int(l["bad_qty"]), int(l["n"])),
        ("lineitem", "discount_in_0_1", int(l["bad_discount"]), int(l["n"])),
        ("orders", "custkey_references_customer", int(orphans), int(o["n"])),
    ]
    return spark.createDataFrame(
        rows, "tbl string, expectation string, n_violations long, n_rows long"
    )


# --- per-column table profile ------------------------------------------------

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "dq_schema_profile",
    sql="SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
               count(*) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM orders"""
        for c in _PROFILE_COLS
    )
    + "\n)",
    doc="Per-column table profile (the discovery pass every data platform "
    "runs on an unfamiliar table: volume, null rate, exact cardinality "
    "per column). Spark side computes ALL columns' counts + distincts in "
    "ONE aggregate over the table — multiple DISTINCT aggregates compile "
    "to a single Expand pass (|cols| row replicas, one scan, one "
    "shuffle), then unpivots the 1-row result to a row per column; the "
    "oracle's per-column UNION ALL reads the table |cols| times and "
    "states the same result. At genuinely wide tables swap exact "
    "distincts for approx_count_distinct — same plan, sketch registers "
    "instead of Expand.",
)
def dq_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = io.load(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"n_{c}"),
            (F.count(F.lit(1)) - F.count(F.col(c))).cast("long").alias(f"null_{c}"),
            F.count_distinct(F.col(c)).alias(f"dist_{c}"),
        ]
    row = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, null_{c}, dist_{c}" for c in _PROFILE_COLS
    )
    return row.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (column_name, n_rows, n_null, n_distinct)"
        )
    )


# --- full FK-edge referential-integrity audit ---------------------------------


@register(
    "dq_referential_integrity",
    sql="""
    SELECT 'lineitem.l_orderkey->orders' AS edge,
           (SELECT count(*) FROM lineitem) AS n_rows,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
    UNION ALL
    SELECT 'embeddings.vec_id->documents',
           (SELECT count(*) FROM embeddings),
           (SELECT count(*) FROM embeddings e
            WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
    """,
    doc="Whole-schema foreign-key orphan audit (the referential-integrity "
    "gate a warehouse runs before promoting a batch; extends "
    "dq_expectations' single RI probe to every FK edge, including the "
    "embeddings->documents lineage link a training pipeline depends "
    "on). Scale shape: each fact table is scanned ONCE for all of its "
    "edges — existence flags come from left joins against the "
    "referenced tables' DISTINCT keys (dimension keys broadcast; the "
    "one fact-fact edge, lineitem->orders, reduces orders to its key "
    "column before the shuffle) and every edge folds into the same "
    "conditional aggregate. Output is |edges| rows of BIGINT counts.",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _keys(table: str, key: str, marker: str) -> DataFrame:
        return (
            io.load(spark, sf_dir, table).select(key).distinct().withColumn(marker, F.lit(1))
        )

    # lineitem: one scan, three edges (orders via shuffle, dims broadcast)
    li = io.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    ok = _keys("orders", "o_orderkey", "m_ord")
    pk = F.broadcast(_keys("part", "p_partkey", "m_part"))
    sk = F.broadcast(_keys("supplier", "s_suppkey", "m_supp"))
    li_audit = (
        li.join(ok, li.l_orderkey == ok.o_orderkey, "left")
        .join(pk, li.l_partkey == pk.p_partkey, "left")
        .join(sk, li.l_suppkey == sk.s_suppkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("m_ord").isNull(), 1).otherwise(0)).cast("long").alias("orph_ord"),
            F.sum(F.when(F.col("m_part").isNull(), 1).otherwise(0)).cast("long").alias("orph_part"),
            F.sum(F.when(F.col("m_supp").isNull(), 1).otherwise(0)).cast("long").alias("orph_supp"),
        )
        .select(
            F.expr(
                "stack(3, "
                "'lineitem.l_orderkey->orders', n, orph_ord, "
                "'lineitem.l_partkey->part', n, orph_part, "
                "'lineitem.l_suppkey->supplier', n, orph_supp"
                ") AS (edge, n_rows, n_orphans)"
            )
        )
    )

    def _single_edge(edge: str, fact: str, fkey: str, ref: str, rkey: str) -> DataFrame:
        f = io.load(spark, sf_dir, fact).select(fkey)
        r = F.broadcast(_keys(ref, rkey, "m"))
        return (
            f.join(r, F.col(fkey) == F.col(rkey), "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("m").isNull(), 1).otherwise(0)).cast("long").alias("n_orphans"),
            )
            .select(F.lit(edge).alias("edge"), "n_rows", "n_orphans")
        )

    parts = [
        li_audit,
        _single_edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        _single_edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        _single_edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        _single_edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        _single_edge("embeddings.vec_id->documents", "embeddings", "vec_id", "documents", "doc_id"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "dq_crossmodal_consistency",
    sql="""
    WITH j AS (
        SELECT d.lang, e.label
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    cell AS (SELECT lang, label, count(*) AS n FROM j GROUP BY lang, label)
    SELECT lang, label, n,
           (CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE))
               AS lang_share
    FROM cell
    """,
    doc="Cross-modal metadata consistency audit: the documents.lang x "
    "embeddings.label contingency over the vec_id=doc_id lineage join "
    "(the companion check to dq_referential_integrity's orphan count — "
    "RI says every embedding HAS a document; this says the two sides' "
    "metadata AGREE in distribution, the drift a mismatched "
    "re-embedding run introduces silently). Scale shape: one equi-join "
    "on the shared key collapses straight into a tiny (lang, label) "
    "cell census; the share window runs over the CELL table. Counts "
    "integer; the share is one divide.",
)
def dq_crossmodal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = io.load(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = io.load(spark, sf_dir, "embeddings").select("vec_id", "label")
    cell = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang")
    return cell.select(
        "lang",
        "label",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias(
            "lang_share"
        ),
    )


# Benford first-digit expectations log10(1 + 1/d), embedded as fixed-point
# 1e-9 literals so neither engine evaluates a log (identical constants by
# construction — the PAPERS.md rational-form rule for log-based statistics).
_BENFORD_P_FX = {
    1: 301029996, 2: 176091259, 3: 124938737, 4: 96910013, 5: 79181246,
    6: 66946790, 7: 57991947, 8: 51152522, 9: 45757491,
}
_BENFORD_SCALE = 1_000_000_000


@register(
    "dq_benford_audit",
    sql=f"""
    WITH cents AS (
        SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
        FROM lineitem
    ),
    digits AS (
        SELECT c // CAST(POWER(10, LEN(CAST(c AS VARCHAR)) - 1) AS BIGINT) AS digit
        FROM cents
    ),
    census AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit),
    tot AS (SELECT count(*) AS n FROM digits),
    expected(digit, p_fx) AS (VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD_P_FX.items())})
    SELECT e.digit,
           CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
           e.p_fx AS benford_p_fx,
           (CAST(COALESCE(c.n_obs, 0) AS DOUBLE) / t.n) AS observed_share,
           (CAST(COALESCE(c.n_obs, 0) * {_BENFORD_SCALE} AS DOUBLE)
              / CAST(t.n * e.p_fx AS DOUBLE)) AS excess_ratio
    FROM expected e
    LEFT JOIN census c ON c.digit = e.digit, tot t
    """,
    doc="Benford first-digit audit of the price column — the classic "
    "fabricated-data screen (synthetic or truncated monetary values "
    "betray themselves by a flat first-digit histogram; natural "
    "multiplicative data follows log10(1+1/d)). First digit extracted "
    "in INTEGER arithmetic on exact cents (string-length power-of-ten "
    "division — no float log10), Benford expectations embedded as "
    "identical fixed-point literals in both engines, and the per-digit "
    "excess ratio is one divide of exact BIGINT products. Plan shape: "
    "one scan to a 9-cell census; the 9-row expectation table joins "
    "broadcast. The audit is a constant-size result at any corpus size.",
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = io.load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long").alias("c")
    )
    digit = F.expr(
        "CAST(c DIV CAST(POWER(10, LENGTH(CAST(c AS STRING)) - 1) AS BIGINT) AS BIGINT)"
    )
    census = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    # the corpus total is the sum of the census itself — a window over the
    # <=10-row digit census replaces what was a SECOND full lineitem scan
    # (the `tot` aggregate re-expanded the lineage; guide §2.4). The max
    # window after the left join re-attaches the constant total to
    # expected digits the census happens to miss.
    census = census.withColumn("n", F.sum("n_obs").over(Window.partitionBy()))
    expected = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P_FX.items()], "digit bigint, p_fx bigint"
    )
    j = (
        expected.join(census, "digit", "left")
        .withColumn("n", F.max("n").over(Window.partitionBy()))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.col("p_fx").alias("benford_p_fx"),
            (
                F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") / F.col("n")
            ).alias("observed_share"),
            (
                (F.coalesce(F.col("n_obs"), F.lit(0)) * _BENFORD_SCALE).cast("double")
                / (F.col("n") * F.col("p_fx")).cast("double")
            ).alias("excess_ratio"),
        )
    )
    return j


# (table, primary-key columns) for the whole schema — the PK-side
# companion to dq_referential_integrity's FK-edge audit.
_PK_SPEC = [
    ("region", ["r_regionkey"]),
    ("nation", ["n_nationkey"]),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]


@register(
    "dq_key_uniqueness",
    sql=" UNION ALL ".join(
        f"""
    SELECT '{t}' AS table_name,
           count(*) AS n_rows,
           CAST(COUNT(DISTINCT ({", ".join(ks)})) AS BIGINT) AS n_distinct_keys,
           CAST(count(*) - COUNT(DISTINCT ({", ".join(ks)})) AS BIGINT) AS n_dup_rows,
           CAST(SUM(CASE WHEN {" OR ".join(f"{k} IS NULL" for k in ks)} THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys
    FROM {t}"""
        for t, ks in _PK_SPEC
    ),
    doc="Primary-key uniqueness and null census for every table in the "
    "schema — the PK-side companion to dq_referential_integrity (RI "
    "proves every FK points somewhere; this proves the targets are "
    "UNIQUE, without which every join in the engine silently fans out). "
    "One column-pruned scan per table reading only the key columns, "
    "each collapsing to a single row (count-distinct shuffles on the "
    "key — at 100 TB the exact count is affordable precisely because "
    "only keys flow); lineitem audits its COMPOSITE (orderkey, "
    "linenumber) key. Constant 10-row output at any volume.",
)
def dq_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for t, ks in _PK_SPEC:
        df = io.load(spark, sf_dir, t).select(*ks)
        null_pred = F.lit(False)
        for k in ks:
            null_pred = null_pred | F.col(k).isNull()
        parts.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(*ks).cast("long").alias("n_distinct_keys"),
                (F.count(F.lit(1)) - F.countDistinct(*ks))
                .cast("long")
                .alias("n_dup_rows"),
                F.sum(F.when(null_pred, 1).otherwise(0))
                .cast("long")
                .alias("n_null_keys"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
