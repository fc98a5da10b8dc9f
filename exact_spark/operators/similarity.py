"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; the scale path (LSH /
IVF bucketing) builds on the same fixed-point kernels. All vector math is
per-element fixed-point (floor(x*1e9+0.5) -> BIGINT) so dot products and
norms are exact integers — bit-identical across engines AND across
partitionings/cluster sizes, which is what makes the result reproducible on
a 1000-executor run.

Plan shape: the query side is tiny and broadcast; candidates stream through
a single scan — no shuffle until the final per-query top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from exact_spark import artifacts, io
from exact_spark.artifacts import memo_put
from exact_spark.functions import favg, sql_fround
from exact_spark.registry import register

_SCALE9 = 1_000_000_000
_N_QUERIES = 10
_TOP_K = 5


def dot_fixed(a: Column, b: Column) -> Column:
    """Exact fixed-point dot product of two float-array columns -> BIGINT."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(float(_SCALE9)) + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)))"
)


def _sql_dot(a: str, b: str) -> str:
    return _SQL_DOT.format(a=a, b=b)


_SQL_COS = (
    "(CAST({dot} AS DOUBLE) / 1000000000.0) / "
    "(sqrt(CAST({na} AS DOUBLE) / 1000000000.0) * sqrt(CAST({nb} AS DOUBLE) / 1000000000.0))"
)


def cosine_from_fixed(dot_fx: Column, na_fx: Column, nb_fx: Column) -> Column:
    return (dot_fx.cast("double") / float(_SCALE9)) / (
        F.sqrt(na_fx.cast("double") / float(_SCALE9))
        * F.sqrt(nb_fx.cast("double") / float(_SCALE9))
    )


@register(
    "sim_topk_cosine",
    sql=f"""
    WITH norms AS (
        SELECT vec_id, embedding, label,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    q AS (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
               {_SQL_COS.format(dot=_sql_dot('q.embedding', 'c.embedding'), na='q.norm_fx', nb='c.norm_fx')} AS cosine
        FROM q JOIN norms c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, neighbor_label, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank
    FROM ranked WHERE rank <= {_TOP_K}
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast query vectors, "
    "single candidate scan, per-query top-k window; exact fixed-point "
    "dot/norm kernels.",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "embedding", "label", dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx")
    )
    q = norms.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("norm_fx").alias("q_norm_fx"),
    )
    pairs = F.broadcast(q).join(norms, F.col("vec_id") != F.col("query_id"))
    cos = cosine_from_fixed(
        dot_fixed(F.col("q_embedding"), F.col("embedding")),
        F.col("q_norm_fx"),
        F.col("norm_fx"),
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
    )


_BAND_PLANES = 6  # hyperplane bits per band -> 64 buckets per band
_NEARDUP_MIN_COS = 0.25  # testdata embeddings are near-orthogonal (max ~0.48)
# Degenerate-bucket guard, same rationale and value as dedup._LSH_BUCKET_CAP:
# a (band, bucket) holding B vectors expands to B^2/2 candidate pairs inside
# ONE task, so a hot bucket (zero / constant / mass-duplicated embeddings) is
# a quadratic blowup at scale. Buckets above the cap are dropped — members of
# a saturated sign-projection bucket are near-identical en masse, which exact
# dedup (or emb_quantize_int8's code checksum) already catches linearly.
# Mirrored in the oracle SQL so capped semantics stay oracle-checkable.
_EMB_BUCKET_CAP = 200


def _sql_proj_bit(j: int) -> str:
    # deterministic ±1 projection component from md5(plane:dim) parity;
    # per-element fixed-point then integer sum -> engine-exact sign
    return (
        f"CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
        f"i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * "
        f"(CASE WHEN substr(md5('{j}:' || CAST(i AS VARCHAR)), 1, 1) "
        f"IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END) "
        f"* 1000000000.0 + 0.5) AS BIGINT))) >= 0 THEN '1' ELSE '0' END"
    )


def _plane_signs(j: int, max_dim: int = 256) -> list[float]:
    """The hyperplane sign matrix is CONSTANT — md5('{j}:{i}') does not
    depend on the row, so it is computed once here (hashlib md5 is the
    same digest the oracle's SQL md5 produces) and shipped as literals
    instead of 12 x dim digests per row."""
    import hashlib

    return [
        1.0
        if hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0] in "89abcdef"
        else -1.0
        for i in range(1, max_dim + 1)
    ]


def _emb_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id -> (bucket0, bucket1, norm_fx) sign-projection signature
    table — the key construction sim_neardup_lsh caps on; shared with the
    cap census so the diagnostic measures exactly the operator's key."""
    # 12 interpreted higher-order projections per row: fan the single-file
    # scan out or the whole signature pass runs in one task
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    # The sign literals must cover the WIDEST embedding or F.slice +
    # zip_with null-pads the wider rows and their bucket bits collapse to
    # '0'; probe max(size) in one scalar aggregate (first() would both
    # crash on an empty table and under-probe heterogeneous widths).
    dim = emb.agg(F.max(F.size("embedding")).alias("d")).collect()[0]["d"] or 1

    def proj_bit(j: int) -> Column:
        signs = F.array(*[F.lit(x) for x in _plane_signs(j, max_dim=dim)])
        prods = F.zip_with(
            F.col("embedding"),
            F.slice(signs, 1, F.size("embedding")),
            lambda x, sg: F.floor(
                x.cast("double") * sg * F.lit(float(_SCALE9)) + F.lit(0.5)
            ).cast("long"),
        )
        s = F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
        return F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))

    return emb.select(
        "vec_id",
        "embedding",
        F.concat(*[proj_bit(j) for j in range(_BAND_PLANES)]).alias("bucket0"),
        F.concat(
            *[proj_bit(j) for j in range(_BAND_PLANES, 2 * _BAND_PLANES)]
        ).alias("bucket1"),
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )


def _emb_bands(sigs: DataFrame) -> DataFrame:
    return sigs.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.col("bucket0").alias("bucket")),
                F.struct(F.lit(1).alias("band"), F.col("bucket1").alias("bucket")),
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bucket")


@register(
    "sim_neardup_lsh",
    sql=f"""
    WITH sigs AS (
        SELECT vec_id, embedding,
               {" || ".join(_sql_proj_bit(j) for j in range(_BAND_PLANES))} AS bucket0,
               {" || ".join(_sql_proj_bit(j) for j in range(_BAND_PLANES, 2 * _BAND_PLANES))} AS bucket1,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, 0 AS band, bucket0 AS bucket FROM sigs
        UNION ALL
        SELECT vec_id, 1 AS band, bucket1 AS bucket FROM sigs
    ),
    ok AS (
        SELECT band, bucket FROM bands
        GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND {_EMB_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a
        JOIN ok o ON a.band = o.band AND a.bucket = o.bucket
        JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           {_SQL_COS.format(dot=_sql_dot('sa.embedding', 'sb.embedding'), na='sa.norm_fx', nb='sb.norm_fx')} AS cosine
    FROM cand c
    JOIN sigs sa ON sa.vec_id = c.vec_a
    JOIN sigs sb ON sb.vec_id = c.vec_b
    WHERE {_SQL_COS.format(dot=_sql_dot('sa.embedding', 'sb.embedding'), na='sa.norm_fx', nb='sb.norm_fx')} >= {_NEARDUP_MIN_COS!r}
    """,
    doc="Embedding near-dup via multi-band sign-projection LSH: 2 bands of "
    "6 deterministic md5-derived hyperplane bits (OR across bands raises "
    "recall, the standard banding trade-off); candidates dedupe BEFORE the "
    "exact cosine so each surviving pair is scored once. Candidate pairs "
    "come from ONE shuffle keyed (band, bucket): collect the bucket's "
    "vec_id list and expand in place (no bands self-join), with buckets "
    "above the degenerate-bucket cap dropped (_EMB_BUCKET_CAP — same guard "
    "as the text LSH variants).",
)
def sim_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _emb_sigs(spark, sf_dir).cache()
    # the signature table feeds both band sides and both cosine sides; at
    # scale this is the materialized signature table
    bands = _emb_bands(sigs)
    grouped = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _EMB_BUCKET_CAP))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("vec_a"), y.alias("vec_b")),
            ),
        )
    )
    cand = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.vec_a", "p.vec_b")
        .distinct()
    )
    sa = sigs.select(
        F.col("vec_id").alias("sa_id"), F.col("embedding").alias("sa_emb"),
        F.col("norm_fx").alias("sa_norm"),
    )
    sb = sigs.select(
        F.col("vec_id").alias("sb_id"), F.col("embedding").alias("sb_emb"),
        F.col("norm_fx").alias("sb_norm"),
    )
    cos = cosine_from_fixed(
        dot_fixed(F.col("sa_emb"), F.col("sb_emb")),
        F.col("sa_norm"),
        F.col("sb_norm"),
    )
    return (
        cand.join(sa, F.col("vec_a") == F.col("sa_id"))
        .join(sb, F.col("vec_b") == F.col("sb_id"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= _NEARDUP_MIN_COS)
    )


_N_CELLS = 16  # IVF coarse quantizer size (deterministic seed centroids)
_N_PROBE = 4  # cells probed per query


@register(
    "sim_topk_ivf",
    sql=f"""
    WITH norms AS (
        SELECT vec_id, embedding, label,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    cent AS (SELECT * FROM norms WHERE vec_id < {_N_CELLS}),
    assign_scored AS (
        SELECT v.vec_id, v.embedding, v.label, v.norm_fx, c.vec_id AS cell,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_SQL_COS.format(dot=_sql_dot('v.embedding', 'c.embedding'), na='v.norm_fx', nb='c.norm_fx')} DESC,
                            c.vec_id
               ) AS cr
        FROM norms v, cent c
    ),
    assigned AS (SELECT vec_id, embedding, label, norm_fx, cell FROM assign_scored WHERE cr = 1),
    q AS (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}),
    probes AS (
        SELECT query_id, q_embedding, q_norm_fx, cell FROM (
            SELECT q.vec_id AS query_id, q.embedding AS q_embedding,
                   q.norm_fx AS q_norm_fx, c.vec_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_COS.format(dot=_sql_dot('q.embedding', 'c.embedding'), na='q.norm_fx', nb='c.norm_fx')} DESC,
                                c.vec_id
                   ) AS pr
            FROM q, cent c
        ) WHERE pr <= {_N_PROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
               {_SQL_COS.format(dot=_sql_dot('p.q_embedding', 'a.embedding'), na='p.q_norm_fx', nb='a.norm_fx')} AS cosine
        FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM cand
    ) WHERE rank <= {_TOP_K}
    """,
    doc="IVF-bucketed ANN top-k (the 100 TB scale path next to the "
    "brute-force baseline): 16 deterministic seed centroids, cell "
    "assignment in one scan against the broadcast centroid table, queries "
    "probe their 4 nearest cells, exact cosine only inside probed cells. "
    "At scale the assigned table is written bucketed by cell so a probe "
    "touches ~nprobe/ncells of the data; centroids come from MLlib KMeans "
    "instead of seed rows.",
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "embedding", "label",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    cent = norms.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_embedding"),
        F.col("norm_fx").alias("c_norm_fx"),
    )
    return _ivf_topk(norms, cent)


def _ivf_topk(norms: DataFrame, cent: DataFrame, n_probe: int = _N_PROBE) -> DataFrame:
    """IVF search core shared by the seed-row and KMeans-trained variants:
    broadcast the tiny centroid table, assign each vector to its argmax-cosine
    cell, probe each query's n_probe nearest cells, exact cosine only inside
    probed cells, per-query top-k."""
    # cell assignment: broadcast the tiny centroid table, argmax cosine
    a_cos = cosine_from_fixed(
        dot_fixed(F.col("embedding"), F.col("c_embedding")),
        F.col("norm_fx"),
        F.col("c_norm_fx"),
    )
    wa = Window.partitionBy("vec_id").orderBy(a_cos.desc(), F.col("cell"))
    assigned = (
        norms.crossJoin(F.broadcast(cent))
        .withColumn("cr", F.row_number().over(wa))
        .filter(F.col("cr") == 1)
        .select("vec_id", "embedding", "label", "norm_fx", "cell")
    )

    # query probes: nprobe nearest cells per query vector
    q = norms.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("norm_fx").alias("q_norm_fx"),
    )
    p_cos = cosine_from_fixed(
        dot_fixed(F.col("q_embedding"), F.col("c_embedding")),
        F.col("q_norm_fx"),
        F.col("c_norm_fx"),
    )
    wp = Window.partitionBy("query_id").orderBy(p_cos.desc(), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "q_embedding", "q_norm_fx", "cell")
    )

    cand_cos = cosine_from_fixed(
        dot_fixed(F.col("q_embedding"), F.col("embedding")),
        F.col("q_norm_fx"),
        F.col("norm_fx"),
    )
    cand = (
        assigned.join(
            F.broadcast(probes),
            (assigned["cell"] == probes["cell"])
            & (assigned["vec_id"] != probes["query_id"]),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cand_cos.alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(wr)).filter(F.col("rank") <= _TOP_K)


_KMEANS_SEED = 42
_KMEANS_SAMPLE_HEX = "8"  # md5 prefix cutoff: ~50% partition-stable sample
_IVF_TARGET_RECALL = 0.99  # the tuner's validation recall@k target
_N_VAL_QUERIES = 10


def _tuned_nprobe(norms: DataFrame, cent: DataFrame, target: float) -> int:
    """Recall-targeted nprobe in ONE pass (the FAISS measure-then-tune
    posture, distributed): an exact-top-k neighbor is retrieved by IVF iff
    its assigned cell is among the query's probed cells, so recall(nprobe)
    is exactly the CDF of the probe-rank of each true neighbor's cell over
    a validation query set. Compute those probe-ranks once (nq x k tiny
    rows), take the ceil(target * N)-th smallest — no per-nprobe re-search.
    Validation queries are md5-ordered rows disjoint from the serving
    queries, so the tuned value carries no leakage from the queries it
    will serve."""
    val = (
        norms.filter(F.col("vec_id") >= _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
            F.col("norm_fx").alias("q_norm_fx"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "query_id")
        .limit(_N_VAL_QUERIES)
        .drop("h")
    )
    q_cos = cosine_from_fixed(
        dot_fixed(F.col("q_embedding"), F.col("embedding")),
        F.col("q_norm_fx"),
        F.col("norm_fx"),
    )
    # exact top-k neighbors of each validation query
    wk = Window.partitionBy("query_id").orderBy(q_cos.desc(), F.col("vec_id"))
    exact = (
        F.broadcast(val)
        .join(norms, F.col("vec_id") != F.col("query_id"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # cell of every vector (same argmax-cosine rule the server uses)
    a_cos = cosine_from_fixed(
        dot_fixed(F.col("embedding"), F.col("c_embedding")),
        F.col("norm_fx"),
        F.col("c_norm_fx"),
    )
    wa = Window.partitionBy("vec_id").orderBy(a_cos.desc(), F.col("cell"))
    assigned = (
        norms.crossJoin(F.broadcast(cent))
        .withColumn("cr", F.row_number().over(wa))
        .filter(F.col("cr") == 1)
        .select(F.col("vec_id").alias("n_id"), F.col("cell").alias("n_cell"))
    )
    # probe rank of every cell for each validation query
    p_cos = cosine_from_fixed(
        dot_fixed(F.col("q_embedding"), F.col("c_embedding")),
        F.col("q_norm_fx"),
        F.col("c_norm_fx"),
    )
    wp = Window.partitionBy("query_id").orderBy(p_cos.desc(), F.col("cell"))
    ranks = (
        val.crossJoin(F.broadcast(cent))
        .withColumn("pr", F.row_number().over(wp))
        .select(F.col("query_id").alias("r_qid"), F.col("cell").alias("r_cell"), "pr")
    )
    prs = sorted(
        r["pr"]
        for r in exact.join(assigned, F.col("neighbor_id") == F.col("n_id"))
        .join(
            ranks,
            (F.col("query_id") == F.col("r_qid")) & (F.col("n_cell") == F.col("r_cell")),
        )
        .select("pr")
        .collect()
    )
    if not prs:
        return _N_PROBE
    import math

    return prs[min(len(prs) - 1, max(0, math.ceil(target * len(prs)) - 1))]


@register(
    "sim_topk_ivf_kmeans",
    sql=None,  # centroids come from an iterative MLlib fit — not SQL-expressible
    doc="IVF ANN top-k with a REAL trained coarse quantizer: spherical "
    "KMeans (MLlib, fixed seed) on L2-normalized vectors replaces the "
    "seed-row centroids of sim_topk_ivf, and nprobe is AUTO-TUNED to a "
    "validation recall@k target instead of hard-coded — on clustered "
    "corpora the tuner lands on a few probes, on structureless data it "
    "honestly widens toward a full scan to hold the recall contract. "
    "Training excludes the serving queries and reads a partition-stable "
    "md5-capped sample (the quantizer needs a representative sample, not "
    "the corpus); the k centroids come back to the driver as k tiny arrays "
    "and broadcast into the assignment scan; search reuses the exact "
    "_ivf_topk core. Quality is measured, not guessed: "
    "sim_ivf_kmeans_recall reports recall@k vs the exact baseline, and the "
    "regression test pins it >= the seed-row index.",
)
def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    cent = _kmeans_centroids(spark, sf_dir, _N_CELLS, exclude_queries=True)
    norms = emb.select(
        "vec_id", "embedding", "label",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    # the tuned nprobe is part of the trained-index ARTIFACT (see
    # _KMEANS_MEMO): deterministic given (corpus, centers, target), tuned
    # once and served thereafter. Cache the centroid frame ONLY while the
    # tuner shares it with the search — on memoized calls the frame is
    # read once and caching it would just leak one cached RDD per query
    key = (sf_dir, _N_CELLS, _IVF_TARGET_RECALL)
    if key not in _NPROBE_MEMO:
        cent = cent.cache()
        memo_put(_NPROBE_MEMO, key, _tuned_nprobe(norms, cent, _IVF_TARGET_RECALL))
    return _ivf_topk(norms, cent, n_probe=_NPROBE_MEMO[key])


_NPROBE_MEMO: dict[tuple[str, int, float], int] = {}


# Trained-quantizer memo: the fit is deterministic (fixed seed, fixed
# md5-stable sample), so the centers for a given (corpus, k, exclusion) are
# a persistent model ARTIFACT — a production index trains its quantizer
# once and serves it for months, it does not refit per query. Serving
# queries (search, dedup, recall diagnostics) reuse the artifact; only the
# tiny driver-side center list is memoized, never session-bound state.
_KMEANS_MEMO: dict[tuple[str, int, bool], list[list[float]]] = {}


def _kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int, exclude_queries: bool = False
) -> DataFrame:
    """Spherical-KMeans coarse quantizer shared by the trained-IVF and
    semantic-dedup paths: fit euclidean KMeans (MLlib, fixed seed) on
    L2-NORMALIZED vectors — on the unit sphere euclidean argmin == cosine
    argmax, the metric both consumers rank by. Training reads a
    partition-stable md5-capped sample (a representative sample trains the
    quantizer as well as the corpus does); the k centers come back to the
    driver as k tiny arrays (memoized, see _KMEANS_MEMO) and return as a
    broadcastable (cell, c_embedding, c_norm_fx) frame."""
    key = (sf_dir, k, exclude_queries)
    if key in _KMEANS_MEMO:
        centers = _KMEANS_MEMO[key]
        cent_rows = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            "cell INT, c_embedding ARRAY<DOUBLE>",
        )
        return cent_rows.select(
            "cell",
            "c_embedding",
            dot_fixed(F.col("c_embedding"), F.col("c_embedding")).alias("c_norm_fx"),
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = io.load(spark, sf_dir, "embeddings")
    if exclude_queries:
        emb = emb.filter(F.col("vec_id") >= _N_QUERIES)  # serving queries stay out
    l2 = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    train = (
        emb.filter(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
            < _KMEANS_SAMPLE_HEX
        )
        .select(
            array_to_vector(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.when(l2 > 0, x.cast("double") / l2).otherwise(0.0),
                )
            ).alias("features")
        )
        .cache()  # init pass + every Lloyd iteration re-reads it
    )
    # initMode='random' (seeded): k-means|| init costs several extra
    # distributed passes that dominate the whole fit on a sampled training
    # set — measured 4.5s -> 1.0s at this scale with identical recall
    # (the sim_ivf_kmeans_recall regression test pins quality)
    model = KMeans(k=k, seed=_KMEANS_SEED, maxIter=10, initMode="random").fit(train)
    train.unpersist()
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    memo_put(_KMEANS_MEMO, key, centers)
    cent_rows = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "cell INT, c_embedding ARRAY<DOUBLE>"
    )
    return cent_rows.select(
        "cell",
        "c_embedding",
        dot_fixed(F.col("c_embedding"), F.col("c_embedding")).alias("c_norm_fx"),
    )


@register(
    "sim_knn_classify",
    sql=f"""
    WITH norms AS (
        SELECT vec_id, embedding, label,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    q AS (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}),
    pairs AS (
        SELECT q.vec_id AS query_id, q.label AS true_label, c.label AS neighbor_label,
               {_SQL_COS.format(dot=_sql_dot('q.embedding', 'c.embedding'), na='q.norm_fx', nb='c.norm_fx')} AS cosine,
               c.vec_id AS neighbor_id
        FROM q JOIN norms c ON c.vec_id <> q.vec_id
    ),
    topk AS (
        SELECT * FROM (
            SELECT query_id, true_label, neighbor_label,
                   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM pairs
        ) WHERE rank <= {_TOP_K}
    ),
    votes AS (
        SELECT query_id, true_label, neighbor_label AS predicted_label, count(*) AS n_votes
        FROM topk GROUP BY query_id, true_label, neighbor_label
    )
    SELECT query_id, true_label, predicted_label, n_votes FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, predicted_label) AS vr
        FROM votes
    ) WHERE vr = 1
    """,
    doc="kNN majority-vote classification over the cosine top-k (similarity "
    "search consumer path); deterministic tie-breaks.",
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "embedding", "label", dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx")
    )
    q = norms.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_embedding"),
        F.col("norm_fx").alias("q_norm_fx"),
    )
    pairs = F.broadcast(q).join(norms, F.col("vec_id") != F.col("query_id"))
    cos = cosine_from_fixed(
        dot_fixed(F.col("q_embedding"), F.col("embedding")),
        F.col("q_norm_fx"),
        F.col("norm_fx"),
    )
    scored = pairs.select(
        "query_id",
        "true_label",
        F.col("label").alias("neighbor_label"),
        cos.alias("cosine"),
        F.col("vec_id").alias("neighbor_id"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    topk = scored.withColumn("rank", F.row_number().over(wk)).filter(F.col("rank") <= _TOP_K)
    votes = topk.groupBy("query_id", "true_label", F.col("neighbor_label").alias("predicted_label")).agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("predicted_label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", "predicted_label", "n_votes")
    )


# --- int8 embedding quantization (storage path at 100 TB) -------------------


@register(
    "emb_quantize_int8",
    sql=f"""
    WITH q AS (
        SELECT vec_id,
               len(embedding) AS dim,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
                   AS scale,
               embedding
        FROM embeddings
    ),
    codes AS (
        SELECT vec_id, dim, scale,
               CASE WHEN scale = 0
                    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(embedding, x ->
                        GREATEST(-127, LEAST(127,
                            CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))))
               END AS q,
               CASE WHEN scale = 0
                    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(embedding, x ->
                        CAST(FLOOR(abs(CAST(x AS DOUBLE)
                             - CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)
                               * scale) * 1000000000.0 + 0.5) AS BIGINT))
               END AS err_fx
        FROM q
    )
    SELECT vec_id, dim,
           CAST(FLOOR(scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_fx,
           len(list_filter(q, x -> abs(x) = 127)) AS n_sat,
           len(list_filter(q, x -> x = 0)) AS n_zero,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS sum_abs_q,
           CAST(list_max(err_fx) AS DOUBLE) / 1000000000.0 AS max_abs_err,
           md5(array_to_string(q, ',')) AS code_checksum
    FROM codes
    """,
    doc="Symmetric per-row int8 quantization of the embedding column — the "
    "4x storage/bandwidth shrink an embedding corpus takes before ANN "
    "serving at scale. scale = max|x|/127; codes are floor(x/scale + 0.5) "
    "clamped to [-127, 127]; the md5 checksum over the exact code sequence "
    "pins bit-level parity with the oracle, and the fixed-point "
    "reconstruction-error stats quantify the quality loss. Pure per-row "
    "array math: one scan, whole-stage codegen, zero shuffles at any "
    "scale.",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    scale = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x)))) / 127.0
    q = F.when(
        F.col("scale") == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.floor(xd(x) / F.col("scale") + 0.5).cast("long"),
                ),
            ),
        )
    )
    err = F.when(
        F.col("scale") == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                F.abs(
                    xd(x)
                    - F.floor(xd(x) / F.col("scale") + 0.5).cast("long") * F.col("scale")
                )
                * 1_000_000_000.0
                + 0.5
            ).cast("long"),
        )
    )
    codes = emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        scale.alias("scale"),
        "embedding",
    ).select("vec_id", "dim", "scale", q.alias("q"), err.alias("err_fx"))
    return codes.select(
        "vec_id",
        "dim",
        F.floor(F.col("scale") * 1_000_000_000.0 + 0.5).cast("long").alias("scale_fx"),
        F.size(F.filter(F.col("q"), lambda x: F.abs(x) == 127)).cast("long").alias("n_sat"),
        F.size(F.filter(F.col("q"), lambda x: x == 0)).cast("long").alias("n_zero"),
        F.aggregate(
            F.transform(F.col("q"), lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_abs_q"),
        (F.array_max("err_fx").cast("double") / 1_000_000_000.0).alias("max_abs_err"),
        F.md5(F.concat_ws(",", F.transform(F.col("q"), lambda x: x.cast("string")))).alias(
            "code_checksum"
        ),
    )


# --- ANN quality diagnostic: IVF recall against the exact baseline ----------

from exact_spark.registry import REGISTRY as _REGISTRY  # noqa: E402


def _ivf_recall_sql() -> str:
    return f"""
    WITH ex AS ({_REGISTRY['sim_topk_cosine'].sql}),
    ap AS ({_REGISTRY['sim_topk_ivf'].sql}),
    hits AS (
        SELECT e.query_id, count(a.neighbor_id) AS n_hits
        FROM ex e LEFT JOIN ap a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT query_id, n_hits,
           CAST(n_hits AS DOUBLE) / {_TOP_K} AS recall_at_k
    FROM hits
    """


@register(
    "sim_ivf_recall",
    sql=_ivf_recall_sql(),  # composes the two sibling specs (already registered)
    doc="Measure-don't-guess for the ANN scale path: per-query recall@k of "
    "the IVF index against the exact brute-force top-k — the number every "
    "nprobe/ncells tuning decision should be read off, computed "
    "distributed (set intersection as a join on (query_id, neighbor_id), "
    "one groupBy). Both rankings come from the registered operators "
    "themselves, so the diagnostic can never drift from what the engine "
    "actually serves.",
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = sim_topk_cosine(spark, sf_dir)
    ap = sim_topk_ivf(spark, sf_dir)
    return _recall_vs_exact(ex, ap)


def _recall_vs_exact(ex: DataFrame, ap: DataFrame) -> DataFrame:
    """Per-query recall@k of an approximate (query_id, neighbor_id) ranking
    against the exact one: set intersection as a join, one groupBy."""
    ex = ex.select("query_id", "neighbor_id")
    ap = ap.select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    hits = (
        ex.join(
            ap,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_nid").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        (F.col("n_hits").cast("double") / _TOP_K).alias("recall_at_k"),
    )


@register(
    "sim_ivf_kmeans_recall",
    sql=None,  # inherits the non-SQL-expressible KMeans fit
    doc="recall@k of the KMeans-trained IVF index (sim_topk_ivf_kmeans) "
    "against the exact brute-force top-k — same measure-don't-guess "
    "composition as sim_ivf_recall, so the trained quantizer's quality "
    "claim is produced by the engine itself.",
)
def sim_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = sim_topk_cosine(spark, sf_dir)
    ap = sim_topk_ivf_kmeans(spark, sf_dir)
    return _recall_vs_exact(ex, ap)


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDedup; Abbas et al. 2023): cluster the embedding
# space with a coarse quantizer, then compare vectors ONLY within their
# cluster — pairwise cosine never crosses cluster boundaries, so the
# quadratic term is bounded by the cluster size, not the corpus. A vector is
# dropped when a LOWER-id member of its cluster sits above the duplicate
# threshold (the deterministic keep-the-first-representative rule).
#
# Scale shape: k is OCCUPANCY-DRIVEN — k = max(_SEM_K_MIN, ceil(N /
# _SEM_TARGET_OCC)), computed from the corpus row count on both engines
# (Spark counts the parquet; the oracle's scalar subquery mirrors the same
# formula), so the MEAN cluster size stays ~_SEM_TARGET_OCC at any corpus
# size and total within-cluster pair work stays LINEAR in N (occ^2/2 pairs
# per cluster x N/occ clusters = N*occ/2). Candidate
# pairs come from ONE shuffle keyed on the cluster id — the bucket's members
# collect in place and the pair expansion happens inside the row, the same
# collect-expand form as dedup_minhash_lsh. The cosine is computed INSIDE
# the array expression so the expanded pair array holds (id_a, id_b,
# cosine) scalars, never two full vectors per pair.
#
# Over-cap clusters are CHUNKED, never dropped (r06 verdict: the old
# size<=cap filter silently excluded every vector of an over-cap cluster —
# with fixed k, cluster size ~N/k crosses the cap between scale factors and
# both semantic queries returned 0 rows at sf0.1). Unlike the banded LSH
# bucket caps, a k-means cell is each vector's ONLY candidate route, so the
# guard must bound work without severing routes: members of a cluster are
# ordered by a coarse quantized-embedding prefix (floor(x_i * 8) over the
# first _SEM_PREFIX_DIMS dims — *8 is a power of two, so the float->double
# widening, multiply, and floor are bit-exact in both engines) and
# row_number-chunked into groups of <= _SEM_CLUSTER_CAP. Near-identical
# vectors have near-identical prefixes, so they sort adjacent and land in
# the same chunk; each chunk's pairwise expansion stays <= cap^2/2 per row.
# The chunk id is assigned BEFORE collect_list, so no collected row ever
# holds more than cap members (the old form collected the whole cluster
# into ONE array first and filtered after — an OOM at scale). The residual
# skew cost is the row_number window itself: one task still SORTS each
# over-cap cluster (Spark window sorts spill to disk, so this is a
# wall-clock hotspot, not an OOM) — with occupancy-driven k the EXPECTED
# cluster is ~_SEM_TARGET_OCC rows regardless of N, so only genuine
# density skew (not corpus growth) can push a single task's sort over
# cap, and sem_chunk_census() prices exactly that exposure. A hash-salted
# pre-split would bound the sort too but would scatter near-identical
# vectors across salts and destroy exactly the recall the prefix ordering
# exists to preserve. Recall loss is
# confined to pairs straddling a chunk boundary of an over-cap cluster;
# sem_chunk_census() (tests/test_cap_diagnostics.py) measures how often
# the cap binds, per the no-silent-caps rule.

_SEM_K_MIN = 8  # floor on cluster count (tiny-corpus safety)
_SEM_TARGET_OCC = 64  # target MEAN members per cluster; k = ceil(N / occ)
_SEM_DUP_COS = 0.30  # semantic-duplicate threshold for this corpus
_SEM_CLUSTER_CAP = 200  # chunk size bound (work guard), NOT a drop filter
_SEM_PREFIX_DIMS = 8  # quantized-prefix dims for the chunk ordering

# Oracle mirror of _sem_k(): DuckDB derives the SAME occupancy-driven k
# from the corpus itself via a scalar subquery, so Spark and the oracle
# always agree on the cluster count at every scale factor.
_SEM_K_SQL = (
    f"GREATEST({_SEM_K_MIN}, CAST(CEIL((SELECT COUNT(*) FROM embeddings)"
    f" / {_SEM_TARGET_OCC}.0) AS BIGINT))"
)

_SEM_N_MEMO: dict[str, int] = {}


def _sem_corpus_n(spark: SparkSession, sf_dir: str) -> int:
    """Corpus row count feeding the occupancy-driven k — one
    metadata-cheap parquet count per corpus, memoized (artifacts.memo_put
    discipline: rebuildable, FIFO-bounded)."""
    if sf_dir not in _SEM_N_MEMO:
        memo_put(_SEM_N_MEMO, sf_dir, io.load(spark, sf_dir, "embeddings").count())
    return _SEM_N_MEMO[sf_dir]


def _sem_k(n: int) -> int:
    """Occupancy-driven cluster count: k = max(_SEM_K_MIN, ceil(n /
    _SEM_TARGET_OCC)). Mean cluster size stays ~_SEM_TARGET_OCC at any
    corpus size, so per-cluster pair expansion is O(occ^2) and total
    within-cluster work is LINEAR in n — the scale property the module
    comment describes, implemented rather than assumed. Must stay the
    exact integer mirror of _SEM_K_SQL."""
    return max(_SEM_K_MIN, -(-n // _SEM_TARGET_OCC))


def _assign_members(norms: DataFrame, cent: DataFrame) -> DataFrame:
    """argmax-cosine cluster assignment against a broadcast centroid table:
    one scan, no shuffle until the assignment window on vec_id."""
    a_cos = cosine_from_fixed(
        dot_fixed(F.col("embedding"), F.col("c_embedding")),
        F.col("norm_fx"),
        F.col("c_norm_fx"),
    )
    wa = Window.partitionBy("vec_id").orderBy(a_cos.desc(), F.col("cell"))
    return (
        norms.crossJoin(F.broadcast(cent))
        .withColumn("cr", F.row_number().over(wa))
        .filter(F.col("cr") == 1)
        .select("vec_id", "embedding", "norm_fx", F.col("cell").alias("cluster"))
    )


def _semantic_dropped(
    members: DataFrame, tau: float = _SEM_DUP_COS, cap: int = _SEM_CLUSTER_CAP
) -> DataFrame:
    """Within-cluster collect-expand: chunk each cluster into groups of
    <= cap members ordered by the quantized-embedding prefix (see module
    comment — over-cap clusters are split, never dropped), expand i<j
    pairs in place with the cosine computed inside the array expression,
    keep pairs >= tau, then reduce to one row per dropped vector
    (dup_of = its lowest qualifying representative)."""
    # explicit NULLS FIRST: embeddings shorter than the prefix yield NULL
    # quantized dims, and Spark's default (nulls first) differs from
    # DuckDB's (nulls last) — the oracle spells NULLS FIRST to match
    order_cols = [
        F.floor(F.col("embedding")[i].cast("double") * F.lit(8.0)).asc_nulls_first()
        for i in range(_SEM_PREFIX_DIMS)
    ] + [F.col("vec_id")]
    wc = Window.partitionBy("cluster").orderBy(*order_cols)
    chunked = members.withColumn(
        "chunk", F.floor((F.row_number().over(wc) - F.lit(1)) / F.lit(cap))
    )
    grouped = (
        chunked.groupBy("cluster", "chunk")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "norm_fx", "embedding"))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    ms = F.col("ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda a, i: F.filter(
                F.transform(
                    F.slice(ms, i + F.lit(2), F.size(ms)),
                    lambda b: F.struct(
                        a["vec_id"].alias("doc_a"),
                        b["vec_id"].alias("doc_b"),
                        cosine_from_fixed(
                            dot_fixed(a["embedding"], b["embedding"]),
                            a["norm_fx"],
                            b["norm_fx"],
                        ).alias("cosine"),
                    ),
                ),
                lambda p: p["cosine"] >= F.lit(tau),
            ),
        )
    )
    pairs = grouped.select("cluster", F.explode(pair_structs).alias("p")).select(
        "cluster", "p.doc_a", "p.doc_b", "p.cosine"
    )
    return pairs.groupBy(F.col("doc_b").alias("vec_id")).agg(
        F.min("cluster").alias("cluster"),
        F.min("doc_a").alias("dup_of"),
        F.min_by("cosine", "doc_a").alias("cosine"),
    )


@register(
    "dedup_semantic",
    sql=f"""
    WITH norms AS (
        SELECT vec_id, embedding,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, embedding AS cemb, norm_fx AS cnf
             FROM norms WHERE vec_id < {_SEM_K_SQL}),
    assign_scored AS (
        SELECT v.vec_id, v.embedding, v.norm_fx, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_SQL_COS.format(dot=_sql_dot('v.embedding', 'c.cemb'), na='v.norm_fx', nb='c.cnf')} DESC,
                            c.cid
               ) AS cr
        FROM norms v, cent c
    ),
    members AS (SELECT vec_id, embedding, norm_fx, cid FROM assign_scored WHERE cr = 1),
    chunked AS (
        SELECT vec_id, embedding, norm_fx, cid,
               (row_number() OVER (
                   PARTITION BY cid
                   ORDER BY {", ".join(f"FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 8.0) NULLS FIRST" for i in range(_SEM_PREFIX_DIMS))}, vec_id
               ) - 1) // {_SEM_CLUSTER_CAP} AS chunk
        FROM members
    ),
    pairs AS (
        SELECT a.cid AS cluster, a.vec_id AS doc_a, b.vec_id AS doc_b,
               {_SQL_COS.format(dot=_sql_dot('a.embedding', 'b.embedding'), na='a.norm_fx', nb='b.norm_fx')} AS cosine
        FROM chunked a
        JOIN chunked b ON a.cid = b.cid AND a.chunk = b.chunk AND a.vec_id < b.vec_id
    )
    SELECT doc_b AS vec_id, MIN(cluster) AS cluster, MIN(doc_a) AS dup_of,
           arg_min(cosine, doc_a) AS cosine
    FROM pairs WHERE cosine >= {_SEM_DUP_COS}
    GROUP BY doc_b
    """,
    doc="SemDedup semantic near-duplicate removal: assign every vector to "
    "its argmax-cosine cluster (broadcast seed centroids, one scan), then "
    "pairwise cosine ONLY within clusters via the chunked collect-expand "
    "form — one shuffle keyed on the cluster id, cosines computed inside "
    "the array expression so expanded pairs carry scalars, never vectors. "
    "Occupancy policy: a cluster larger than _SEM_CLUSTER_CAP is split "
    "into <=cap chunks ordered by the quantized-embedding prefix (never "
    "dropped — every vector keeps a candidate route at any corpus size; "
    "the cap bounds per-row pair expansion, and the chunk id is assigned "
    "before collect_list so no task materializes an unbounded cluster). "
    "A vector is dropped when a lower-id chunk-mate exceeds the "
    "threshold; dup_of is its lowest such representative. k is "
    "OCCUPANCY-DRIVEN (max(8, ceil(N/64)), same formula on both engines) "
    "so mean cluster size — and with it per-task sort and pair work — "
    "stays constant as the corpus grows. "
    "dedup_semantic_kmeans swaps the seed centroids for a trained "
    "quantizer at scale.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    k = _sem_k(_sem_corpus_n(spark, sf_dir))
    norms = emb.select(
        "vec_id", "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    cent = norms.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_embedding"),
        F.col("norm_fx").alias("c_norm_fx"),
    )
    return _semantic_dropped(_assign_members(norms, cent))


@register(
    "dedup_semantic_kmeans",
    sql=None,  # centroids come from an iterative MLlib fit — not SQL-expressible
    doc="SemDedup with a TRAINED coarse quantizer: spherical KMeans "
    "centroids (shared _kmeans_centroids helper, fixed seed) replace the "
    "seed rows of dedup_semantic, tightening clusters so the within-"
    "cluster duplicate search sees semantically-coherent candidates — the "
    "production configuration of the same chunked collect-expand plan "
    "(same occupancy policy: over-cap clusters split by quantized-prefix "
    "chunking, never dropped; same occupancy-driven k = max(8, "
    "ceil(N/64)) sizing the trained quantizer).",
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    cent = _kmeans_centroids(spark, sf_dir, _sem_k(_sem_corpus_n(spark, sf_dir)))
    norms = emb.select(
        "vec_id", "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    return _semantic_dropped(_assign_members(norms, cent))


# ---------------------------------------------------------------------------
# Product quantization (PQ; Jegou et al. 2011) — the embedding COMPRESSION
# scale path: split each 64-dim vector into _PQ_M subspaces, encode every
# subspace as its nearest codeword id (4 bits here), store M small codes
# instead of 64 floats (64x compression at these parameters). Search runs
# against the codes via asymmetric distance computation (ADC): the query
# builds one tiny lookup table of exact subspace distances to every
# codeword, and each candidate's distance is M table lookups — no float
# vector is ever touched at scan time.
#
# Codebooks here are the sub-vectors of the first _PQ_K embeddings (the
# seed-row pattern sim_topk_ivf uses, which keeps the whole operator
# SQL-expressible for the oracle); at scale the codebooks come from
# per-subspace KMeans exactly like _kmeans_centroids. Either way the
# codebook is tiny and ships to every task as literals — the FAISS
# deployment shape — so encode and search are ONE zero-shuffle scan each
# (search adds only the final per-query top-k).
#
# All distances are per-element fixed-point (floor((x-c)^2 * 1e9 + 0.5) ->
# BIGINT sums), bit-identical across engines and partitionings.

_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (M * SUB = embedding dim)
_PQ_K = 16  # codewords per subspace -> 4-bit codes


_PQ_CODEBOOK_MEMO: dict[str, list[list[list[float]]]] = {}


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """codebook[m][k] = subspace-m sub-vector of seed embedding k, collected
    to the driver (K tiny arrays, the trained-model artifact — memoized per
    corpus like _KMEANS_MEMO, so encode+search compositions collect it
    once)."""
    if sf_dir in _PQ_CODEBOOK_MEMO:
        return _PQ_CODEBOOK_MEMO[sf_dir]
    emb = io.load(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    cb = [
        [by_id[k][m * _PQ_SUB : (m + 1) * _PQ_SUB] for k in range(_PQ_K)]
        for m in range(_PQ_M)
    ]
    memo_put(_PQ_CODEBOOK_MEMO, sf_dir, cb)
    return cb


def _codebook_col(cb: list[list[list[float]]]) -> Column:
    """The whole codebook as ONE literal array<array<array<double>>> column
    (cb_col[m][k][j]). Everything downstream walks it with higher-order
    functions — the generated code is a LOOP over the literal, not 1024
    unrolled terms, so it stays inside the JVM's 64 KB method limit and
    whole-stage codegen (the unrolled form compiled to interpreted
    fallback)."""
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(v) for v in cw]) for cw in cbm])
            for cbm in cb
        ]
    )


def _sub_dist_hof(sub: Column, cw: Column) -> Column:
    """Fixed-point squared L2 distance between a sub-vector column and a
    codeword column, as a fold (zip_with + aggregate)."""
    diffs = F.zip_with(
        sub,
        cw,
        lambda x, y: F.floor(
            (x.cast("double") - y) * (x.cast("double") - y) * F.lit(float(_SCALE9))
            + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda a, v: a + v)


def _pq_best(emb: Column, cb_col: Column) -> Column:
    """array of _PQ_M structs (d, k): per subspace, the argmin-distance
    codeword (lexicographic array_min = tie-break on lowest code)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.array_min(
            F.transform(
                F.element_at(cb_col, m + 1),
                lambda cw, k: F.struct(
                    _sub_dist_hof(
                        F.slice(emb, m * _PQ_SUB + 1, _PQ_SUB), cw
                    ).alias("d"),
                    k.alias("k"),
                ),
            )
        ),
    )


def _sql_sub_dist(a_emb: str, b_emb: str, m: str) -> str:
    """Oracle-side subspace distance: same fixed-point kernel with the
    codeword coming from the seed row's sub-vector."""
    return (
        f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), j -> "
        f"CAST(FLOOR((CAST({a_emb}[{m} * {_PQ_SUB} + j] AS DOUBLE) - "
        f"CAST({b_emb}[{m} * {_PQ_SUB} + j] AS DOUBLE)) * "
        f"(CAST({a_emb}[{m} * {_PQ_SUB} + j] AS DOUBLE) - "
        f"CAST({b_emb}[{m} * {_PQ_SUB} + j] AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)))"
    )


_SQL_PQ_CODES = f"""
    seeds AS (SELECT vec_id AS k, embedding AS cemb FROM embeddings WHERE vec_id < {_PQ_K}),
    subdists AS (
        SELECT e.vec_id, m.m, s.k,
               {_sql_sub_dist('e.embedding', 's.cemb', 'm.m')} AS d
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) m
        CROSS JOIN seeds s
    ),
    best AS (
        SELECT vec_id, m, k, d,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rk
        FROM subdists
    ),
    codes AS (
        SELECT vec_id,
               {", ".join(f"MAX(CASE WHEN m = {m} THEN k END) AS code_{m}" for m in range(_PQ_M))},
               CAST(SUM(d) AS BIGINT) AS recon_err_fx
        FROM best WHERE rk = 1
        GROUP BY vec_id
    )
"""


@register(
    "emb_pq_encode",
    sql=f"""
    WITH {_SQL_PQ_CODES}
    SELECT * FROM codes
    """,
    doc="PQ encoding: each vector's 8 subspaces map to their argmin-"
    "distance codeword (4-bit codes, 64x size reduction); codebook ships "
    "as literals so the encode is ONE zero-shuffle scan. recon_err_fx is "
    "the summed fixed-point quantization error — the compression-quality "
    "column a pipeline monitors.",
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = _pq_codebook(spark, sf_dir)
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    staged = emb.select(
        "vec_id", _pq_best(F.col("embedding"), _codebook_col(cb)).alias("best")
    )
    return staged.select(
        "vec_id",
        *[
            F.element_at("best", m + 1)["k"].cast("long").alias(f"code_{m}")
            for m in range(_PQ_M)
        ],
        F.aggregate(
            "best", F.lit(0).cast("long"), lambda a, b: a + b["d"]
        ).alias("recon_err_fx"),
    )


@register(
    "sim_topk_pq",
    sql=f"""
    WITH {_SQL_PQ_CODES},
    q AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings
          WHERE vec_id < {_N_QUERIES}),
    lut AS (
        SELECT q.query_id, m.m, s.k,
               {_sql_sub_dist('q.qemb', 's.cemb', 'm.m')} AS d
        FROM q
        CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) m
        CROSS JOIN seeds s
    ),
    cand AS (
        SELECT vec_id, m, code FROM (
            {" UNION ALL ".join(f"SELECT vec_id, {m} AS m, code_{m} AS code FROM codes" for m in range(_PQ_M))}
        )
    ),
    adc AS (
        SELECT l.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc_fx
        FROM cand c JOIN lut l ON l.m = c.m AND l.k = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, adc_fx, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_fx, neighbor_id) AS rank
        FROM adc
    ) WHERE rank <= {_TOP_K}
    """,
    doc="PQ asymmetric-distance top-k: the query precomputes an M x K "
    "lookup table of exact subspace distances to every codeword (tiny, "
    "rides the broadcast), and each candidate's distance is M array "
    "lookups over its codes — the scan never touches a float vector, so "
    "at 100 TB the search reads the 8-byte code table instead of the "
    "256-byte embeddings (plus the final per-query top-k shuffle).",
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = _pq_codebook(spark, sf_dir)
    codes = emb_pq_encode(spark, sf_dir)
    emb = io.load(spark, sf_dir, "embeddings")
    # lut[m][k] = exact subspace distance from this query to codeword k —
    # one nested-transform expression over the literal codebook
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.transform(
            F.element_at(_codebook_col(cb), m + 1),
            lambda cw: _sub_dist_hof(
                F.slice(F.col("embedding"), m * _PQ_SUB + 1, _PQ_SUB), cw
            ),
        ),
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), lut.alias("lut")
    )
    pairs = F.broadcast(q).join(codes, codes["vec_id"] != q["query_id"])
    adc = F.lit(0).cast("long")
    for m in range(_PQ_M):
        adc = adc + F.element_at(
            F.element_at("lut", m + 1), F.col(f"code_{m}").cast("int") + 1
        )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_fx")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_fx"), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _TOP_K
    )


# --- composed IVF + PQ index (the production ANN configuration) -------------
# A real serving index (FAISS IVFPQ, SCaNN, Milvus IVF_PQ) composes BOTH
# halves built above: the coarse quantizer routes each query to a few cells
# so the scan touches ~nprobe/ncells of the corpus, and inside the probed
# cells distances come from the PQ code table (8 bytes/vector) instead of
# the float embeddings (256 bytes/vector). Each half already exists and is
# oracle-checked separately (sim_topk_ivf, sim_topk_pq); this registers the
# composition itself, because the interaction — does cell routing plus code
# quantization still find the true neighbors? — is what a production
# deployment actually runs, and sim_ivfpq_recall prices it.


def _sql_ivfpq_topk() -> str:
    return f"""
    WITH {_SQL_PQ_CODES},
    norms AS (
        SELECT vec_id, embedding,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    cent AS (SELECT * FROM norms WHERE vec_id < {_N_CELLS}),
    assign_scored AS (
        SELECT v.vec_id, c.vec_id AS cell,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_SQL_COS.format(dot=_sql_dot('v.embedding', 'c.embedding'), na='v.norm_fx', nb='c.norm_fx')} DESC,
                            c.vec_id
               ) AS cr
        FROM norms v, cent c
    ),
    assigned AS (SELECT vec_id, cell FROM assign_scored WHERE cr = 1),
    q AS (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_COS.format(dot=_sql_dot('q.embedding', 'c.embedding'), na='q.norm_fx', nb='c.norm_fx')} DESC,
                                c.vec_id
                   ) AS pr
            FROM q, cent c
        ) WHERE pr <= {_N_PROBE}
    ),
    lut AS (
        SELECT q.vec_id AS query_id, m.m, s.k,
               {_sql_sub_dist('q.embedding', 's.cemb', 'm.m')} AS d
        FROM q
        CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) m
        CROSS JOIN seeds s
    ),
    candcodes AS (
        SELECT vec_id, m, code FROM (
            {" UNION ALL ".join(f"SELECT vec_id, {m} AS m, code_{m} AS code FROM codes" for m in range(_PQ_M))}
        )
    ),
    cellcand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    adc AS (
        SELECT cc.query_id, cc.neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc_fx
        FROM cellcand cc
        JOIN candcodes c ON c.vec_id = cc.neighbor_id
        JOIN lut l ON l.query_id = cc.query_id AND l.m = c.m AND l.k = c.code
        GROUP BY cc.query_id, cc.neighbor_id
    )
    SELECT query_id, neighbor_id, adc_fx, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_fx, neighbor_id) AS rank
        FROM adc
    ) WHERE rank <= {_TOP_K}
    """


@register(
    "sim_topk_ivfpq",
    sql=_sql_ivfpq_topk(),
    doc="Composed IVF+PQ ANN top-k — the production index layout (FAISS "
    "IVFPQ / Milvus IVF_PQ): the coarse quantizer (16 seed centroids, same "
    "assignment as sim_topk_ivf) routes each query to its 4 nearest cells, "
    "and inside the probed cells the distance is the PQ asymmetric lookup "
    "(sim_topk_pq's M x K query LUT summed over the candidate's 4-bit "
    "codes). Plan shape at 100 TB: the cell-bucketed CODE table is the "
    "only thing the scan reads — 8 bytes/vector over nprobe/ncells of the "
    "corpus, so the scan cost drops ~64x vs exact-inside-cell IVF and "
    "~256x vs brute force; the float vectors are touched only to build "
    "the per-query LUT (tiny, broadcast). Candidates join the broadcast "
    "probe table on the cell key — no shuffle of the code table, one "
    "final per-query top-k window.",
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = _pq_codebook(spark, sf_dir)
    emb = io.load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id",
        "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    cent = norms.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_embedding"),
        F.col("norm_fx").alias("c_norm_fx"),
    )
    # cell assignment (identical to _ivf_topk's): broadcast centroids,
    # argmax cosine per vector
    a_cos = cosine_from_fixed(
        dot_fixed(F.col("embedding"), F.col("c_embedding")),
        F.col("norm_fx"),
        F.col("c_norm_fx"),
    )
    wa = Window.partitionBy("vec_id").orderBy(a_cos.desc(), F.col("cell"))
    assigned = (
        norms.crossJoin(F.broadcast(cent))
        .withColumn("cr", F.row_number().over(wa))
        .filter(F.col("cr") == 1)
        .select("vec_id", "cell")
    )
    # the serving index: PQ codes bucketed by cell (at scale this table is
    # WRITTEN partitioned by cell; here the join key carries the routing)
    codes = emb_pq_encode(spark, sf_dir).select(
        "vec_id", *[f"code_{m}" for m in range(_PQ_M)]
    )
    indexed = codes.join(assigned, "vec_id")
    # query side: nprobe nearest cells + the exact-distance LUT, both tiny
    q = norms.filter(F.col("vec_id") < _N_QUERIES)
    p_cos = cosine_from_fixed(
        dot_fixed(F.col("embedding"), F.col("c_embedding")),
        F.col("norm_fx"),
        F.col("c_norm_fx"),
    )
    wp = Window.partitionBy("vec_id").orderBy(p_cos.desc(), F.col("cell"))
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.transform(
            F.element_at(_codebook_col(cb), m + 1),
            lambda cw: _sub_dist_hof(
                F.slice(F.col("embedding"), m * _PQ_SUB + 1, _PQ_SUB), cw
            ),
        ),
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= _N_PROBE)
        .select(
            F.col("vec_id").alias("query_id"), F.col("cell").alias("p_cell"),
            lut.alias("lut"),
        )
    )
    cand = indexed.join(
        F.broadcast(probes),
        (indexed["cell"] == probes["p_cell"])
        & (indexed["vec_id"] != probes["query_id"]),
    )
    adc = F.lit(0).cast("long")
    for m in range(_PQ_M):
        adc = adc + F.element_at(
            F.element_at("lut", m + 1), F.col(f"code_{m}").cast("int") + 1
        )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_fx")
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("adc_fx"), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= _TOP_K
    )


def _ivfpq_recall_sql() -> str:
    from exact_spark.registry import REGISTRY as _R

    return f"""
    WITH ex AS ({_R['sim_topk_cosine'].sql}),
    ap AS ({_R['sim_topk_ivfpq'].sql}),
    hits AS (
        SELECT e.query_id, count(a.neighbor_id) AS n_hits
        FROM ex e LEFT JOIN ap a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT query_id, n_hits,
           CAST(n_hits AS DOUBLE) / {_TOP_K} AS recall_at_k
    FROM hits
    """


@register(
    "sim_ivfpq_recall",
    sql=_ivfpq_recall_sql(),  # composes the two registered sibling specs
    doc="recall@k of the composed IVF+PQ index against the exact "
    "brute-force top-k — the number a production deployment tunes "
    "(nprobe, M, K) against, measuring BOTH loss sources at once: cell "
    "routing misses (a true neighbor living in an unprobed cell) and "
    "code quantization misses (ADC reordering inside a probed cell). "
    "Same measure-don't-guess composition as sim_ivf_recall / "
    "sim_pq_recall, so the compound loss is always readable next to "
    "each half's own recall.",
)
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = sim_topk_cosine(spark, sf_dir)
    ap = sim_topk_ivfpq(spark, sf_dir)
    return _recall_vs_exact(ex, ap)


_RANGE_MIN_COS = 0.30  # radius for the range-search demo


@register(
    "sim_range_search",
    sql=f"""
    WITH norms AS (
        SELECT vec_id, embedding,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    q AS (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COS.format(dot=_sql_dot('q.embedding', 'c.embedding'), na='q.norm_fx', nb='c.norm_fx')} AS cosine
        FROM q JOIN norms c ON c.vec_id <> q.vec_id
    )
    SELECT query_id,
           COUNT(*) FILTER (cosine >= {_RANGE_MIN_COS}) AS n_in_radius,
           CAST(MAX(CASE WHEN cosine >= {_RANGE_MIN_COS} THEN neighbor_id END) AS BIGINT)
               AS max_neighbor_id,
           {sql_fround(f'COALESCE(MAX(CASE WHEN cosine >= {_RANGE_MIN_COS} THEN cosine END), 0.0)', 1000000)}
               AS best_cosine
    FROM pairs GROUP BY query_id
    """,
    doc="Cosine RANGE search (radius query — the other half of the ANN "
    "API next to top-k): all neighbors with cosine >= tau per query, "
    "reported as per-query counts + best match. Same broadcast-query "
    "single-scan shape as sim_topk_cosine, but the predicate replaces the "
    "rank window, so there is NO per-query sort at all — the radius "
    "filter folds into the scan and only the tiny per-query aggregate "
    "shuffles. At scale the same predicate runs inside IVF-probed cells.",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exact_spark.functions import fround

    emb = io.load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    q = norms.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("norm_fx").alias("q_norm_fx"),
    )
    cos = cosine_from_fixed(
        dot_fixed(F.col("q_embedding"), F.col("embedding")),
        F.col("q_norm_fx"),
        F.col("norm_fx"),
    )
    pairs = (
        F.broadcast(q)
        .join(norms, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    hit = F.col("cosine") >= _RANGE_MIN_COS
    return pairs.groupBy("query_id").agg(
        F.sum(hit.cast("long")).alias("n_in_radius"),
        F.max(F.when(hit, F.col("neighbor_id"))).cast("long").alias("max_neighbor_id"),
        fround(
            F.coalesce(F.max(F.when(hit, F.col("cosine"))), F.lit(0.0)), 1000000
        ).alias("best_cosine"),
    )


@register(
    "sim_cluster_profile",
    sql=f"""
    WITH norms AS (
        SELECT vec_id, embedding, label,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, embedding AS cemb, norm_fx AS cnf
             FROM norms WHERE vec_id < {_SEM_K_SQL}),
    assign_scored AS (
        SELECT v.vec_id, v.label, c.cid,
               {_SQL_COS.format(dot=_sql_dot('v.embedding', 'c.cemb'), na='v.norm_fx', nb='c.cnf')} AS cos,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_SQL_COS.format(dot=_sql_dot('v.embedding', 'c.cemb'), na='v.norm_fx', nb='c.cnf')} DESC,
                            c.cid
               ) AS cr
        FROM norms v, cent c
    ),
    members AS (SELECT vec_id, label, cid, cos FROM assign_scored WHERE cr = 1),
    prof AS (
        SELECT cid AS cluster, count(*) AS n_members,
               (SUM(CAST(FLOOR(cos * 1000000.0 + 0.5) AS BIGINT)) / (1000000.0 * COUNT(cos))) AS mean_cos,
               MIN(cos) AS min_cos
        FROM members GROUP BY cid
    ),
    lab AS (
        SELECT cid, label, count(*) AS ln,
               row_number() OVER (PARTITION BY cid ORDER BY count(*) DESC, label) AS lr
        FROM members GROUP BY cid, label
    )
    SELECT p.cluster, p.n_members, p.mean_cos, p.min_cos,
           l.label AS top_label, l.ln AS top_label_n,
           (CAST(l.ln AS DOUBLE) / p.n_members) AS purity
    FROM prof p JOIN lab l ON l.cid = p.cluster AND l.lr = 1
    """,
    doc="Cluster-quality profile of the argmax-cosine assignment (the "
    "diagnostic read before trusting any cluster-scoped operator — "
    "SemDedup's within-cluster search, IVF's probe order): per-cluster "
    "cardinality, mean/min cosine-to-centroid (cohesion and worst member) "
    "and majority-label purity. Plan shape: one broadcast-centroid scan "
    "assigns (same kernel as dedup_semantic), two map-side-combinable "
    "groupBys on the cluster id; cosines aggregate through the "
    "fixed-point kernels so the profile is partition-order exact.",
)
def sim_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    norms = emb.select(
        "vec_id", "label", "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    k = _sem_k(_sem_corpus_n(spark, sf_dir))
    cent = norms.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_embedding"),
        F.col("norm_fx").alias("c_norm_fx"),
    )
    a_cos = cosine_from_fixed(
        dot_fixed(F.col("embedding"), F.col("c_embedding")),
        F.col("norm_fx"),
        F.col("c_norm_fx"),
    )
    wa = Window.partitionBy("vec_id").orderBy(a_cos.desc(), F.col("cell"))
    members = (
        norms.crossJoin(F.broadcast(cent))
        .withColumn("cos", a_cos)
        .withColumn("cr", F.row_number().over(wa))
        .filter(F.col("cr") == 1)
        .select("vec_id", "label", F.col("cell").alias("cluster"), "cos")
    )
    # ONE assignment pass: the separate profile and purity groupBys each
    # re-ran the broadcast-centroid crossJoin + argmax window (the
    # expensive kernel) — 4 embeddings scans. Both now derive from one
    # per-(cluster, label) cell aggregate: cluster totals are window
    # sums over the tiny cell frame (favg's fixed-point integers sum
    # associatively, so mean_cos is bit-identical), and the majority
    # label is the rank-1 cell of the same partitioning.
    from exact_spark.functions import SCALE6, fixed

    per_cell = members.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("ln"),
        F.sum(fixed(F.col("cos"))).alias("s_fx"),
        F.count("cos").alias("ncos"),
        F.min("cos").alias("mn"),
    )
    wc = Window.partitionBy("cluster")
    wl = Window.partitionBy("cluster").orderBy(F.col("ln").desc(), F.col("label"))
    out = (
        per_cell.withColumn("n_members", F.sum("ln").over(wc))
        .withColumn("s_all", F.sum("s_fx").over(wc))
        .withColumn("ncos_all", F.sum("ncos").over(wc))
        .withColumn("min_cos", F.min("mn").over(wc))
        .withColumn("lr", F.row_number().over(wl))
        .filter(F.col("lr") == 1)
    )
    return out.select(
        "cluster",
        "n_members",
        (
            F.col("s_all") / (F.lit(float(SCALE6)) * F.col("ncos_all"))
        ).alias("mean_cos"),
        "min_cos",
        F.col("label").alias("top_label"),
        F.col("ln").alias("top_label_n"),
        (F.col("ln").cast("double") / F.col("n_members")).alias("purity"),
    )


# ---------------------------------------------------------------------------
# PCA whitening — the classic embedding post-processing step before
# similarity search / clustering (decorrelate + equalize variance; with the
# top-d' cut it is also the standard dimensionality reduction ahead of PQ).
# The FIT is a driver-side eigendecomposition of the sample covariance
# (deterministic LAPACK eigh on an md5-stable capped sample — the same
# train-small/serve-distributed posture as _kmeans_centroids); the APPLY
# ships mean + whitening matrix as LITERALS into one zero-shuffle scan of
# per-row array expressions (the PQ-codebook pattern), so the projection
# stays inside whole-stage codegen at any corpus size.

_PCA_DIMS = 16  # output dims (input is 64)
_PCA_SAMPLE_CAP = 4096
_PCA_EPS = 1e-9

_PCA_MEMO: dict[tuple[str, int], tuple[list[float], list[list[float]], list[float]]] = {}


def _pca_whitening_model(
    spark: SparkSession, sf_dir: str, d_out: int
) -> tuple[list[float], list[list[float]], list[float]]:
    """(mean, components[d_out][d_in], eigenvalues[d_out]) — memoized
    deterministic artifact, exactly like the KMeans quantizer."""
    key = (sf_dir, d_out)
    if key not in _PCA_MEMO:
        import numpy as np

        emb = io.load(spark, sf_dir, "embeddings")
        # md5-stable capped sample, collected in a deterministic order
        sample = (
            emb.select("vec_id", "embedding")
            .withColumn("h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("h")
            .limit(_PCA_SAMPLE_CAP)
            .collect()
        )
        x = np.array([r["embedding"] for r in sample], dtype=np.float64)
        mu = x.mean(axis=0)
        cov = np.cov(x - mu, rowvar=False, bias=True)
        evals, evecs = np.linalg.eigh(cov)  # ascending
        order = np.argsort(evals)[::-1][:d_out]
        top_vals = evals[order]
        top_vecs = evecs[:, order].T  # (d_out, d_in)
        # sign convention so the artifact is reproducible: largest-|.|
        # coefficient of each component is positive
        for i in range(top_vecs.shape[0]):
            j = int(np.argmax(np.abs(top_vecs[i])))
            if top_vecs[i, j] < 0:
                top_vecs[i] = -top_vecs[i]
        memo_put(
            _PCA_MEMO,
            key,
            (
                [float(v) for v in mu],
                [[float(v) for v in row] for row in top_vecs],
                [float(v) for v in top_vals],
            ),
        )
    return _PCA_MEMO[key]


@register(
    "emb_pca_whiten",
    sql=None,  # eigendecomposition fit — not SQL-expressible
    doc="PCA whitening of the embedding column (see module comment): "
    "project every vector onto the top-16 principal components scaled to "
    "unit variance, as ONE zero-shuffle literal-matrix scan. The result "
    "is the per-dimension diagnostic the operator must satisfy to be "
    "correct — eigenvalue (variance before), variance after whitening "
    "(== 1 on the fitted sample up to fp rounding, checked in test) and "
    "mean after (== 0) — through the fixed-point kernels.",
)
def emb_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    mu, comps, evals = _pca_whitening_model(spark, sf_dir, _PCA_DIMS)
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    mu_arr = F.array(*[F.lit(v) for v in mu])
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"), mu_arr, lambda a, b: a - b
    )
    scales = [1.0 / float((ev + _PCA_EPS) ** 0.5) for ev in evals]
    y_dims = []
    for j, (row, s) in enumerate(zip(comps, scales)):
        v_arr = F.array(*[F.lit(v) for v in row])
        dot = F.aggregate(
            F.zip_with(centered, v_arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        y_dims.append((dot * F.lit(s)).alias(f"y{j}"))
    proj = emb.select("vec_id", *y_dims)
    longf = proj.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("dim"), F.col(f"y{j}").alias("y"))
                    for j in range(_PCA_DIMS)
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.dim", "p.y")
    return (
        longf.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            favg(F.col("y")).alias("mean_after"),
            favg(F.col("y") * F.col("y")).alias("var_after"),
        )
        .join(
            spark.createDataFrame(
                [(j, float(ev)) for j, ev in enumerate(evals)],
                "dim int, eigenvalue double",
            ),
            "dim",
        )
        .select("dim", "n", "eigenvalue", "mean_after", "var_after")
    )


_SWEEP_TAUS = (0.25, 0.30, 0.35, 0.40, 0.45)


def _threshold_sweep_sql() -> str:
    """Composes the registered sim_neardup_lsh spec: its candidate-pair SQL
    becomes the CTE both engines sweep, so the curve can never drift from
    the pairs the engine actually generates."""
    from exact_spark.registry import REGISTRY

    pairs = REGISTRY["sim_neardup_lsh"].sql
    taus = ", ".join(f"({t!r})" for t in _SWEEP_TAUS)
    return f"""
    WITH pairs AS ({pairs}),
    taus(tau) AS (VALUES {taus})
    SELECT t.tau,
           CAST(SUM(CASE WHEN p.cosine >= t.tau THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           COUNT(DISTINCT CASE WHEN p.cosine >= t.tau THEN p.vec_b END) AS n_dropped
    FROM taus t LEFT JOIN pairs p ON p.cosine >= t.tau
    GROUP BY t.tau
    """


@register(
    "sim_threshold_sweep",
    sql=_threshold_sweep_sql(),  # composes the registered sibling spec
    doc="Duplicate-rate-vs-threshold curve over the LSH candidate pairs — "
    "the measure-don't-guess gate for choosing a near-dup cosine cutoff "
    "before a 100 TB dedup run (the same diagnostic posture as "
    "dedup_lsh_recall / sim_ivf_recall): for each candidate threshold, "
    "how many pairs qualify and how many docs the higher-id drop rule "
    "would remove. Plan shape: the pair table comes from the REGISTERED "
    "sim_neardup_lsh operator itself, each pair expands over the tiny "
    "literal threshold grid in place, one small groupBy — sweep cost is "
    "O(pairs x taus), never a rescan of the corpus.",
)
def sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = sim_neardup_lsh(spark, sf_dir)
    taus = F.array(*[F.lit(t) for t in _SWEEP_TAUS])
    exploded = pairs.select(
        "vec_b", "cosine", F.explode(taus).alias("tau")
    )
    per_tau = exploded.groupBy("tau").agg(
        F.sum(F.when(F.col("cosine") >= F.col("tau"), 1).otherwise(0))
        .cast("long")
        .alias("n_pairs"),
        F.countDistinct(
            F.when(F.col("cosine") >= F.col("tau"), F.col("vec_b"))
        ).alias("n_dropped"),
    )
    # thresholds with zero qualifying pairs must still report a row (the
    # oracle's LEFT JOIN shape): union the literal grid and coalesce
    grid = spark.range(len(_SWEEP_TAUS)).select(
        F.element_at(taus, (F.col("id") + 1).cast("int")).alias("tau")
    )
    return (
        grid.join(per_tau, "tau", "left")
        .select(
            "tau",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


_KNN_GRAPH_K = 3


def _knn_graph_sql() -> str:
    """Composes the registered sim_neardup_lsh candidate pairs into a
    per-vector top-k neighbor ranking (symmetrized before ranking)."""
    from exact_spark.registry import REGISTRY

    pairs = REGISTRY["sim_neardup_lsh"].sql
    return f"""
    WITH pairs AS ({pairs}),
    sym AS (
        SELECT vec_a AS src, vec_b AS dst, cosine FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst, cosine FROM pairs
    ),
    ranked AS (
        SELECT src, dst, cosine,
               row_number() OVER (
                   PARTITION BY src ORDER BY cosine DESC, dst
               ) AS rnk
        FROM sym
    )
    SELECT src AS vec_id, rnk AS rank, dst AS neighbor_id, cosine
    FROM ranked WHERE rnk <= {_KNN_GRAPH_K}
    """


@register(
    "sim_knn_graph",
    sql=_knn_graph_sql(),  # composes the registered sibling spec
    doc="kNN graph over the corpus (every vector's top-{k} neighbors — the "
    "semantic-similarity graph SemDedup clustering, label propagation, "
    "and graph-based curation all start from): candidate edges come from "
    "the REGISTERED capped-LSH operator (never all-pairs), symmetrize by "
    "emitting each pair in both directions, then one window PARTITIONED "
    "per vector ranks neighbors — recall is bounded by the LSH banding "
    "exactly as sim_threshold_sweep measures, which is the honest "
    "100 TB contract for a neighbor graph.".format(k=_KNN_GRAPH_K),
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = sim_neardup_lsh(spark, sf_dir)
    sym = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "cosine"
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "cosine"
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_GRAPH_K)
        .select(
            F.col("src").alias("vec_id"), "rank", F.col("dst").alias("neighbor_id"), "cosine"
        )
    )


_PR_ITERS = 10
_PR_DAMP_NUM, _PR_DAMP_DEN = 85, 100  # d = 0.85 as a rational
_PR_SCALE = 1_000_000  # rank mass in integer micro-units
_PR_TOPK = 20


def _pagerank_sql() -> str:
    """Composes the registered sim_knn_graph spec; the fixed power-iteration
    count unrolls into chained CTEs (the sim_label_propagation technique),
    so the all-integer PageRank is oracle-HASH-checkable end to end."""
    from exact_spark.registry import REGISTRY

    knn = REGISTRY["sim_knn_graph"].sql
    steps = []
    prev = "r0"
    for t in range(1, _PR_ITERS + 1):
        steps.append(f"""
    c{t} AS (
        SELECT e.dst AS v,
               CAST(SUM((r.r_fx * {_PR_DAMP_NUM}) // ({_PR_DAMP_DEN} * e.deg)) AS BIGINT) AS in_fx
        FROM edeg e JOIN {prev} r ON r.v = e.src
        GROUP BY e.dst
    ),
    r{t} AS (
        SELECT n.v, CAST(k.base_fx + COALESCE(c.in_fx, 0) AS BIGINT) AS r_fx
        FROM nodes n LEFT JOIN c{t} c ON c.v = n.v, consts k
    )""")
        prev = f"r{t}"
    return f"""
    WITH knn AS MATERIALIZED ({knn}),
    edges AS MATERIALIZED (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    edeg AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    nodes AS MATERIALIZED (
        SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges
    ),
    consts AS (
        SELECT count(*) AS n,
               ({(_PR_DAMP_DEN - _PR_DAMP_NUM) * _PR_SCALE} // ({_PR_DAMP_DEN} * count(*))) AS base_fx,
               ({_PR_SCALE} // count(*)) AS r0_fx
        FROM nodes
    ),
    r0 AS (SELECT n.v, CAST(k.r0_fx AS BIGINT) AS r_fx FROM nodes n, consts k),{",".join(steps)}
    SELECT rank, vec_id, pagerank_fx FROM (
        SELECT row_number() OVER (ORDER BY r_fx DESC, v) AS rank,
               v AS vec_id, r_fx AS pagerank_fx
        FROM {prev}
    ) WHERE rank <= {_PR_TOPK}
    """


@register(
    "sim_graph_pagerank",
    sql=_pagerank_sql(),  # composes the registered sim_knn_graph spec
    doc="PageRank centrality over the kNN semantic graph (the second "
    "iterative graph algorithm next to dedup_components' connected "
    "components; centrality picks REPRESENTATIVE docs inside near-dup "
    "clusters and hub docs for curation review). Deterministic "
    "distributed power iteration: rank mass is INTEGER micro-units, "
    "each step sends rank*d/outdegree over the edges via integer "
    "division (truncation is deterministic, so the result is identical "
    "on any partitioning — a float groupBy-sum would not be), dangling "
    "and truncated mass is implicitly dropped (ranks are a lower bound, "
    "ordering-faithful), {it} fixed iterations with lineage truncated "
    "per step exactly like dedup_components. Because every step is "
    "integer arithmetic, the {it} iterations UNROLL into chained oracle "
    "CTEs — the power method is hash-checked, not rows-only. "
    "Output: the top-{k} hubs.".format(it=_PR_ITERS, k=_PR_TOPK),
)
def sim_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        artifacts.table("knng", spark, sf_dir)
        .select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = edges.join(deg, "src").localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    base_fx = ((_PR_DAMP_DEN - _PR_DAMP_NUM) * _PR_SCALE) // (_PR_DAMP_DEN * n)
    ranks = nodes.select("v", F.lit(_PR_SCALE // n).cast("long").alias("r_fx"))
    for i in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.v)
            .select(
                F.col("dst").alias("v"),
                F.expr(
                    f"CAST(r_fx * {_PR_DAMP_NUM} AS BIGINT) DIV "
                    f"CAST({_PR_DAMP_DEN} * deg AS BIGINT)"
                ).alias("c_fx"),
            )
            .groupBy("v")
            .agg(F.sum("c_fx").cast("long").alias("in_fx"))
        )
        ranks = (
            nodes.join(contrib, "v", "left")
            .select(
                "v",
                (F.lit(base_fx) + F.coalesce(F.col("in_fx"), F.lit(0))).cast("long").alias("r_fx"),
            )
        )
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint()  # truncate the iteration lineage
    w = Window.orderBy(F.col("r_fx").desc(), "v")
    return (
        ranks.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PR_TOPK)
        .select(F.col("rank"), F.col("v").alias("vec_id"), F.col("r_fx").alias("pagerank_fx"))
    )


_KNN_OUT_PCT = 0.10  # bottom decile of neighborhood similarity = outliers


def _knn_outlier_sql() -> str:
    """Composes the registered sim_knn_graph spec: vectors whose best
    available neighbors are weakest are distribution outliers."""
    from exact_spark.registry import REGISTRY

    graph = REGISTRY["sim_knn_graph"].sql
    return f"""
    WITH g AS ({graph}),
    per_vec AS (
        SELECT vec_id,
               count(*) AS n_neighbors,
               MAX(cosine) AS best_cos,
               (SUM(CAST(FLOOR(cosine * 1000000.0 + 0.5) AS BIGINT)) / (1000000.0 * COUNT(cosine))) AS mean_cos
        FROM g GROUP BY vec_id
    ),
    thr AS (SELECT quantile_cont(mean_cos, {_KNN_OUT_PCT}) AS t FROM per_vec)
    SELECT p.vec_id, p.n_neighbors, p.best_cos, p.mean_cos,
           (p.mean_cos <= thr.t) AS is_outlier
    FROM per_vec p, thr
    """


@register(
    "sim_knn_outliers",
    sql=_knn_outlier_sql(),  # composes the registered sibling spec
    doc="kNN-distance outlier scores over embeddings (the density-based "
    "anomaly family — a vector whose NEAREST neighbors are all far is "
    "off-distribution, the k-NN analog of isolation scoring): per-vector "
    "best/mean neighbor cosine from the REGISTERED kNN graph, outlier = "
    "bottom decile of mean neighborhood similarity (distributed exact "
    "percentile). A vector absent from the graph entirely (no LSH "
    "candidate at all) is the extreme case and is surfaced by "
    "sim_threshold_sweep's recall contract rather than silently scored. "
    "Plan: one groupBy over graph edges + a scalar quantile + one scan.",
)
def sim_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = artifacts.table("knng", spark, sf_dir)
    per_vec = g.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.max("cosine").alias("best_cos"),
        favg(F.col("cosine")).alias("mean_cos"),
    )
    thr = per_vec.agg(
        F.percentile(F.col("mean_cos"), F.lit(_KNN_OUT_PCT)).alias("t")
    ).collect()[0]["t"]
    return per_vec.select(
        "vec_id",
        "n_neighbors",
        "best_cos",
        "mean_cos",
        (F.col("mean_cos") <= F.lit(thr)).alias("is_outlier"),
    )


# --- triangle census over the kNN graph --------------------------------------


def _triangle_sql() -> str:
    """Composes the registered sim_knn_graph spec into an oriented-edge
    triangle + wedge census."""
    from exact_spark.registry import REGISTRY

    knn = REGISTRY["sim_knn_graph"].sql
    return f"""
    WITH knn AS ({knn}),
    und AS (
        SELECT DISTINCT LEAST(vec_id, neighbor_id) AS a,
                        GREATEST(vec_id, neighbor_id) AS b
        FROM knn
        WHERE vec_id <> neighbor_id
    ),
    deg AS (
        SELECT v, count(*) AS d FROM (
            SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
        ) GROUP BY v
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM und) AS n_edges,
           tri.n_triangles,
           (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
           (CAST(3 * tri.n_triangles AS DOUBLE)
              / (SELECT SUM(d * (d - 1)) / 2 FROM deg)) AS global_clustering
    FROM tri
    """


@register(
    "sim_graph_triangles",
    sql=_triangle_sql(),  # composes the registered sibling spec
    doc="Triangle + wedge census of the kNN semantic graph (the global "
    "clustering coefficient — how clique-like the embedding "
    "neighborhoods are, the standard diagnostic separating topical "
    "clusters from hub-and-spoke noise). Algorithm: edges orient "
    "low-id -> high-id, so each triangle is counted ONCE by the "
    "(e1.b = e2.a) wedge join plus closing-edge check — the classic "
    "distributed triangle join whose intermediate size is bounded by "
    "sum(deg^2), itself bounded by the kNN cap (deg <= 2k), never "
    "all-pairs; wedges are a pure integer degree aggregate; the "
    "clustering coefficient 3T/wedges is the one float divide. "
    "Everything reduces to integers, so the census is exact on any "
    "partitioning.",
)
def sim_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = artifacts.table("knng", spark, sf_dir)
    und = (
        g.filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            F.least("vec_id", "neighbor_id").alias("a"),
            F.greatest("vec_id", "neighbor_id").alias("b"),
        )
        .distinct()
        .localCheckpoint()  # reused three times in the wedge join
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)).cast("long") / F.lit(2))
        .cast("long")
        .alias("n_wedges"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("wedges2"),
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            (
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / (F.col("wedges2") / F.lit(2))
            ).alias("global_clustering"),
        )
    )


# --- embedding distribution drift (per-dimension batch comparison) -----------


@register(
    "emb_centroid_drift",
    sql="""
    WITH tagged AS (
        SELECT vec_id % 2 AS batch, embedding FROM embeddings
    ),
    dims AS (
        SELECT t.batch, u.i AS dim,
               CAST(FLOOR(CAST(t.embedding[u.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v_fx
        FROM tagged t, UNNEST(range(0, len(t.embedding))) AS u(i)
    ),
    stats AS (
        SELECT dim,
               CAST(SUM(CASE WHEN batch = 0 THEN v_fx ELSE 0 END) AS BIGINT) AS s_a,
               CAST(SUM(CASE WHEN batch = 0 THEN v_fx * v_fx ELSE 0 END) AS BIGINT) AS ss_a,
               CAST(SUM(CASE WHEN batch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN batch = 1 THEN v_fx ELSE 0 END) AS BIGINT) AS s_b,
               CAST(SUM(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM dims GROUP BY dim
    )
    SELECT dim,
           ((CAST(s_a AS DOUBLE) / n_a) / 1000000.0) AS mean_ref,
           ((CAST(s_b AS DOUBLE) / n_b) / 1000000.0) AS mean_cand,
           (((CAST(s_b AS DOUBLE) / n_b) - (CAST(s_a AS DOUBLE) / n_a)) / 1000000.0)
               AS mean_shift,
           sqrt((CAST(ss_a AS DOUBLE) * n_a - CAST(s_a AS DOUBLE) * s_a)
                / (CAST(n_a AS DOUBLE) * n_a)) / 1000000.0 AS std_ref,
           (((CAST(s_b AS DOUBLE) / n_b) - (CAST(s_a AS DOUBLE) / n_a))
            / sqrt((CAST(ss_a AS DOUBLE) * n_a - CAST(s_a AS DOUBLE) * s_a)
                   / (CAST(n_a AS DOUBLE) * n_a))) AS standardized_shift
    FROM stats
    """,
    doc="Per-dimension embedding distribution drift between two batches "
    "(the embedding-space health monitor: a retrained encoder or a "
    "shifted corpus moves dimension means long before downstream "
    "metrics catch it; batches here are the deterministic even/odd "
    "vec_id split): reference-batch mean/std vs candidate mean per "
    "dimension with the standardized shift. Exactness: per-dim sums "
    "and sums-of-squares are fixed-point BIGINTs, every derived value "
    "is a fixed single-op sequence over them (divides, one sqrt) — no "
    "order-dependent float reduction, no cross-dim summation at all. "
    "Plan shape: one in-row posexplode + ONE 64-key groupBy computing "
    "both batches' moments via conditional aggregation — the frame "
    "never splits into per-batch scans.",
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    dims = emb.select(
        (F.col("vec_id") % 2).alias("batch"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "batch",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 1e6 + F.lit(0.5)).cast("long").alias("v_fx"),
    )
    is_a = F.col("batch") == 0
    stats = dims.groupBy("dim").agg(
        F.sum(F.when(is_a, F.col("v_fx")).otherwise(0)).cast("long").alias("s_a"),
        F.sum(F.when(is_a, F.col("v_fx") * F.col("v_fx")).otherwise(0))
        .cast("long")
        .alias("ss_a"),
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, F.col("v_fx")).otherwise(0)).cast("long").alias("s_b"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    var_a = (
        F.col("ss_a").cast("double") * F.col("n_a")
        - F.col("s_a").cast("double") * F.col("s_a")
    ) / (F.col("n_a").cast("double") * F.col("n_a"))
    return stats.select(
        "dim",
        (mean_a / F.lit(1e6)).alias("mean_ref"),
        (mean_b / F.lit(1e6)).alias("mean_cand"),
        ((mean_b - mean_a) / F.lit(1e6)).alias("mean_shift"),
        (F.sqrt(var_a) / F.lit(1e6)).alias("std_ref"),
        ((mean_b - mean_a) / F.sqrt(var_a)).alias("standardized_shift"),
    )


# --- Matryoshka truncation fidelity ------------------------------------------

_MRL_DIMS = (8, 16, 32)


def _mrl_sql() -> str:
    """Composes the registered sim_topk_cosine spec: how faithfully do
    prefix-truncated embeddings preserve the exact top-k cosines."""
    from exact_spark.registry import REGISTRY

    pairs = REGISTRY["sim_topk_cosine"].sql

    def cos_k(k: int, a: str, b: str) -> str:
        dot = (
            f"list_sum(list_transform(range(1, {k} + 1), "
            f"i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
            f" * 1000000000.0 + 0.5) AS BIGINT)))"
        )
        na = (
            f"list_sum(list_transform(range(1, {k} + 1), "
            f"i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)"
            f" * 1000000000.0 + 0.5) AS BIGINT)))"
        )
        nb = (
            f"list_sum(list_transform(range(1, {k} + 1), "
            f"i -> CAST(FLOOR(CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
            f" * 1000000000.0 + 0.5) AS BIGINT)))"
        )
        return (
            f"((CAST({dot} AS DOUBLE) / 1000000000.0) / "
            f"(sqrt(CAST({na} AS DOUBLE) / 1000000000.0)"
            f" * sqrt(CAST({nb} AS DOUBLE) / 1000000000.0)))"
        )

    arms = "\nUNION ALL\n".join(
        f"""SELECT {k} AS trunc_dim, count(*) AS n_pairs,
               (SUM(CAST(FLOOR(abs({cos_k(k, 'eq.embedding', 'ec.embedding')} - p.cosine)
                    * 1000000000.0 + 0.5) AS BIGINT)) * 1.0 / (1000000000.0 * count(*)))
                   AS mean_abs_dev,
               (CAST(MAX(CAST(FLOOR(abs({cos_k(k, 'eq.embedding', 'ec.embedding')} - p.cosine)
                    * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0)
                   AS max_abs_dev
        FROM pairs p
        JOIN embeddings eq ON eq.vec_id = p.query_id
        JOIN embeddings ec ON ec.vec_id = p.neighbor_id"""
        for k in _MRL_DIMS
    )
    return f"WITH pairs AS ({pairs})\nSELECT * FROM (\n{arms}\n)"


@register(
    "emb_matryoshka_fidelity",
    sql=_mrl_sql(),  # composes the registered sibling spec
    doc="Matryoshka truncation fidelity (the dimension-reduction "
    "diagnostic for MRL-style embeddings: how much does keeping only "
    "the first k dims distort the scores of the TRUE top-k pairs — the "
    "measure-before-you-truncate companion to the int8/PQ compression "
    "diagnostics): for the exact brute-force top-k pairs from the "
    "REGISTERED baseline, cosine recomputed at prefix dims {d} via the "
    "same fixed-point kernels, reported as mean/max absolute deviation "
    "per truncation (deviations fixed-point summed — order-independent). "
    "Plan shape: the pair set is k-per-query small; vectors re-attach by "
    "key and every per-k statistic reduces in one pass.".format(d=_MRL_DIMS),
)
def emb_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = sim_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id", "cosine")
    emb = io.load(spark, sf_dir, "embeddings")
    eq = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    ec = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    j = pairs.join(F.broadcast(eq), pairs.query_id == eq.q_id).join(
        F.broadcast(ec), pairs.neighbor_id == ec.c_id
    )
    # all truncation dims from ONE pass over the pair frame: the previous
    # union of per-dim aggregates re-expanded the whole pair lineage
    # (top-k cosine + both embedding attachments) once per dim — 12
    # embedding scans per query. The per-pair deviations for every dim
    # come out of one in-row explode; the dims spine keeps the
    # one-row-per-dim contract (n_pairs=0, null devs) even on an empty
    # pair frame, exactly as the aggregate-per-dim form behaved.
    dev_structs = []
    for k in _MRL_DIMS:
        qk = F.slice(F.col("q_emb"), 1, k)
        ck = F.slice(F.col("c_emb"), 1, k)
        cos_k = cosine_from_fixed(
            dot_fixed(qk, ck), dot_fixed(qk, qk), dot_fixed(ck, ck)
        )
        dev_fx = F.floor(F.abs(cos_k - F.col("cosine")) * F.lit(float(_SCALE9)) + F.lit(0.5)).cast(
            "long"
        )
        dev_structs.append(
            F.struct(
                F.lit(k).cast("long").alias("trunc_dim"), dev_fx.alias("dev_fx")
            )
        )
    per = j.select(F.explode(F.array(*dev_structs)).alias("kd")).select(
        F.col("kd.trunc_dim").alias("trunc_dim"), F.col("kd.dev_fx").alias("dev_fx")
    )
    grouped = per.groupBy("trunc_dim").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum("dev_fx") * F.lit(1.0) / (F.lit(float(_SCALE9)) * F.count(F.lit(1)))).alias(
            "mean_abs_dev"
        ),
        (F.max("dev_fx").cast("double") / F.lit(float(_SCALE9))).alias("max_abs_dev"),
    )
    dims = spark.createDataFrame(
        [(int(k),) for k in _MRL_DIMS], "trunc_dim bigint"
    )
    return dims.join(grouped, "trunc_dim", "left").select(
        "trunc_dim",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
        "mean_abs_dev",
        "max_abs_dev",
    )


# --- semi-supervised label propagation over the kNN graph --------------------

_LP_SEED_MOD = 5  # vec_id % 5 == 0 keeps its true label; others start unknown
_LP_ITERS = 3


def _label_prop_sql() -> str:
    """Composes the registered sim_knn_graph spec; the fixed iteration
    count unrolls to chained CTEs so the whole algorithm stays
    oracle-checkable."""
    from exact_spark.registry import REGISTRY

    knn = REGISTRY["sim_knn_graph"].sql
    prev = "l0"
    steps = []
    for t in range(1, _LP_ITERS + 1):
        steps.append(f"""
    votes{t} AS (
        SELECT e.dst AS vec_id, p.lab, count(*) AS n_votes
        FROM edges e JOIN {prev} p ON p.vec_id = e.src
        WHERE p.lab IS NOT NULL
        GROUP BY e.dst, p.lab
    ),
    win{t} AS (
        SELECT vec_id, lab,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY n_votes DESC, lab ASC
               ) AS rk
        FROM votes{t}
    ),
    l{t} AS (
        SELECT b.vec_id,
               CASE WHEN b.seeded THEN b.true_lab
                    ELSE COALESCE(w.lab, p.lab) END AS lab,
               b.seeded, b.true_lab
        FROM base b
        LEFT JOIN (SELECT vec_id, lab FROM win{t} WHERE rk = 1) w
               ON w.vec_id = b.vec_id
        LEFT JOIN {prev} p ON p.vec_id = b.vec_id
    )""")
        prev = f"l{t}"
    steps_sql = ",".join(steps)
    return f"""
    WITH knn AS ({knn}),
    edges AS (
        SELECT vec_id AS src, neighbor_id AS dst FROM knn
        UNION
        SELECT neighbor_id AS src, vec_id AS dst FROM knn
    ),
    base AS (
        SELECT vec_id, label AS true_lab,
               (vec_id % {_LP_SEED_MOD} = 0) AS seeded
        FROM embeddings
    ),
    l0 AS (
        SELECT vec_id,
               CASE WHEN seeded THEN true_lab END AS lab,
               seeded, true_lab
        FROM base
    ),{steps_sql}
    SELECT CAST(SUM(CASE WHEN NOT seeded AND lab IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_propagated,
           CAST(SUM(CASE WHEN NOT seeded THEN 1 ELSE 0 END) AS BIGINT) AS n_unlabeled,
           CAST(SUM(CASE WHEN NOT seeded AND lab = true_lab THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           (CAST(SUM(CASE WHEN NOT seeded AND lab = true_lab THEN 1 ELSE 0 END) AS DOUBLE)
              / NULLIF(SUM(CASE WHEN NOT seeded AND lab IS NOT NULL THEN 1 ELSE 0 END), 0))
               AS accuracy_on_propagated
    FROM {prev}
    """


@register(
    "sim_label_propagation",
    sql=_label_prop_sql(),  # composes the registered sibling spec
    doc="Semi-supervised label propagation over the kNN semantic graph "
    "(the label-efficiency workhorse: 20% seeded labels spread to "
    "neighbors by majority vote — how weak supervision scales labels "
    "across an embedding corpus): {it} synchronous iterations, each "
    "one edge-join + per-vertex vote census + argmax window (votes "
    "DESC, smallest label breaks ties — fully deterministic); seeds "
    "are clamped, unreached vectors stay unlabeled, and the result "
    "scores propagation accuracy against held-back truth. The FIXED "
    "iteration count unrolls into chained CTEs, so unlike PageRank "
    "this iterative algorithm is ORACLE-hash-checked end to end. Per "
    "iteration cost is one edges-sized shuffle; at 100 TB the same "
    "loop runs with localCheckpoint lineage truncation exactly like "
    "dedup_components.".format(it=_LP_ITERS),
)
def sim_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = artifacts.table("knng", spark, sf_dir)
    edges = (
        g.select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .unionByName(
            g.select(F.col("neighbor_id").alias("src"), F.col("vec_id").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    emb = io.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").alias("true_lab"),
        (F.col("vec_id") % _LP_SEED_MOD == 0).alias("seeded"),
    )
    labels = emb.select(
        "vec_id",
        F.when(F.col("seeded"), F.col("true_lab")).alias("lab"),
        "seeded",
        "true_lab",
    )
    # Each iteration consumes `labels` twice (vote source + old-label
    # carry), so WITHOUT lineage truncation the plan doubles per
    # iteration — 2^t expansion, observed as 15 embeddings scans / 66
    # Exchanges at 3 iterations. localCheckpoint per iteration (the
    # documented dedup_components pattern; on a cluster swap for
    # checkpoint against a durable dir) keeps the per-iteration plan
    # constant: one edges-sized join + vote census + one vec_id join.
    # The update also rides on `labels` itself (it already carries
    # seeded/true_lab, one row per vec_id) instead of re-scanning the
    # embeddings table every iteration.
    for it in range(_LP_ITERS):
        votes = (
            edges.join(
                labels.filter(F.col("lab").isNotNull()).select(
                    F.col("vec_id").alias("src"), "lab"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("vec_id"), "lab")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("n_votes").desc(), F.col("lab").asc()
        )
        winner = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", F.col("lab").alias("new_lab"))
        )
        labels = labels.join(winner, "vec_id", "left").select(
            "vec_id",
            F.when(F.col("seeded"), F.col("true_lab"))
            .otherwise(F.coalesce(F.col("new_lab"), F.col("lab")))
            .alias("lab"),
            "seeded",
            "true_lab",
        )
        if it < _LP_ITERS - 1:
            labels = labels.localCheckpoint()
    unl = ~F.col("seeded")
    return labels.agg(
        F.sum(F.when(unl & F.col("lab").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_propagated"),
        F.sum(F.when(unl, 1).otherwise(0)).cast("long").alias("n_unlabeled"),
        F.sum(F.when(unl & (F.col("lab") == F.col("true_lab")), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        (
            F.sum(F.when(unl & (F.col("lab") == F.col("true_lab")), 1).otherwise(0)).cast(
                "double"
            )
            / F.nullif(
                F.sum(F.when(unl & F.col("lab").isNotNull(), 1).otherwise(0)), F.lit(0)
            )
        ).alias("accuracy_on_propagated"),
    )


# --- materialized kNN graph artifact -----------------------------------------
#
# Five serving operators consume the graph (outlier scoring, PageRank,
# triangle census, label propagation, hard-negative mining). A production
# system BUILDS the neighbor graph once and serves it for months, so the
# graph materializes to parquet once per corpus fingerprint and consumers
# read the artifact. The registered sim_knn_graph query itself still
# constructs fresh (it IS the construction operator; its bench time stays
# honest). The graph's CONTENT lives in sim_neardup_lsh, named so its
# oracle SQL joins the salt.

artifacts.declare(
    "knng",
    "embeddings.parquet",
    sim_knn_graph,
    queries=("sim_knn_graph", "sim_neardup_lsh"),
)


# --- embedding norm distribution ----------------------------------------------


@register(
    "emb_norm_profile",
    sql="""
    WITH norms AS (
        SELECT label,
               list_sum(list_transform(range(1, len(embedding) + 1),
                   i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE) * 1000000000.0 + 0.5)
                        AS BIGINT))) AS nsq_fx
        FROM embeddings
    )
    SELECT label,
           count(*) AS n_vectors,
           (CAST(MIN(nsq_fx) AS DOUBLE) / 1000000000.0) AS min_norm_sq,
           (SUM(nsq_fx) * 1.0 / (1000000000.0 * count(*))) AS mean_norm_sq,
           (CAST(MAX(nsq_fx) AS DOUBLE) / 1000000000.0) AS max_norm_sq,
           CAST(SUM(CASE WHEN nsq_fx = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_vectors
    FROM norms
    GROUP BY label
    """,
    doc="Embedding L2-norm profile per label (the index health check run "
    "BEFORE building an ANN index: unnormalized batches, zero vectors, "
    "and norm drift all break cosine assumptions silently — the "
    "degenerate inputs the LSH bucket caps exist for, counted "
    "explicitly): squared norms through the same fixed-point kernel as "
    "every similarity operator, min/mean/max + zero-vector census per "
    "label in one scan + one tiny groupBy.",
)
def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    nsq = dot_fixed(F.col("embedding"), F.col("embedding"))
    norms = emb.select("label", nsq.alias("nsq_fx"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.min("nsq_fx").cast("double") / F.lit(float(_SCALE9))).alias("min_norm_sq"),
        (F.sum("nsq_fx") * F.lit(1.0) / (F.lit(float(_SCALE9)) * F.count(F.lit(1)))).alias(
            "mean_norm_sq"
        ),
        (F.max("nsq_fx").cast("double") / F.lit(float(_SCALE9))).alias("max_norm_sq"),
        F.sum(F.when(F.col("nsq_fx") == 0, 1).otherwise(0)).cast("long").alias(
            "n_zero_vectors"
        ),
    )


# --- label homophily of the kNN graph ----------------------------------------


def _homophily_sql() -> str:
    """Composes the registered sim_knn_graph spec: same-label edge rate vs
    the label-shuffled expectation."""
    from exact_spark.registry import REGISTRY

    knn = REGISTRY["sim_knn_graph"].sql
    return f"""
    WITH knn AS ({knn}),
    und AS (
        SELECT DISTINCT LEAST(vec_id, neighbor_id) AS a,
                        GREATEST(vec_id, neighbor_id) AS b
        FROM knn WHERE vec_id <> neighbor_id
    ),
    lab AS (SELECT vec_id, label FROM embeddings),
    edges AS (
        SELECT CASE WHEN la.label = lb.label THEN 1 ELSE 0 END AS same
        FROM und
        JOIN lab la ON la.vec_id = und.a
        JOIN lab lb ON lb.vec_id = und.b
    ),
    dist AS (SELECT label, count(*) AS c FROM lab GROUP BY label),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * c) AS BIGINT) AS sum_c2 FROM dist)
    SELECT (SELECT count(*) FROM und) AS n_edges,
           CAST(SUM(e.same) AS BIGINT) AS n_same_label,
           (CAST(SUM(e.same) AS DOUBLE) / count(*)) AS observed_homophily,
           (SELECT CAST(sum_c2 AS DOUBLE) / (CAST(n AS DOUBLE) * n) FROM tot)
               AS expected_under_shuffle
    FROM edges e
    """


@register(
    "sim_label_homophily",
    sql=_homophily_sql(),  # composes the registered sibling spec
    doc="Label homophily of the kNN semantic graph: the same-label edge "
    "rate vs the label-shuffled expectation sum(p_i^2) — the "
    "assortativity check that says whether embeddings carry label "
    "structure AT ALL (it quantitatively explains "
    "sim_label_propagation's accuracy: propagation can only beat the "
    "label prior when observed >> expected). Integer edge and label "
    "censuses; both rates are single divides. Plan: the materialized "
    "graph, one broadcast label attach, one census.",
)
def sim_label_homophily(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = artifacts.table("knng", spark, sf_dir)
    und = (
        g.filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            F.least("vec_id", "neighbor_id").alias("a"),
            F.greatest("vec_id", "neighbor_id").alias("b"),
        )
        .distinct()
    )
    # the (vec_id, label) map feeds three consumers (both edge-endpoint
    # attaches + the label census) — uncached each re-scanned the
    # embeddings parquet (3 scans of the corpus for 2 narrow columns)
    lab = io.load(spark, sf_dir, "embeddings").select("vec_id", "label").cache()
    la = lab.select(F.col("vec_id").alias("a_id"), F.col("label").alias("la"))
    lb = lab.select(F.col("vec_id").alias("b_id"), F.col("label").alias("lb"))
    edges = (
        und.join(F.broadcast(la), und.a == la.a_id)
        .join(F.broadcast(lb), und.b == lb.b_id)
        .select(F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("same"))
    )
    dist = lab.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    tot = dist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    return (
        edges.agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("same").cast("long").alias("n_same_label"),
            (F.sum("same").cast("double") / F.count(F.lit(1))).alias(
                "observed_homophily"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "n_edges",
            "n_same_label",
            "observed_homophily",
            (
                F.col("sum_c2").cast("double") / (F.col("n").cast("double") * F.col("n"))
            ).alias("expected_under_shuffle"),
        )
    )


def _pq_recall_sql() -> str:
    return f"""
    WITH ex AS ({_REGISTRY['sim_topk_cosine'].sql}),
    ap AS ({_REGISTRY['sim_topk_pq'].sql}),
    hits AS (
        SELECT e.query_id, count(a.neighbor_id) AS n_hits
        FROM ex e LEFT JOIN ap a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT query_id, n_hits,
           CAST(n_hits AS DOUBLE) / {_TOP_K} AS recall_at_k
    FROM hits
    """


@register(
    "sim_pq_recall",
    sql=_pq_recall_sql(),  # composes the two sibling specs (already registered)
    doc="recall@k of the PQ asymmetric-distance ranking (sim_topk_pq) "
    "against the exact brute-force top-k — completes the "
    "measure-don't-guess trio (IVF seed-row, IVF KMeans, PQ): every "
    "compressed/approximate index the engine serves now publishes its "
    "own quality number, computed from the REGISTERED operators so the "
    "diagnostic cannot drift from what production queries return.",
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = sim_topk_cosine(spark, sf_dir)
    ap = sim_topk_pq(spark, sf_dir)
    return _recall_vs_exact(ex, ap)


@register(
    "emb_dim_stats",
    sql="""
    WITH el AS (
        SELECT t.i - 1 AS dim,
               CAST(FLOOR(CAST(e.embedding[t.i] AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT) AS v6
        FROM embeddings e,
             LATERAL UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
    ),
    per AS (
        SELECT dim,
               count(*) AS n_vectors,
               CAST(SUM(v6) AS BIGINT) AS s1,
               CAST(SUM(v6 * v6) AS BIGINT) AS s2,
               CAST(MIN(v6) AS BIGINT) AS mn,
               CAST(MAX(v6) AS BIGINT) AS mx
        FROM el GROUP BY dim
    )
    SELECT dim, n_vectors,
           (CAST(s1 AS DOUBLE) / (1000000.0 * n_vectors)) AS mean_value,
           (mn / 1000000.0) AS min_value,
           (mx / 1000000.0) AS max_value,
           (CAST(s2 * n_vectors - s1 * s1 AS DOUBLE)
            / (1000000000000.0 * CAST(n_vectors AS DOUBLE) * n_vectors)) AS variance
    FROM per
    """,
    doc="Per-dimension embedding statistics census (mean/min/max/variance "
    "for every coordinate — the whitening/PCA precursor diagnostic that "
    "tells you which dimensions are dead, dominant, or off-center "
    "before emb_pca_whiten or any Matryoshka truncation is trusted; "
    "complements emb_norm_profile's per-VECTOR view with the per-AXIS "
    "one). Scale shape: posexplode then ONE groupBy on |dims| keys — "
    "map-side combine collapses every partition to |dims| cells, so the "
    "shuffle moves |dims| x partitions rows regardless of corpus size. "
    "Moments are fixed-point BIGINT sums (s2 headroom: ~9e6 vectors per "
    "dim at unit scale before the kernel must widen to DECIMAL(38) — "
    "documented bound, not a silent overflow) and the variance is the "
    "all-integer (n*s2 - s1^2) divided once.",
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    el = emb.select(
        F.posexplode("embedding").alias("dim", "e")
    ).select(
        "dim",
        F.floor(F.col("e").cast("double") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("v6"),
    )
    per = el.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("v6").cast("long").alias("s1"),
        F.sum(F.col("v6") * F.col("v6")).cast("long").alias("s2"),
        F.min("v6").cast("long").alias("mn"),
        F.max("v6").cast("long").alias("mx"),
    )
    return per.select(
        "dim",
        "n_vectors",
        (F.col("s1").cast("double") / (F.lit(1000000.0) * F.col("n_vectors"))).alias(
            "mean_value"
        ),
        (F.col("mn") / 1000000.0).alias("min_value"),
        (F.col("mx") / 1000000.0).alias("max_value"),
        (
            (F.col("s2") * F.col("n_vectors") - F.col("s1") * F.col("s1")).cast("double")
            / (
                F.lit(1000000000000.0)
                * F.col("n_vectors").cast("double")
                * F.col("n_vectors")
            )
        ).alias("variance"),
    )


def _index_manifest_sql() -> str:
    """Composes the registered sim_neardup_lsh and dedup_semantic specs plus
    the norm-profile zero-vector test into the per-vector index decision."""
    lsh = _REGISTRY["sim_neardup_lsh"].sql
    sem = _REGISTRY["dedup_semantic"].sql
    return f"""
    WITH lshp AS ({lsh}),
    semp AS ({sem}),
    nz AS (
        SELECT vec_id, label,
               list_sum(list_transform(range(1, len(embedding) + 1),
                   i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE) * 1000000000.0 + 0.5)
                        AS BIGINT))) AS nsq_fx
        FROM embeddings
    ),
    lsh_drop AS (SELECT DISTINCT vec_b AS vec_id FROM lshp),
    sem_drop AS (SELECT DISTINCT vec_id FROM semp)
    SELECT n.vec_id, n.label,
           (n.nsq_fx > 0) AS norm_ok,
           (l.vec_id IS NULL) AS lsh_unique,
           (s.vec_id IS NULL) AS sem_unique,
           ((n.nsq_fx > 0) AND l.vec_id IS NULL AND s.vec_id IS NULL) AS indexed
    FROM nz n
    LEFT JOIN lsh_drop l ON l.vec_id = n.vec_id
    LEFT JOIN sem_drop s ON s.vec_id = n.vec_id
    """


@register(
    "emb_index_manifest",
    sql=_index_manifest_sql(),  # composes two sibling specs (already registered)
    doc="The end-to-end ANN-index admission decision, per vector — the "
    "embedding-side counterpart of text_curation_manifest: zero-vector "
    "health (emb_norm_profile's test), LSH near-dup survival "
    "(sim_neardup_lsh: the higher id of each capped-bucket pair is the "
    "duplicate), and semantic-dedup survival (dedup_semantic's "
    "keep-the-first-representative rule), AND-ed into the final indexed "
    "flag so every excluded vector stays attributable to the stage that "
    "dropped it. Composed from the REGISTERED stage operators and their "
    "oracle SQL, so the manifest cannot drift from the stages it "
    "audits. Plan: the two drop-sets are tiny and broadcast into one "
    "pass over the corpus.",
)
def emb_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    nz = emb.select(
        "vec_id",
        "label",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("nsq_fx"),
    )
    lsh_drop = (
        sim_neardup_lsh(spark, sf_dir)
        .select(F.col("vec_b").alias("l_id"))
        .distinct()
        .withColumn("l_hit", F.lit(True))
    )
    sem_drop = (
        dedup_semantic(spark, sf_dir)
        .select(F.col("vec_id").alias("s_id"))
        .distinct()
        .withColumn("s_hit", F.lit(True))
    )
    out = (
        nz.join(F.broadcast(lsh_drop), nz.vec_id == F.col("l_id"), "left")
        .join(F.broadcast(sem_drop), nz.vec_id == F.col("s_id"), "left")
    )
    norm_ok = F.col("nsq_fx") > 0
    lsh_unique = F.col("l_hit").isNull()
    sem_unique = F.col("s_hit").isNull()
    return out.select(
        "vec_id",
        "label",
        norm_ok.alias("norm_ok"),
        lsh_unique.alias("lsh_unique"),
        sem_unique.alias("sem_unique"),
        (norm_ok & lsh_unique & sem_unique).alias("indexed"),
    )


@register(
    "emb_pq_distortion",
    sql=f"""
    WITH {_SQL_PQ_CODES},
    win AS (SELECT vec_id, m, d FROM best WHERE rk = 1)
    SELECT m AS subspace,
           count(*) AS n_vectors,
           CAST(SUM(d) AS BIGINT) AS total_d_fx,
           (CAST(SUM(d) AS BIGINT) / (1000000000.0 * count(*))) AS mean_distortion,
           (CAST(MAX(d) AS BIGINT) / 1000000000.0) AS max_distortion
    FROM win
    GROUP BY m
    """,
    doc="Per-SUBSPACE PQ quantization-error census (emb_pq_encode's "
    "recon_err_fx localized to the subspace that caused it — the "
    "codebook-improvement signal: a subspace with outsized distortion "
    "needs more codewords or a rotation, and fixing it is what moves "
    "sim_pq_recall). Scale shape: the same zero-shuffle encode scan, "
    "then one groupBy on |subspaces| keys — map-side combine collapses "
    "each partition to M cells; distortions stay fixed-point BIGINT "
    "until the final per-cell divides.",
)
def emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = _pq_codebook(spark, sf_dir)
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    staged = emb.select(
        "vec_id", _pq_best(F.col("embedding"), _codebook_col(cb)).alias("best")
    )
    per = staged.select(
        F.posexplode(
            F.transform(F.col("best"), lambda b: b["d"])
        ).alias("subspace", "d")
    )
    return per.groupBy(F.col("subspace").cast("bigint").alias("subspace")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("d").cast("long").alias("total_d_fx"),
        (
            F.sum("d").cast("long")
            / (F.lit(float(_SCALE9)) * F.count(F.lit(1)))
        ).alias("mean_distortion"),
        (F.max("d").cast("long") / F.lit(float(_SCALE9))).alias("max_distortion"),
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    """Composes the registered sim_knn_graph spec; the fixed peel count
    unrolls into chained CTEs (the sim_label_propagation / pagerank
    technique) so iterative k-core stays oracle-hash-checked."""
    from exact_spark.registry import REGISTRY

    knn = REGISTRY["sim_knn_graph"].sql
    steps = []
    prev = "e0"
    rounds = []
    for t in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
    d{t} AS (SELECT a, count(*) AS deg FROM {prev} GROUP BY a),
    s{t} AS MATERIALIZED (SELECT a AS v FROM d{t} WHERE deg >= {_KCORE_K}),
    e{t} AS MATERIALIZED (
        SELECT e.a, e.b FROM {prev} e
        JOIN s{t} x ON e.a = x.v JOIN s{t} y ON e.b = y.v
    )""")
        rounds.append(
            f"SELECT {t} AS round, (SELECT count(*) FROM s{t}) AS n_nodes,"
            f" CAST((SELECT count(*) FROM e{t}) // 2 AS BIGINT) AS n_edges"
        )
        prev = f"e{t}"
    return f"""
    WITH knn AS MATERIALIZED ({knn}),
    e0 AS MATERIALIZED (
        SELECT vec_id AS a, neighbor_id AS b FROM knn
        UNION
        SELECT neighbor_id AS a, vec_id AS b FROM knn
    ),{",".join(steps)}
    {" UNION ALL ".join(rounds)}
    """


@register(
    "sim_kcore_peel",
    sql=_kcore_sql(),  # composes the registered sim_knn_graph spec
    doc="Iterative {k}-core peeling of the kNN semantic graph — the "
    "density filter that separates genuinely clustered regions from "
    "chain-connected noise (a near-dup CLUSTER keeps its members' "
    "degrees after peeling; a thin path through accidental neighbors "
    "does not — the refinement signal on top of dedup_components, which "
    "keeps any connected chain). Each round drops vertices with "
    "surviving degree < {k} and restricts edges to survivors; {r} fixed "
    "rounds emit the shrinking (n_nodes, n_edges) trajectory. All "
    "integer counts, so the rounds UNROLL into chained oracle CTEs like "
    "label propagation and PageRank. Per round cost is one degree "
    "groupBy + one semi-join pair on the current edge set — each at "
    "most edge-sized shuffles, shrinking monotonically; at 100 TB the "
    "loop runs with localCheckpoint lineage truncation like "
    "dedup_components.".format(k=_KCORE_K, r=_KCORE_ROUNDS),
)
def sim_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = artifacts.table("knng", spark, sf_dir)
    e = (
        g.select(F.col("vec_id").alias("a"), F.col("neighbor_id").alias("b"))
        .unionByName(
            g.select(F.col("neighbor_id").alias("a"), F.col("vec_id").alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    rows = []
    for t in range(1, _KCORE_ROUNDS + 1):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        surv = deg.filter(F.col("deg") >= _KCORE_K).select(F.col("a").alias("v"))
        e = (
            e.join(surv.withColumnRenamed("v", "a"), "a")
            .join(surv.withColumnRenamed("v", "b"), "b")
            .select("a", "b")
            .localCheckpoint()  # truncate the peel lineage
        )
        rows.append((t, surv.count(), e.count() // 2))
    return spark.createDataFrame(rows, "round int, n_nodes bigint, n_edges bigint")


# --- Johnson-Lindenstrauss random projection --------------------------------
# The dimensionality-reduction scale path for ANN: project 64-dim float
# embeddings onto _RP_DIMS +/-1 hyperplane sums (Achlioptas' database-
# friendly JL variant — signs, not gaussians, so the projection is integer-
# exact in fixed point) and AUDIT the distortion by comparing original vs
# projected cosine on a fixed pair sample. Searching in the projected space
# cuts the per-pair kernel cost ~4x; the audit is the measure-don't-guess
# step that says whether the saved flops cost recall.

_RP_DIMS = 16
_RP_SCALE = 1_000_000  # 1e6: |proj_j| <= 64 * 1e6 * max|x|, dots fit BIGINT
_RP_SAMPLE = 20  # vectors 0..19 -> 190 audited pairs


def _rp_signs(j: int, dims: int = 64) -> list[float]:
    """Constant +/-1 sign row j of the projection matrix, derived from
    md5('rp{j}:{i}') parity — same digest both engines, shipped as
    literals (the matrix is constant; hashing per row would be waste)."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"rp{j}:{i}".encode()).hexdigest()[0] in "89abcdef" else -1.0
        for i in range(1, dims + 1)
    ]


def _rp_sql_proj() -> str:
    """DuckDB list expression: the _RP_DIMS projected BIGINT components."""
    rows = []
    for j in range(_RP_DIMS):
        lits = "[" + ", ".join(str(s) for s in _rp_signs(j)) + "]"
        rows.append(
            f"list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * ({lits})[i] "
            f"* {_RP_SCALE}.0 + 0.5) AS BIGINT)))"
        )
    return "[" + ", ".join(rows) + "]"


@register(
    "emb_random_projection",
    sql=f"""
    WITH proj AS (
        SELECT vec_id, embedding,
               {_sql_dot('embedding', 'embedding')} AS norm_fx,
               {_rp_sql_proj()} AS p
        FROM embeddings WHERE vec_id < {_RP_SAMPLE}
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               {_SQL_COS.format(dot=_sql_dot('a.embedding', 'b.embedding'), na='a.norm_fx', nb='b.norm_fx')} AS cos_orig,
               CAST(list_sum(list_transform(range(1, {_RP_DIMS} + 1),
                        j -> a.p[j] * b.p[j])) AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(range(1, {_RP_DIMS} + 1),
                        j -> a.p[j] * a.p[j])) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(range(1, {_RP_DIMS} + 1),
                        j -> b.p[j] * b.p[j])) AS DOUBLE))) AS cos_proj
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, cos_orig, cos_proj, abs(cos_proj - cos_orig) AS abs_err
    FROM pairs
    """,
    doc="Johnson-Lindenstrauss random projection fidelity audit: project "
    "64-dim embeddings to {d} dims with a constant +/-1 sign matrix "
    "(Achlioptas' JL variant — a seeded md5-parity matrix, no RNG state "
    "to ship) and report original vs projected cosine for every pair of "
    "the first {n} vectors. This is the cheap-search scale path's "
    "entrance exam: if abs_err is small the ANN stack can run its "
    "candidate kernels in the {d}-dim space ({d}/64 of the flops and "
    "bytes) and only re-rank survivors at full width. Exactness: "
    "projected components are integer sums of per-element fixed-point "
    "products (1e6 scale keeps the {d}-dim dot far inside BIGINT), "
    "so both engines compare literally identical integers; cosines are "
    "a fixed tree of IEEE divides/sqrts. Plan shape: ONE scan computes "
    "all {d} components inside a single array expression (no explode, "
    "no shuffle); the audit self-join is over a {n}-row broadcast "
    "frame. At 100 TB the projection is a pure map stage appended to "
    "any scan; only the audit sample is pairwise.".format(
        d=_RP_DIMS, n=_RP_SAMPLE
    ),
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _RP_SAMPLE)

    def proj_component(j: int):
        signs = F.array(*[F.lit(s) for s in _rp_signs(j)])
        prods = F.zip_with(
            F.col("embedding"),
            signs,
            lambda x, s: F.floor(
                x.cast("double") * s * F.lit(float(_RP_SCALE)) + F.lit(0.5)
            ).cast("long"),
        )
        return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)

    # cache the sample-bounded projection frame (< _RP_SAMPLE rows): both
    # sides of the audit self-join otherwise re-expand the scan AND
    # recompute every projection component — 2 pushed-filter scans and a
    # doubled _RP_DIMS-term array fold per pair side (guide §2.4, §5; a
    # derived frame inside the timed region, not a base-table cache)
    proj = emb.select(
        "vec_id",
        "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
        F.array(*[proj_component(j) for j in range(_RP_DIMS)]).alias("p"),
    ).cache()
    a = proj.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("norm_fx").alias("a_norm"),
        F.col("p").alias("a_p"),
    )
    b = proj.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("norm_fx").alias("b_norm"),
        F.col("p").alias("b_p"),
    )
    pairs = a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
    pdot = F.aggregate(
        F.zip_with(F.col("a_p"), F.col("b_p"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pna = F.aggregate(
        F.zip_with(F.col("a_p"), F.col("a_p"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pnb = F.aggregate(
        F.zip_with(F.col("b_p"), F.col("b_p"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos_orig = cosine_from_fixed(
        dot_fixed(F.col("a_emb"), F.col("b_emb")), F.col("a_norm"), F.col("b_norm")
    )
    cos_proj = pdot.cast("double") / (
        F.sqrt(pna.cast("double")) * F.sqrt(pnb.cast("double"))
    )
    return pairs.select(
        "a_id",
        "b_id",
        cos_orig.alias("cos_orig"),
        cos_proj.alias("cos_proj"),
        F.abs(cos_proj - cos_orig).alias("abs_err"),
    )


# --- maximal marginal relevance selection ------------------------------------
# Diversity-aware top-k: greedily pick the candidate maximizing
# lambda*rel(q,d) - (1-lambda)*max_{s in S} sim(d,s) (Carbonell & Goldstein
# 1998) — the retrieval/curation primitive that keeps a result list (or a
# training-data sample) from being k copies of the same thing. The greedy
# loop is sequential in k but k is a constant; everything per-step is a
# bounded join over the per-query candidate POOL.

_MMR_POOL = 20  # relevance pool per query feeding the greedy re-rank
_MMR_K = 5  # selections per query
_MMR_LAMBDA = 0.5  # relevance/diversity balance; 0.5 keeps the math dyadic


def _mmr_pool_sql() -> str:
    cos = _SQL_COS.format(
        dot=_sql_dot("q.embedding", "c.embedding"), na="q.norm_fx", nb="c.norm_fx"
    )
    return f"""
    norms AS (
        SELECT vec_id, embedding, label,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    q AS (SELECT * FROM norms WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               c.embedding AS ce, c.norm_fx AS cn,
               {cos} AS rel,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id) AS rn
        FROM q JOIN norms c ON c.vec_id <> q.vec_id
    ),
    pool AS (
        SELECT query_id, cand_id, ce, cn, rel FROM scored WHERE rn <= {_MMR_POOL}
    ),
    pp AS (
        SELECT p1.query_id, p1.cand_id AS a, p2.cand_id AS b,
               {_SQL_COS.format(dot=_sql_dot('p1.ce', 'p2.ce'), na='p1.cn', nb='p2.cn')} AS sim
        FROM pool p1 JOIN pool p2
          ON p2.query_id = p1.query_id AND p2.cand_id <> p1.cand_id
    )"""


@register(
    "sim_mmr_select",
    sql=f"""
    WITH RECURSIVE {_mmr_pool_sql()},
    sel AS (
        SELECT query_id, 1 AS step, cand_id, rel,
               {_MMR_LAMBDA} * rel AS mmr_score,
               [cand_id] AS chosen
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
            FROM pool
        ) WHERE rn = 1
        UNION ALL
        SELECT query_id, step + 1, cand_id, rel, score, list_append(chosen, cand_id)
        FROM (
            SELECT s.query_id, s.step, p.cand_id, p.rel, s.chosen,
                   {_MMR_LAMBDA} * p.rel - {1 - _MMR_LAMBDA} * COALESCE(
                       (SELECT max(pp.sim) FROM pp
                        WHERE pp.query_id = s.query_id AND pp.a = p.cand_id
                          AND list_contains(s.chosen, pp.b)), 0.0) AS score,
                   row_number() OVER (
                       PARTITION BY s.query_id
                       ORDER BY {_MMR_LAMBDA} * p.rel - {1 - _MMR_LAMBDA} * COALESCE(
                           (SELECT max(pp.sim) FROM pp
                            WHERE pp.query_id = s.query_id AND pp.a = p.cand_id
                              AND list_contains(s.chosen, pp.b)), 0.0) DESC,
                           p.cand_id) AS rn
            FROM sel s JOIN pool p
              ON p.query_id = s.query_id AND NOT list_contains(s.chosen, p.cand_id)
            WHERE s.step < {_MMR_K}
        ) WHERE rn = 1
    )
    SELECT query_id, step, cand_id AS selected_id, rel AS relevance, mmr_score
    FROM sel
    """,
    doc="Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein): "
    "per query, greedily select {k} of the {p} most-relevant candidates, "
    "each step maximizing lambda*relevance - (1-lambda)*max-similarity-"
    "to-already-selected — the anti-redundancy re-rank that stops a "
    "top-k (or a curated training sample) from being {k} near-"
    "duplicates; the diversity dual of sim_topk_cosine, which this "
    "composes (same fixed-point cosine kernels, same pool ranking). "
    "Exactness: relevance and pool-pairwise similarities come from the "
    "integer dot/norm kernels, lambda = 1/2 keeps each score one exact "
    "halving, and ties break on cand_id — both engines walk the "
    "identical greedy path (oracle = recursive CTE carrying the chosen "
    "list). Plan shape: ONE candidate scan builds the per-query pool "
    "(broadcast queries, window top-{p}); the greedy itself runs over "
    "POOL-BOUNDED driver state (queries x {p} rows, {p}^2-per-query "
    "sims in numpy with the identical fixed-point kernel — the same "
    "bounded-collect idiom as the KMeans centers and quantile cut "
    "sets; the old per-step Spark joins spent ~15s of job-scheduling "
    "fixed cost walking 200 rows). At 100 TB only the pool-building "
    "scan sees the data; the greedy's state is set by the pool spec, "
    "not the corpus.".format(k=_MMR_K, p=_MMR_POOL),
)
def sim_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _mmr_greedy_rows(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "query_id long, step int, selected_id long, relevance double, "
        "mmr_score double",
    )


def _np_dot_fixed(a, b) -> int:
    """numpy mirror of dot_fixed — identical IEEE op order:
    floor((x*y)*1e9 + 0.5) per element, summed as int64."""
    import numpy as np

    return int(
        np.floor(
            a.astype(np.float64) * b.astype(np.float64) * float(_SCALE9) + 0.5
        )
        .astype(np.int64)
        .sum()
    )


def _np_cos_fixed(dot_fx: int, na_fx: int, nb_fx: int) -> float:
    """numpy mirror of cosine_from_fixed — identical IEEE op order."""
    import math

    return (dot_fx / float(_SCALE9)) / (
        math.sqrt(na_fx / float(_SCALE9)) * math.sqrt(nb_fx / float(_SCALE9))
    )


def _mmr_greedy_rows(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Distributed pool construction + driver-side exact greedy.

    The pool (top-{P} relevance candidates per query, from the broadcast-
    join scan) collects to queries x {P} rows; pairwise sims and the
    {K}-step greedy run in numpy with the SAME fixed-point kernels the
    oracle states, so the walk is bit-identical to the recursive-CTE
    spec. Memoized per sf_dir: sim_diversity_gain re-reads the selection
    without re-running the scan.
    """
    import pathlib

    import numpy as np

    from exact_spark.artifacts import source_fingerprint

    # fingerprint-keyed like every other per-corpus memo: a changed
    # embeddings table at the same path must never serve a stale selection
    key = ("mmr", source_fingerprint(pathlib.Path(sf_dir).resolve() / "embeddings.parquet"))
    if key in _MMR_MEMO:
        return _MMR_MEMO[key]
    emb = io.load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id",
        "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    q = norms.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_fx").alias("q_norm"),
    )
    rel = cosine_from_fixed(
        dot_fixed(F.col("q_emb"), F.col("embedding")), F.col("q_norm"), F.col("norm_fx")
    )
    scored = (
        F.broadcast(q)
        .join(norms, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("ce"),
            F.col("norm_fx").alias("cn"),
            rel.alias("rel"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("cand_id"))
    pool_rows = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
        .collect()  # bounded: queries x pool rows, by spec
    )
    by_query: dict[int, list] = {}
    for r in pool_rows:
        by_query.setdefault(int(r["query_id"]), []).append(r)
    lam = _MMR_LAMBDA
    out: list[tuple] = []
    for qid in sorted(by_query):
        cands = by_query[qid]
        embs = {
            int(c["cand_id"]): np.array(c["ce"], dtype=np.float64) for c in cands
        }
        norms_fx = {int(c["cand_id"]): int(c["cn"]) for c in cands}
        rels = {int(c["cand_id"]): float(c["rel"]) for c in cands}
        sims: dict[tuple[int, int], float] = {}
        ids = sorted(embs)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                s = _np_cos_fixed(
                    _np_dot_fixed(embs[a], embs[b]), norms_fx[a], norms_fx[b]
                )
                sims[(a, b)] = s
                sims[(b, a)] = s
        # step 1: pure relevance (ties on cand_id ascending)
        first = min(ids, key=lambda c: (-rels[c], c))
        out.append((qid, 1, first, rels[first], lam * rels[first]))
        chosen = [first]
        for step in range(2, _MMR_K + 1):
            best, best_key, best_score = None, None, None
            for c in ids:
                if c in chosen:
                    continue
                mx = max((sims[(c, b)] for b in chosen), default=0.0)
                score = lam * rels[c] - (1 - lam) * mx
                k2 = (-score, c)
                if best_key is None or k2 < best_key:
                    best, best_key, best_score = c, k2, score
            if best is None:
                # pool exhausted before K picks (pool smaller than K):
                # emit fewer steps, exactly like the recursive-CTE oracle
                break
            out.append((qid, step, best, rels[best], best_score))
            chosen.append(best)
    memo_put(_MMR_MEMO, key, out)
    return out


_MMR_MEMO: dict = {}


# --- 1-bit sign quantization + Hamming search --------------------------------
# The most aggressive embedding compression short of dropping the vector:
# one SIGN bit per dimension, 64 dims -> two 32-bit words in BIGINTs (a
# d-dim vector needs ceil(d/32) words; two words keep every op inside
# signed-BIGINT territory with no ANSI overflow edge at bit 63). Hamming
# distance between codes approximates angle (Charikar's SimHash bound:
# E[hamming]/d = theta/pi), so a 256x smaller index can pre-rank candidates
# and the float kernels only re-rank survivors. emb_quantize_int8 (8 bit)
# and emb_pq_encode (codebooks) are the gentler siblings; the recall query
# below measures what the last factor of 8 costs.

_HAM_K = 5


def _sql_sign_word(lo: int, hi: int) -> str:
    # bits for dims lo..hi (1-indexed), bit j-lo set when embedding[j] >= 0
    return (
        f"list_sum(list_transform(range({lo}, {hi} + 1), "
        f"j -> CASE WHEN embedding[j] >= 0 THEN (1::BIGINT << (j - {lo})) "
        f"ELSE 0::BIGINT END))"
    )


def _sign_word(lo: int, hi: int):
    # Spark mirror: transform index i is 0-based within the slice
    n = hi - lo + 1
    return F.expr(
        f"aggregate(transform(slice(embedding, {lo}, {n}), "
        f"(x, i) -> IF(x >= CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), i), "
        f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a + b)"
    )


_SQL_HAM_CODES = f"""
    codes AS (
        SELECT vec_id,
               {_sql_sign_word(1, 32)} AS w_lo,
               {_sql_sign_word(33, 64)} AS w_hi
        FROM embeddings
    )"""


@register(
    "emb_hamming_topk",
    sql=f"""
    WITH {_SQL_HAM_CODES},
    q AS (SELECT * FROM codes WHERE vec_id < {_N_QUERIES}),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               bit_count(xor(q.w_lo, c.w_lo)) + bit_count(xor(q.w_hi, c.w_hi)) AS hamming
        FROM q JOIN codes c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, hamming,
               row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
        FROM pairs
    )
    SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming, rank
    FROM ranked WHERE rank <= {_HAM_K}
    """,
    doc="1-bit sign-quantized ANN: embeddings collapse to one sign bit "
    "per dimension packed into two BIGINT words, candidates rank by "
    "Hamming distance (two XOR+popcount ops per pair — SimHash's angle "
    "estimator, 256x less index than float32). The final compression "
    "rung under emb_quantize_int8 and emb_pq_encode; "
    "emb_hamming_recall measures what it costs. Exactness: the packed "
    "words are integer bit patterns both engines derive from the same "
    "x >= 0 predicate, Hamming is integer, ties break on neighbor_id. "
    "Plan shape: packing is a pure map expression in the scan (no "
    "shuffle); the query side broadcasts; per-query top-k is the only "
    "exchange. At 100 TB the code table is the thing that fits in "
    "memory when the float table cannot — 16 GB per billion vectors.",
)
def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id", _sign_word(1, 32).alias("w_lo"), _sign_word(33, 64).alias("w_hi")
    )
    q = codes.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    pairs = F.broadcast(q).join(codes, F.col("vec_id") != F.col("query_id"))
    ham = F.expr("bit_count(q_lo ^ w_lo) + bit_count(q_hi ^ w_hi)")
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), ham.cast("long").alias("hamming")
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _HAM_K
    )


def _hamming_recall_sql() -> str:
    from exact_spark.registry import REGISTRY

    return f"""
    WITH ham AS ({REGISTRY["emb_hamming_topk"].sql}),
    exact AS ({REGISTRY["sim_topk_cosine"].sql})
    SELECT h.query_id,
           CAST(count(e.neighbor_id) AS BIGINT) AS n_overlap,
           {_HAM_K} AS k,
           (CAST(count(e.neighbor_id) AS DOUBLE) / {_HAM_K}) AS recall_at_k
    FROM ham h
    LEFT JOIN exact e
      ON e.query_id = h.query_id AND e.neighbor_id = h.neighbor_id
    GROUP BY h.query_id
    """


@register(
    "emb_hamming_recall",
    sql=_hamming_recall_sql(),
    doc="Recall@k of the 1-bit Hamming pre-rank against the exact cosine "
    "top-k — the measure-don't-guess diagnostic for the sign-"
    "quantization rung, sibling of sim_ivf_recall / sim_pq_recall / "
    "dedup_lsh_recall: both rankings are the REGISTERED sibling specs "
    "embedded verbatim (SQL) / called directly (plan), so the measured "
    "index can never drift from the measured baseline. One number per "
    "query says whether two XOR+popcounts per pair retain enough of "
    "the angle ordering to gate the expensive float re-rank. Plan "
    "shape: both sides are per-query top-{k} frames (rows = queries x "
    "{k}); the overlap join and rollup are trivial at any scale.".format(
        k=_HAM_K
    ),
)
def emb_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ham = emb_hamming_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = sim_topk_cosine(spark, sf_dir).select(
        F.col("query_id").alias("e_qid"), F.col("neighbor_id").alias("e_nid")
    )
    j = ham.join(
        exact,
        (F.col("e_qid") == F.col("query_id")) & (F.col("e_nid") == F.col("neighbor_id")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("e_nid").cast("long").alias("n_overlap"),
        F.lit(_HAM_K).cast("int").alias("k"),
        (F.count("e_nid").cast("double") / _HAM_K).alias("recall_at_k"),
    )


def _diversity_gain_sql() -> str:
    from exact_spark.registry import REGISTRY

    cos = _SQL_COS.format(
        dot=_sql_dot("x.embedding", "y.embedding"), na="x.norm_fx", nb="y.norm_fx"
    )
    return f"""
    WITH topk AS ({REGISTRY["sim_topk_cosine"].sql}),
    mmr AS ({REGISTRY["sim_mmr_select"].sql}),
    norms AS (
        SELECT vec_id, embedding,
               {_sql_dot('embedding', 'embedding')} AS norm_fx
        FROM embeddings
    ),
    pick AS (
        SELECT 'topk' AS method, query_id, neighbor_id AS sel_id FROM topk
        UNION ALL
        SELECT 'mmr' AS method, query_id, selected_id AS sel_id FROM mmr
    ),
    pairsim AS (
        SELECT p1.method, p1.query_id,
               CAST(SUM(CAST(FLOOR(({cos}) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_fx,
               count(*) AS n_pairs
        FROM pick p1
        JOIN pick p2
          ON p2.method = p1.method AND p2.query_id = p1.query_id
         AND p2.sel_id > p1.sel_id
        JOIN norms x ON x.vec_id = p1.sel_id
        JOIN norms y ON y.vec_id = p2.sel_id
        GROUP BY p1.method, p1.query_id
    )
    SELECT t.query_id,
           (CAST(t.s_fx AS DOUBLE) / t.n_pairs) / 1000000.0 AS mean_pairsim_topk,
           (CAST(m.s_fx AS DOUBLE) / m.n_pairs) / 1000000.0 AS mean_pairsim_mmr,
           ((CAST(t.s_fx AS DOUBLE) / t.n_pairs) - (CAST(m.s_fx AS DOUBLE) / m.n_pairs))
               / 1000000.0 AS diversity_gain
    FROM pairsim t JOIN pairsim m
      ON m.query_id = t.query_id AND t.method = 'topk' AND m.method = 'mmr'
    """


@register(
    "sim_diversity_gain",
    sql=_diversity_gain_sql(),
    doc="What did MMR buy? Per query, the mean pairwise cosine among the "
    "plain cosine top-k versus among sim_mmr_select's picks, and the "
    "drop between them — the redundancy actually removed by the "
    "diversity re-rank, in cosine units. Positive gain = the MMR set "
    "is more spread out than the pure-relevance set; a ~0 gain says "
    "the pool was already diverse and the re-rank is free to skip. "
    "Composition of THREE registered specs (top-k, MMR, and the "
    "fixed-point cosine kernel) embedded verbatim so the measurement "
    "can never drift from the thing measured — the same "
    "measure-don't-guess closure as sim_ivf_recall and "
    "emb_hamming_recall. Exactness: each pairwise cosine re-rounds to "
    "a 1e6 fixed-point BIGINT before the per-set sum, so the sums are "
    "exact integers and each mean is one divide. Plan shape: both "
    "selections are queries x k rows; the pairwise stage is k^2 per "
    "query over broadcast-joined vectors — constant work per query at "
    "any corpus size.",
)
def sim_diversity_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = io.load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id",
        "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    topk = sim_topk_cosine(spark, sf_dir).select(
        F.lit("topk").alias("method"), "query_id", F.col("neighbor_id").alias("sel_id")
    )
    mmr = sim_mmr_select(spark, sf_dir).select(
        F.lit("mmr").alias("method"), "query_id", F.col("selected_id").alias("sel_id")
    )
    pick = topk.unionByName(mmr)
    # ordered within-set pairs by collect-expand instead of a self-join:
    # the join consumed `pick` twice, re-expanding BOTH composed
    # selections (top-k cosine and the MMR fold) per side. One groupBy
    # collects each (method, query) selection (<= k ids) and the ordered
    # pairs (s2 > sel_id, exactly the join's condition on the sorted
    # array) expand in-row.
    from exact_spark.operators.dedup import _self_pairs

    pairs = (
        pick.groupBy("method", "query_id")
        .agg(F.sort_array(F.collect_list("sel_id")).alias("ids"))
        .select(
            "method",
            "query_id",
            F.explode(_self_pairs("ids", "sel_id", "s2")).alias("p"),
        )
        .select(
            "method", "query_id", F.col("p.sel_id").alias("sel_id"), F.col("p.s2").alias("s2")
        )
    )
    x = norms.select(
        F.col("vec_id").alias("xv"), F.col("embedding").alias("xe"), F.col("norm_fx").alias("xn")
    )
    y = norms.select(
        F.col("vec_id").alias("yv"), F.col("embedding").alias("ye"), F.col("norm_fx").alias("yn")
    )
    jp = pairs.join(F.broadcast(x), F.col("xv") == F.col("sel_id")).join(
        F.broadcast(y), F.col("yv") == F.col("s2")
    )
    cos = cosine_from_fixed(
        dot_fixed(F.col("xe"), F.col("ye")), F.col("xn"), F.col("yn")
    )
    cos_fx = F.floor(cos * 1000000.0 + F.lit(0.5)).cast("long")
    # both methods' per-query sums from ONE conditional aggregate: the
    # previous filter-then-self-join on `ps` re-expanded the whole pair
    # lineage once per method. The inner-join semantics (query present in
    # BOTH selections) survive as a filter on the two counts.
    is_t = F.col("method") == "topk"
    ps = jp.groupBy("query_id").agg(
        F.sum(F.when(is_t, cos_fx)).cast("long").alias("t_fx"),
        F.count(F.when(is_t, F.lit(1))).alias("t_n"),
        F.sum(F.when(~is_t, cos_fx)).cast("long").alias("m_fx"),
        F.count(F.when(~is_t, F.lit(1))).alias("m_n"),
    )
    t_raw = F.col("t_fx").cast("double") / F.col("t_n")
    m_raw = F.col("m_fx").cast("double") / F.col("m_n")
    return (
        ps.filter((F.col("t_n") > 0) & (F.col("m_n") > 0))
        .select(
            "query_id",
            (t_raw / 1000000.0).alias("mean_pairsim_topk"),
            (m_raw / 1000000.0).alias("mean_pairsim_mmr"),
            ((t_raw - m_raw) / 1000000.0).alias("diversity_gain"),
        )
    )


# ---------------------------------------------------------------------------
# Cap censuses (no cap binds silently: each reports how often it bound) —
# the embedding-side companions of dedup.hot_shingle_census et al.; same
# _cap_census kernel, same contract (tests/test_cap_diagnostics.py: nonzero
# when the cap binds).


def emb_bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped mass of _EMB_BUCKET_CAP on sim_neardup_lsh's (band, bucket)
    sign-projection key. Members keep a redundant route through the other
    band; the measured recall diagnostics price the residual loss."""
    from exact_spark.operators.dedup import _cap_census

    bands = _emb_bands(_emb_sigs(spark, sf_dir))
    return _cap_census(bands, ["band", "bucket"], _EMB_BUCKET_CAP)


def sem_chunk_census(
    spark: SparkSession, sf_dir: str, quantizer: str = "seed"
) -> DataFrame:
    """How often the semantic-dedup chunking binds: clusters larger than
    _SEM_CLUSTER_CAP are SPLIT (never dropped — r07 fix), so the exposure
    is recall at chunk boundaries, not lost vectors. Reports clusters over
    cap, the total member mass living in split clusters, and the mass
    sitting BEYOND each cluster's first chunk (the members whose candidate
    pairs cross a chunk boundary at all) — zero means dedup_semantic ran
    exactly as the uncapped ideal. ``quantizer`` selects the occupancy
    policy under census: ``"seed"`` (dedup_semantic's first-k rows) or
    ``"kmeans"`` (dedup_semantic_kmeans' trained quantizer) — the two
    cluster the space differently, so each needs its own census. Also
    reports the occupancy-driven k and the corpus size, so a cross-SF read
    shows max cluster size staying ~flat while N grows (the scale property
    tests/test_cap_diagnostics.py pins)."""
    emb = io.load(spark, sf_dir, "embeddings", spread=True)
    n_corpus = _sem_corpus_n(spark, sf_dir)
    k = _sem_k(n_corpus)
    norms = emb.select(
        "vec_id", "embedding",
        dot_fixed(F.col("embedding"), F.col("embedding")).alias("norm_fx"),
    )
    if quantizer == "kmeans":
        cent = _kmeans_centroids(spark, sf_dir, k)
    elif quantizer == "seed":
        cent = norms.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").alias("c_embedding"),
            F.col("norm_fx").alias("c_norm_fx"),
        )
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown quantizer policy {quantizer!r}")
    members = _assign_members(norms, cent).select("vec_id", "cluster")
    cap = _SEM_CLUSTER_CAP
    per = members.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    over = F.col("n") > cap
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(over.cast("long")).cast("long").alias("n_groups_over_cap"),
        F.sum(F.when(over, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_members_in_split_clusters"),
        F.sum(F.when(over, F.col("n") - cap).otherwise(0))
        .cast("long")
        .alias("n_members_beyond_first_chunk"),
        F.max("n").cast("long").alias("max_group_size"),
        F.lit(cap).cast("long").alias("cap"),
        F.lit(quantizer).alias("quantizer"),
        F.lit(k).cast("long").alias("k"),
        F.lit(n_corpus).cast("long").alias("n_corpus"),
        F.lit(_SEM_TARGET_OCC).cast("long").alias("target_occ"),
    )
