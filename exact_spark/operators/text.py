"""Text-analysis operators for training-data pipelines (project north star:
language-ID, quality scoring, token counting, document fingerprinting).

All tokenization is a shared deterministic spec — lowercase, split on
non-alphanumeric runs, drop empties — expressed identically in Spark
(`split`/`filter`) and the DuckDB oracle (`regexp_split_to_array`/
`list_filter`) so results hash-match.

Everything is per-row array math (no UDFs, no shuffles except final
groupBys) — at 100 TB these run as a single scan with whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from exact_spark import artifacts, io
from exact_spark.functions import fixed, fround, sql_fixed, sql_fround
from exact_spark.registry import register

# Shared token spec.
_SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def tokens_col(text: Column = None) -> Column:
    text = F.col("text") if text is None else text
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda x: x != "")


# BPE-ish pre-tokenizer: alnum runs + single non-space punctuation marks;
# each alnum run contributes ceil(len/4) subword pieces (the ~4-chars-per-
# BPE-token heuristic), punctuation one piece each. Integer arithmetic so
# both engines agree exactly.
_BPE_PATTERN = "[a-z0-9]+|[^a-z0-9\\s]"


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
_SQL_STOP = ", ".join(f"'{w}'" for w in _STOPWORDS)

# n-gram-heuristic language ID: marker-token hit rates per language,
# argmax with a fixed tie-break order, 'und' when nothing matches.
_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "de", "et", "un", "les"),
    "de": ("der", "die", "das", "und", "ein", "ist"),
}


def _sql_hits(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(toks, x -> x IN ({lst})))"


# PII spec, shared verbatim between Spark (Java regex) and DuckDB (RE2) —
# only constructs both engines implement identically (char classes, bounded
# repeats, \b); no lookarounds, no backrefs. Redaction is global-replace in
# both (Spark regexp_replace is global; DuckDB needs the 'g' flag).
_EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_IPV4_PAT = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "text_profile",
    sql=f"""
    WITH t AS (
        SELECT doc_id, lang, lower(text) AS lo, {_SQL_TOKS} AS toks,
               regexp_extract_all(lower(text), '{_BPE_PATTERN}') AS pieces
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, lo, toks, pieces,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio,
               len(list_filter(toks, x -> x IN ({_SQL_STOP}))) * 1.0 / len(toks) AS stopword_ratio,
               {_sql_hits('en')} AS h_en, {_sql_hits('es')} AS h_es,
               {_sql_hits('fr')} AS h_fr, {_sql_hits('de')} AS h_de
        FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           lang,
           CASE WHEN h_en = 0 AND h_es = 0 AND h_fr = 0 AND h_de = 0 THEN 'und'
                WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
                WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
                WHEN h_fr >= h_de THEN 'fr'
                ELSE 'de' END AS predicted_lang,
           n_tokens,
           n_distinct,
           list_sum(list_transform(toks, x -> length(x))) * 1.0 / n_tokens AS avg_token_len,
           CAST(COALESCE(list_sum(list_transform(pieces,
                x -> CASE WHEN regexp_matches(x, '^[a-z0-9]')
                          THEN (length(x) + 3) // 4 ELSE 1 END)), 0) AS BIGINT) AS n_bpe_est,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
           CAST(len(regexp_extract_all(lo, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(lo, '{_IPV4_PAT}')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(lo, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                              '{_IPV4_PAT}', '<IP>', 'g')) AS redacted_fingerprint,
           {sql_fround('distinct_ratio', 10000)} AS distinct_ratio,
           {sql_fround('stopword_ratio', 10000)} AS stopword_ratio,
           {sql_fround('0.4 * LEAST(n_tokens / 100.0, 1.0) + 0.4 * distinct_ratio + 0.2 * LEAST(stopword_ratio * 5.0, 1.0)', 10000)} AS quality_score
    FROM feats
    """,
    doc="Per-document text profile in ONE scan: token counting (whitespace-"
    "token count, distinct count, mean token length, BPE-ish subword "
    "estimate — alnum/punct pre-tokenizer, ceil(len/4) pieces per alnum "
    "run), md5 fingerprint over the sorted distinct token set (the "
    "canonical key for fingerprint dedup), quality scoring "
    "(length/stopword/distinct ratios folded into a deterministic "
    "composite), marker-token language ID (argmax with fixed tie-break, "
    "'und' when nothing matches), and PII handling (email/IPv4 match "
    "counts + md5 fingerprint of the globally-redacted text — the "
    "verify-without-storing pattern for redaction pipelines) — pure "
    "array/regex ops, whole-stage codegen, no shuffle.",
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text_profile_frame(spark, sf_dir)


def _text_profile_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.lower(F.col("text")).alias("lo"),
        tokens_col().alias("toks"),
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN), F.lit(0)).alias(
            "pieces"
        ),
    ).filter(F.size("toks") > 0)
    n_tokens = F.size("toks")
    tok_len_sum = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    is_alnum = lambda x: x.rlike("^[a-z0-9]")  # noqa: E731
    bpe_sum = F.aggregate(
        F.transform(
            F.col("pieces"),
            lambda x: F.when(
                is_alnum(x), F.floor((F.length(x) + 3) / 4).cast("long")
            ).otherwise(F.lit(1).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    distinct_ratio = F.size(F.array_distinct("toks")) * 1.0 / n_tokens
    stop_ratio = (
        F.size(F.filter(F.col("toks"), lambda x: x.isin(*_STOPWORDS))) * 1.0 / n_tokens
    )

    def hits(lang: str) -> Column:
        return F.size(F.filter(F.col("toks"), lambda x: x.isin(*_MARKERS[lang])))

    redacted = F.regexp_replace(
        F.regexp_replace(F.col("lo"), _EMAIL_PAT, "<EMAIL>"), _IPV4_PAT, "<IP>"
    )
    feats = t.select(
        "doc_id",
        "lang",
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        (tok_len_sum * 1.0 / n_tokens).alias("avg_token_len"),
        bpe_sum.cast("long").alias("n_bpe_est"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("toks"))))).alias(
            "fingerprint"
        ),
        F.size(F.regexp_extract_all(F.col("lo"), F.lit(_EMAIL_PAT), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("lo"), F.lit(_IPV4_PAT), F.lit(0)))
        .cast("long")
        .alias("n_ipv4"),
        F.md5(redacted).alias("redacted_fingerprint"),
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        hits("en").alias("h_en"),
        hits("es").alias("h_es"),
        hits("fr").alias("h_fr"),
        hits("de").alias("h_de"),
    )
    h = {k: F.col(f"h_{k}") for k in ("en", "es", "fr", "de")}
    zero = (h["en"] == 0) & (h["es"] == 0) & (h["fr"] == 0) & (h["de"] == 0)
    pred = (
        F.when(zero, F.lit("und"))
        .when((h["en"] >= h["es"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["de"]), F.lit("en"))
        .when((h["es"] >= h["fr"]) & (h["es"] >= h["de"]), F.lit("es"))
        .when(h["fr"] >= h["de"], F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    score = (
        0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.4 * F.col("distinct_ratio")
        + 0.2 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    )
    return feats.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        "n_tokens",
        "n_distinct",
        "avg_token_len",
        "n_bpe_est",
        "fingerprint",
        "n_emails",
        "n_ipv4",
        "redacted_fingerprint",
        fround(F.col("distinct_ratio"), 10_000).alias("distinct_ratio"),
        fround(F.col("stopword_ratio"), 10_000).alias("stopword_ratio"),
        fround(score, 10_000).alias("quality_score"),
    )


# The per-document profile, materialized ONCE per corpus — the canonical
# document-features table every curation stage keys off (quality, token
# counts, language). Three consumers (text_source_mix,
# text_quality_classifier, text_token_budget_select) serve from it; the
# registered text_profile query remains the honest fresh builder.
artifacts.declare(
    "textprof",
    "documents.parquet",
    _text_profile_frame,
    queries=("text_profile",),
)


# --- keep/drop filter pipeline (the decision layer a training-data curation
# run actually executes over the profile features) --------------------------

_MIN_TOKENS = 25
_MIN_QUALITY = 0.45  # compared on the 1e-4-rounded score in BOTH engines


@register(
    "text_filter_pipeline",
    sql=f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    f AS (
        SELECT doc_id, len(toks) AS n_tokens,
               len(toks) = 0 AS is_empty,
               CASE WHEN len(toks) = 0 THEN NULL
                    ELSE md5(array_to_string(list_sort(list_distinct(toks)), ' '))
               END AS fp,
               CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                 {sql_fround(
                     "0.4 * LEAST(len(toks) / 100.0, 1.0)"
                     " + 0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))"
                     " + 0.2 * LEAST(len(list_filter(toks, x -> x IN (" + _SQL_STOP + ")))"
                     " * 1.0 / len(toks) * 5.0, 1.0)", 10000)}
               END AS quality_score,
               CASE WHEN len(toks) = 0 THEN TRUE
                    WHEN {_sql_hits('en')} = 0 AND {_sql_hits('es')} = 0
                     AND {_sql_hits('fr')} = 0 AND {_sql_hits('de')} = 0 THEN TRUE
                    ELSE FALSE END AS lang_unknown
        FROM t
    ),
    d AS (
        SELECT *,
               min(doc_id) OVER (PARTITION BY fp) AS fp_min,
               count(*) OVER (PARTITION BY fp) AS fp_cnt
        FROM f
    )
    SELECT doc_id, n_tokens, quality_score,
           CASE WHEN NOT is_empty AND fp_cnt > 1 AND doc_id > fp_min
                THEN fp_min ELSE NULL END AS dup_of,
           concat_ws(',',
               CASE WHEN is_empty THEN 'empty' END,
               CASE WHEN NOT is_empty AND n_tokens < {_MIN_TOKENS} THEN 'short' END,
               CASE WHEN NOT is_empty AND quality_score < {_MIN_QUALITY} THEN 'low_quality' END,
               CASE WHEN NOT is_empty AND lang_unknown THEN 'lang_unknown' END,
               CASE WHEN NOT is_empty AND fp_cnt > 1 AND doc_id > fp_min THEN 'duplicate' END
           ) AS reasons,
           (NOT is_empty AND n_tokens >= {_MIN_TOKENS}
            AND quality_score >= {_MIN_QUALITY} AND NOT lang_unknown
            AND NOT (fp_cnt > 1 AND doc_id > fp_min)) AS keep
    FROM d
    """,
    doc="Training-data curation decision layer over `documents`: one scan "
    "computes tokens, rounded quality score, language-ID hit counts and the "
    "sorted-distinct-token fingerprint; ONE shuffle (window keyed on the "
    "fingerprint — near-unique key, so evenly distributed at 100 TB) "
    "resolves exact-duplicate groups to their minimum doc_id; every row "
    "gets keep/drop plus ordered reason codes "
    "(empty|short|low_quality|lang_unknown|duplicate) and a dup_of pointer "
    "— the auditable form a curation run needs (drop WITH provenance, not "
    "a silent filter). Thresholds are engine constants mirrored verbatim "
    "in the oracle.",
)
def text_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = io.load(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col().alias("toks"))
    n_tokens = F.size("toks")
    is_empty = n_tokens == 0
    score = (
        0.4 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.4 * (F.size(F.array_distinct("toks")) * 1.0 / n_tokens)
        + 0.2
        * F.least(
            F.size(F.filter(F.col("toks"), lambda x: x.isin(*_STOPWORDS)))
            * 1.0
            / n_tokens
            * 5.0,
            F.lit(1.0),
        )
    )
    no_hits = F.lit(True)
    for lang in _MARKERS:
        no_hits = no_hits & (
            F.size(F.filter(F.col("toks"), lambda x: x.isin(*_MARKERS[lang]))) == 0
        )
    f = t.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        is_empty.alias("is_empty"),
        F.when(
            is_empty, F.lit(None).cast("string")
        ).otherwise(
            F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("toks")))))
        ).alias("fp"),
        F.when(is_empty, F.lit(0.0)).otherwise(fround(score, 10_000)).alias(
            "quality_score"
        ),
        F.when(is_empty, F.lit(True)).otherwise(no_hits).alias("lang_unknown"),
    )
    w = Window.partitionBy("fp")
    d = f.withColumn("fp_min", F.min("doc_id").over(w)).withColumn(
        "fp_cnt", F.count(F.lit(1)).over(w)
    )
    is_dup = (~F.col("is_empty")) & (F.col("fp_cnt") > 1) & (
        F.col("doc_id") > F.col("fp_min")
    )
    ne = ~F.col("is_empty")
    short = ne & (F.col("n_tokens") < _MIN_TOKENS)
    lowq = ne & (F.col("quality_score") < _MIN_QUALITY)
    unk = ne & F.col("lang_unknown")
    return d.select(
        "doc_id",
        "n_tokens",
        "quality_score",
        F.when(is_dup, F.col("fp_min")).otherwise(F.lit(None).cast("long")).alias(
            "dup_of"
        ),
        F.concat_ws(
            ",",
            F.when(F.col("is_empty"), F.lit("empty")),
            F.when(short, F.lit("short")),
            F.when(lowq, F.lit("low_quality")),
            F.when(unk, F.lit("lang_unknown")),
            F.when(is_dup, F.lit("duplicate")),
        ).alias("reasons"),
        (ne & ~short & ~lowq & ~unk & ~is_dup).alias("keep"),
    )


# --- corpus mixing: deterministic per-group stratified sampling -------------

_MIX_SEED = 42
_MIX_RATES = {"en": 0.5, "es": 1.0, "fr": 1.0, "de": 1.0, "zh": 0.25}
_MIX_DEFAULT_RATE = 1.0


@register(
    "text_sample_stratified",
    sql=f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5('{_MIX_SEED}:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
               count(*) OVER (PARTITION BY lang) AS n_group
        FROM documents
    )
    SELECT doc_id, lang, n_group,
           CAST(FLOOR(n_group * CASE lang
               {" ".join(f"WHEN '{k}' THEN {v!r}" for k, v in _MIX_RATES.items())}
               ELSE {_MIX_DEFAULT_RATE!r} END) AS BIGINT) AS k_target
    FROM ranked
    WHERE rk <= FLOOR(n_group * CASE lang
        {" ".join(f"WHEN '{k}' THEN {v!r}" for k, v in _MIX_RATES.items())}
        ELSE {_MIX_DEFAULT_RATE!r} END)
    """,
    doc="Corpus-mixing sampler: exact-k per-language downsampling to hit a "
    "target language mix (the rebalancing step before pretraining). "
    "Selection order is md5(seed:doc_id) — partition-count and cluster-"
    "size independent, so the sampled corpus is reproducible bit-for-bit "
    "on any deployment and re-runs are stable under data relayout. One "
    "shuffle (the per-language window); per-group k = floor(n * rate).",
)
def text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = io.load(spark, sf_dir, "documents")
    rate = F.lit(_MIX_DEFAULT_RATE)
    for k, v in reversed(_MIX_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit(f"{_MIX_SEED}:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    wg = Window.partitionBy("lang")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wg).alias("n_group"),
        rate.alias("rate"),
    )
    k_target = F.floor(F.col("n_group") * F.col("rate"))
    return (
        ranked.filter(F.col("rk") <= k_target)
        .select("doc_id", "lang", "n_group", k_target.cast("long").alias("k_target"))
    )


# --- vocabulary building (tokenizer-training corpus prep) -------------------

_VOCAB_K = 200


@register(
    "text_vocab_topk",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    counts AS (
        SELECT tok,
               count(*) AS tf,
               count(DISTINCT doc_id) AS df
        FROM toks GROUP BY tok
    ),
    ranked AS (
        SELECT tok, tf, df,
               row_number() OVER (ORDER BY tf DESC, tok) AS rank
        FROM counts
    )
    SELECT rank, tok, tf, df FROM ranked WHERE rank <= {_VOCAB_K}
    """,
    doc="Corpus vocabulary: term and document frequency for every token in "
    "one explode + one groupBy (tf = count, df = distinct docs), top-K by "
    "frequency with a deterministic tie-break — the first step of any "
    "tokenizer/BPE training run. The groupBy is keyed on the token "
    "(map-side partial aggregation absorbs the Zipf head before the "
    "shuffle, so hot tokens like 'the' do not skew a reducer); the final "
    "top-K is a single ranking over the already-aggregated vocabulary, "
    "which is orders of magnitude smaller than the corpus.",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = io.load(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    # TakeOrderedAndProject (distributed top-K) instead of a global window:
    # a single-partition row_number over the full vocabulary would bottleneck
    # one task; ranking happens after the K survivors are selected
    top = counts.orderBy(F.col("tf").desc(), "tok").limit(_VOCAB_K)
    w = Window.orderBy(F.col("tf").desc(), "tok")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "tok", "tf", "df"
    )


# ---------------------------------------------------------------------------
# Intra-document repetition profile (the Gopher repetition filters, Rae et
# al. 2021 §A1.1: duplicate/top n-gram fractions catch boilerplate and
# degenerate generation loops that per-corpus dedup cannot see).
#
# Scale shape: every statistic is computed INSIDE array expressions on the
# row — sort_array + a run-length fold replaces the explode→groupBy(gram)
# shuffle a naive plan would use, so the operator is embarrassingly parallel
# with ZERO shuffles at any corpus size (per-row cost O(L log L) in document
# length, bounded by the ingest-side length cap). The DuckDB oracle computes
# the same counts via unnest+GROUP BY — max run length of the sorted gram
# array == max per-gram count, integer-exact across engines.

_REP_MIN_WORDS = 3
_REP_MAX_TOP_WORD = 0.12  # drop: one word > 12% of the doc
_REP_MAX_DUP_2GRAM = 0.10  # drop: >10% of word bigrams are repeats
_REP_MIN_DISTINCT = 0.35  # drop: vocabulary-collapsed docs


def _max_run_count(sorted_arr: Column) -> Column:
    """Max multiplicity of any element — a run-length fold over the SORTED
    array (equal elements are adjacent), entirely inside codegen."""
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, acc0, step, lambda acc: acc["best"])


@register(
    "text_repetition_profile",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ),
    base AS (SELECT doc_id, t, len(t) AS n_words FROM toks WHERE len(t) >= {_REP_MIN_WORDS}),
    g2 AS (
        SELECT doc_id, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g
        FROM base
    ),
    wtop AS (
        SELECT doc_id, MAX(c) AS top_word_n FROM (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM base) GROUP BY doc_id, tok
        ) GROUP BY doc_id
    ),
    gtop AS (
        SELECT doc_id, MAX(c) AS top_2gram_n FROM (
            SELECT doc_id, gr, count(*) AS c
            FROM (SELECT doc_id, unnest(g) AS gr FROM g2) GROUP BY doc_id, gr
        ) GROUP BY doc_id
    ),
    stats AS (
        SELECT b.doc_id, b.n_words,
               CAST(len(list_distinct(b.t)) AS DOUBLE) / b.n_words AS distinct_word_frac,
               CAST(w.top_word_n AS DOUBLE) / b.n_words AS top_word_frac,
               1.0 - CAST(len(list_distinct(g.g)) AS DOUBLE) / (b.n_words - 1) AS dup_2gram_frac,
               CAST(c.top_2gram_n AS DOUBLE) / (b.n_words - 1) AS top_2gram_frac
        FROM base b
        JOIN wtop w USING (doc_id)
        JOIN g2 g ON g.doc_id = b.doc_id
        JOIN gtop c ON c.doc_id = b.doc_id
    )
    SELECT doc_id, n_words, distinct_word_frac, top_word_frac,
           dup_2gram_frac, top_2gram_frac,
           (top_word_frac <= {_REP_MAX_TOP_WORD}
            AND dup_2gram_frac <= {_REP_MAX_DUP_2GRAM}
            AND distinct_word_frac >= {_REP_MIN_DISTINCT}) AS rep_keep
    FROM stats
    """,
    doc="Gopher-style intra-document repetition filters (duplicate/top "
    "word and bigram fractions + vocabulary-collapse ratio -> keep flag): "
    "every statistic folds inside array expressions on the row — "
    "sort_array + run-length fold instead of an explode->groupBy(gram) "
    "shuffle — so the operator is zero-shuffle and embarrassingly "
    "parallel at any corpus size.",
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    base = docs.select("doc_id", tokens_col().alias("t")).filter(
        F.size("t") >= _REP_MIN_WORDS
    )
    n = F.size("t")
    g2 = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
        ),
    )
    stats = base.select(
        "doc_id",
        n.alias("n_words"),
        (F.size(F.array_distinct("t")).cast("double") / n).alias("distinct_word_frac"),
        (_max_run_count(F.sort_array("t")).cast("double") / n).alias("top_word_frac"),
        g2.alias("g2"),
    ).select(
        "doc_id",
        "n_words",
        "distinct_word_frac",
        "top_word_frac",
        (
            F.lit(1.0)
            - F.size(F.array_distinct("g2")).cast("double") / (F.col("n_words") - 1)
        ).alias("dup_2gram_frac"),
        (
            _max_run_count(F.sort_array("g2")).cast("double") / (F.col("n_words") - 1)
        ).alias("top_2gram_frac"),
    )
    return stats.withColumn(
        "rep_keep",
        (F.col("top_word_frac") <= _REP_MAX_TOP_WORD)
        & (F.col("dup_2gram_frac") <= _REP_MAX_DUP_2GRAM)
        & (F.col("distinct_word_frac") >= _REP_MIN_DISTINCT),
    )


# ---------------------------------------------------------------------------
# Training-batch sequence packing (concat-and-chunk): the corpus is one
# doc_id-ordered token stream cut into fixed-budget packs (the GPT-style
# pretraining batch layout). Each document reports which pack it starts in,
# at what offset, and how many packs it spans — exactly what a loader needs
# to materialize pack p without scanning the corpus.
#
# Scale shape: the global running token count is a DISTRIBUTED PREFIX SUM,
# not a single-partition window — pass 1 aggregates per-bucket token totals
# (tiny, to the driver), pass 2 adds the broadcast exclusive bucket offset
# to a WITHIN-bucket window cumsum, so every partition works in parallel.
# At extreme corpus sizes the bucket width widens (or the offset pass
# recurses) to keep the driver-side partial list small.

_PACK_BUDGET = 256  # tokens per packed sequence
_PACK_BUCKET = 1000  # MINIMUM doc_ids per prefix-sum bucket
_PACK_MAX_PARTIALS = 10_000  # cap on driver-held bucket partials (see below)


@register(
    "text_pack_sequences",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents
    ),
    base AS (SELECT doc_id, n_tokens FROM toks WHERE n_tokens >= 1),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM base
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS start_pack,
           CAST((cum - n_tokens) % {_PACK_BUDGET} AS BIGINT) AS start_offset,
           CAST(((cum - 1) // {_PACK_BUDGET}) - ((cum - n_tokens) // {_PACK_BUDGET}) + 1 AS BIGINT)
               AS packs_spanned
    FROM c
    """,
    doc="Concat-and-chunk sequence packing over the doc_id-ordered token "
    "stream: per-doc start pack / offset / span against a fixed token "
    "budget. The global cumulative count is a two-pass distributed prefix "
    "sum (per-bucket totals to the driver, broadcast exclusive offsets + "
    "within-bucket window), so no single-partition window exists at any "
    "corpus size; the oracle is the equivalent single ORDER BY cumsum.",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    # ADAPTIVE bucket width: the driver holds one partial per bucket, so
    # the width widens with the corpus to keep at most _PACK_MAX_PARTIALS
    # entries in the offset map. The doc-count probe is not an EAGER
    # collect, which would be a whole blocking driver job before pass 1
    # (the §52 lazy-broadcast pattern); it rides pass 1's job as a
    # broadcast single-row branch: a column-pruned max over the dense
    # id, integer-exact ceil ((nd + m - 1) DIV m == -(-nd // m)). Nothing
    # caches it, so the max runs once in EACH job over ``base``: twice per
    # query (pass 1's collect and the returned frame's action), each a
    # doc_id-only scan of the corpus. Returning the width with pass 1's
    # partials to run it once measured no faster (build + noop sink,
    # sf0.1, local[4]: median 0.97 s vs 0.96 s over 14 warm runs each).
    m = _PACK_MAX_PARTIALS
    wdf = (
        docs.agg((F.coalesce(F.max("doc_id"), F.lit(-1)) + 1).alias("nd"))
        .select(
            F.greatest(
                F.lit(_PACK_BUCKET).cast("long"),
                F.expr(f"CAST((nd + {m - 1}) DIV {m} AS BIGINT)"),
            ).alias("width")
        )
    )
    base = (
        docs.select("doc_id", F.size(tokens_col()).alias("n_tokens"))
        .filter(F.col("n_tokens") >= 1)
        .crossJoin(F.broadcast(wdf))
        .withColumn("bucket", F.floor(F.col("doc_id") / F.col("width")))
    )
    # pass 1: per-bucket token totals -> exclusive prefix offsets (tiny)
    parts = base.groupBy("bucket").agg(F.sum("n_tokens").alias("s")).collect()
    totals = {int(r["bucket"]): int(r["s"]) for r in parts}
    offsets, run = {}, 0
    for b in sorted(totals):
        offsets[b] = run
        run += totals[b]
    off_map = F.create_map(
        *[x for b, o in offsets.items() for x in (F.lit(b), F.lit(o))]
    )
    # pass 2: within-bucket cumsum + broadcast offset = global cumsum
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (off_map[F.col("bucket")] + F.sum("n_tokens").over(w)).cast("long")
    start = cum - F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        F.floor(start / _PACK_BUDGET).cast("long").alias("start_pack"),
        (start % _PACK_BUDGET).cast("long").alias("start_offset"),
        (
            F.floor((cum - 1) / _PACK_BUDGET) - F.floor(start / _PACK_BUDGET) + 1
        ).cast("long").alias("packs_spanned"),
    )


_N_SHARDS = 8


@register(
    "text_shard_assign",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                   % {_N_SHARDS} AS shard,
               len({_SQL_TOKS}) AS n_tokens
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM toks GROUP BY shard
    """,
    doc="Stable content-hash shard assignment for training output (md5 of "
    "the doc id mod N — reproducible under any partitioning and across "
    "engines) with per-shard size/token/language stats, the balance report "
    "a writer checks before materializing shards. One map-side-combinable "
    "groupBy on the shard key; at scale the same expression feeds "
    "write.partitionBy(shard).",
)
def text_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    shard = (
        F.expr(
            "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1"
        )
        % _N_SHARDS
    ).cast("long")
    base = docs.select(
        shard.alias("shard"),
        "lang",
        "n_chars",
        F.size(tokens_col()).alias("n_tokens"),
    )
    return base.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "text_tokenize_ids",
    sql=f"""
    WITH vtoks AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    vcounts AS (
        SELECT tok, count(*) AS tf FROM vtoks GROUP BY tok
    ),
    vocab AS (
        SELECT tok, rank FROM (
            SELECT tok, row_number() OVER (ORDER BY tf DESC, tok) AS rank
            FROM vcounts
        ) WHERE rank <= {_VOCAB_K}
    ),
    base AS (
        SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        WHERE len({_SQL_TOKS}) >= 1
    ),
    ex AS (
        SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS pos
        FROM base
    ),
    mapped AS (
        SELECT e.doc_id, e.pos, COALESCE(v.rank, 0) AS id
        FROM ex e LEFT JOIN vocab v ON v.tok = e.tok
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate,
           md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
    FROM mapped GROUP BY doc_id
    """,
    doc="Tokenizer application: map every document's token stream to "
    "vocabulary ids (rank in the REGISTERED text_vocab_topk vocabulary; "
    "OOV -> 0) and emit per-doc token/OOV counts plus an md5 checksum over "
    "the exact ordered id sequence — bit-level cross-engine proof the "
    "encoded stream is identical. The vocabulary is orders of magnitude "
    "smaller than the corpus and broadcasts into the posexplode join; the "
    "re-aggregation shuffles once on doc_id with the order restored by an "
    "in-row sort of (pos, id) structs.",
)
def text_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = text_vocab_topk(spark, sf_dir).select("tok", "rank")
    docs = io.load(spark, sf_dir, "documents", spread=True)
    base = docs.select("doc_id", tokens_col().alias("t")).filter(F.size("t") >= 1)
    ex = base.select("doc_id", F.posexplode("t").alias("pos", "tok"))
    mapped = ex.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce(F.col("rank"), F.lit(0)).alias("id")
    )
    agg = mapped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0)).cast("long").alias("n_oov"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
            )
        ).alias("ids_md5"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        "ids_md5",
    )


@register(
    "text_source_mix",
    sql=None,  # composed at first access — needs text_profile's SQL (set below)
    doc="Corpus mixing weights PER SOURCE (the domain-weighting step of a "
    "pretraining data recipe, DoReMi-lite heuristic): per-source doc/token "
    "mass and mean quality (composed from the REGISTERED text_profile "
    "quality score — plan and SQL, so the signal cannot drift), weight "
    "proportional to n_docs x mean_quality normalized over sources. "
    "Quality mass aggregates through the fixed-point kernels so the mean "
    "is partition-order-independent; one groupBy(source) plus a "
    "broadcastable over-() normalization window.",
)
def text_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = artifacts.table("textprof", spark, sf_dir)
    src = io.load(spark, sf_dir, "documents").select("doc_id", "source")
    j = prof.select("doc_id", "n_tokens", "quality_score").join(src, "doc_id")
    # quality_score is an exact multiple of 1e-4 (fround 10000), so the
    # x10000 fixed sum is an integer — and because the mixing mass
    # n_docs * mean_quality telescopes to exactly that sum, the
    # normalization is an INTEGER ratio: no float summation order anywhere
    qsum = F.sum(
        F.floor(F.col("quality_score") * 10000 + F.lit(0.5)).cast("long")
    ).alias("qsum_fx")
    per = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        qsum,
    )
    total_fx = F.sum("qsum_fx").over(Window.partitionBy())
    return per.select(
        "source",
        "n_docs",
        "total_tokens",
        (F.col("qsum_fx") / (F.col("n_docs") * 10000)).alias("mean_quality"),
        (F.col("qsum_fx").cast("double") / total_fx.cast("double")).alias("mix_weight"),
    )


# The oracle SQL composes the REGISTERED text_profile query as a CTE (the
# curation-manifest pattern: the diagnostic cannot drift from what ships).
# It is attached after registration because the profile's SQL lives in the
# registry entry, and QuerySpec is a frozen dataclass.
from exact_spark.registry import REGISTRY as _REG  # noqa: E402

_src_mix_sql = """
    WITH profile AS ({profile_sql}),
    j AS (
        SELECT p.doc_id, p.n_tokens, p.quality_score, d.source
        FROM profile p JOIN documents d ON d.doc_id = p.doc_id
    ),
    per AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CAST(FLOOR(quality_score * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS qsum_fx
        FROM j GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           CAST(qsum_fx AS DOUBLE) / (n_docs * 10000) AS mean_quality,
           CAST(qsum_fx AS DOUBLE) / CAST(SUM(qsum_fx) OVER () AS DOUBLE) AS mix_weight
    FROM per
"""
from dataclasses import replace as _dc_replace  # noqa: E402

_REG["text_source_mix"] = _dc_replace(
    _REG["text_source_mix"],
    sql=_src_mix_sql.format(profile_sql=_REG["text_profile"].sql),
)


_QC_CURATED_SOURCES = ("src0", "src1", "src2", "src3")  # stand-in reference corpus


@register(
    "text_quality_classifier",
    sql=None,  # iterative MLlib fit — not SQL-expressible, rows-only check
    doc="Reference-corpus quality classifier (the GPT-3/fasttext curation "
    "pattern: train 'does this look like the curated corpus?' on weak "
    "source labels, score everything): profile features (token count, "
    "distinct/stopword ratios, mean token length, BPE estimate — composed "
    "from the registered text_profile frame) -> standardized MLlib "
    "LogisticRegression against curated-vs-rest source labels -> per-doc "
    "quality probability + keep flag. Fully distributed fit and scoring; "
    "at 100 TB the curated positives are the small side and the model is "
    "a broadcastable coefficient vector.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    prof = artifacts.table("textprof", spark, sf_dir).select(
        "doc_id", "n_tokens", "distinct_ratio", "stopword_ratio",
        "avg_token_len", "n_bpe_est",
    )
    src = io.load(spark, sf_dir, "documents").select("doc_id", "source")
    feats = ["n_tokens", "distinct_ratio", "stopword_ratio", "avg_token_len", "n_bpe_est"]
    df = prof.join(src, "doc_id").withColumn(
        "qlabel",
        F.col("source").isin(*_QC_CURATED_SOURCES).cast("double"),
    )
    assembled = VectorAssembler(inputCols=feats, outputCol="features").transform(df)
    lr = LogisticRegression(
        featuresCol="features", labelCol="qlabel", maxIter=25, regParam=0.01
    )
    model = lr.fit(assembled)
    scored = model.transform(assembled)
    # decision rule: keep what looks MORE curated-like than the prior —
    # a calibrated model on weak labels rarely crosses 0.5 when the
    # curated corpus is a small fraction, so 0.5 would keep nothing;
    # "above the base rate" is the standard quality-filter cut. The prior
    # depends only on the tiny source column — compute it from src, not
    # from the profile join (that would re-run the full regex-heavy scan)
    prior = float(
        src.agg(
            F.avg(F.col("source").isin(*_QC_CURATED_SOURCES).cast("double"))
        ).collect()[0][0]
    )
    return scored.select(
        "doc_id",
        "source",
        vector_to_array("probability")[1].alias("quality_proba"),
        (vector_to_array("probability")[1] > prior).cast("int").alias("quality_keep"),
    )


_CMS_ROWS = 4  # independent hash rows
_CMS_W = 256  # counters per row
_CMS_TOPK = 10
_CMS_BUCKET = 100  # doc_ids per partial sketch ("daily" shards)


def _sql_cms_idx(r: int, tok: str) -> str:
    """counter index = first two md5 hex chars of (row-salt : token) -> 0..255,
    engine-exact via strpos arithmetic."""
    h = f"md5('r{r}:' || {tok})"
    return (
        f"((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1))"
    )


def _cms_idx(r: int, tok: Column) -> Column:
    h = F.md5(F.concat(F.lit(f"r{r}:"), tok))
    # first two hex chars -> 0..255 (the oracle does the same arithmetic
    # via strpos; conv() is hex-parse, identical value)
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int")


@register(
    "sketch_heavy_hitters",
    sql=f"""
    WITH toks AS (
        SELECT doc_id // {_CMS_BUCKET} AS part, unnest({_SQL_TOKS}) AS tok
        FROM documents
    ),
    posting AS (SELECT part, tok, COUNT(*) AS c FROM toks GROUP BY part, tok),
    cells AS (
        {" UNION ALL ".join(f"SELECT part, {r} AS r, {_sql_cms_idx(r, 'tok')} AS idx, c FROM posting" for r in range(_CMS_ROWS))}
    ),
    partials AS (
        SELECT part, r, idx, CAST(SUM(c) AS BIGINT) AS c
        FROM cells GROUP BY part, r, idx
    ),
    merged AS (SELECT r, idx, CAST(SUM(c) AS BIGINT) AS c FROM partials GROUP BY r, idx),
    truth AS (
        SELECT tok, CAST(SUM(c) AS BIGINT) AS true_count
        FROM posting GROUP BY tok
        ORDER BY true_count DESC, tok LIMIT {_CMS_TOPK}
    ),
    lookups AS (
        {" UNION ALL ".join(f"SELECT tok, true_count, {r} AS r, {_sql_cms_idx(r, 'tok')} AS idx FROM truth" for r in range(_CMS_ROWS))}
    )
    SELECT l.tok, MIN(l.true_count) AS true_count,
           CAST(MIN(m.c) AS BIGINT) AS cms_estimate,
           (MIN(m.c) >= MIN(l.true_count)) AS never_underestimates
    FROM lookups l JOIN merged m ON m.r = l.r AND m.idx = l.idx
    GROUP BY l.tok
    """,
    doc="Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005) — "
    "the frequency companion to the HLL and quantile rollups: per-shard "
    "4x256 counter sketches (deterministic md5-derived hashes, "
    "engine-exact) UNION-MERGE by cell addition into whole-corpus "
    "frequency estimates without rescanning raw tokens; the top-K exact "
    "tokens are estimated from the MERGED sketch and the CMS "
    "never-underestimates invariant rides as a checked column. The "
    "per-shard sketch is a bounded 1024-cell state no matter how large "
    "the shard — the fixed-size-state property that makes it streamable.",
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        (F.col("doc_id") / _CMS_BUCKET).cast("long").alias("part"),
        F.explode(tokens_col()).alias("tok"),
    )
    # ONE corpus tokenization serves both the sketch cells and the exact
    # top-K truth: the previous shape re-expanded the tokenize lineage
    # once per CMS row on BOTH the cell side and the lookup side (8 full
    # corpus scans per query). posting is the small (shard, token-type)
    # aggregate — cache it, and emit the per-row (r, idx) cells by
    # in-row explode instead of a self-union.
    posting = toks.groupBy("part", "tok").agg(F.count(F.lit(1)).alias("c")).cache()

    def _ridx(tok: Column) -> Column:
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cms_idx(r, tok).alias("idx")
                    )
                    for r in range(_CMS_ROWS)
                ]
            )
        )

    cells = posting.select(
        "part", "c", _ridx(F.col("tok")).alias("ri")
    ).select("part", F.col("ri.r").alias("r"), F.col("ri.idx").alias("idx"), "c")
    partials = cells.groupBy("part", "r", "idx").agg(F.sum("c").alias("c"))
    merged = partials.groupBy("r", "idx").agg(F.sum("c").cast("long").alias("c"))
    truth = (
        posting.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("true_count"))
        .orderBy(F.col("true_count").desc(), "tok")
        .limit(_CMS_TOPK)
    )
    lookups = truth.select(
        "tok", "true_count", _ridx(F.col("tok")).alias("ri")
    ).select("tok", "true_count", F.col("ri.r").alias("r"), F.col("ri.idx").alias("idx"))
    j = F.broadcast(lookups).join(merged, ["r", "idx"])
    return j.groupBy("tok").agg(
        F.min("true_count").alias("true_count"),
        F.min("c").cast("long").alias("cms_estimate"),
        (F.min("c") >= F.min("true_count")).alias("never_underestimates"),
    )


_LM_SURPRISE_P = 0.001  # transition-probability floor for "surprising"


@register(
    "text_lm_score",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ),
    bi AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
               unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        FROM toks WHERE len(t) >= 2
    ),
    cb AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2),
    cu AS (SELECT w1, COUNT(*) AS cu FROM bi GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(t) AS tok FROM toks)),
    scored AS (
        SELECT b.doc_id,
               {sql_fixed('(cb.c + 1.0) / (cu.cu + v.v)', 10**9)} AS p_fx
        FROM bi b
        JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
        JOIN cu ON cu.w1 = b.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(p_fx) AS DOUBLE) / (COUNT(*) * 1000000000.0) AS avg_transition_p,
           CAST(SUM(CASE WHEN p_fx < {int(_LM_SURPRISE_P * 1e9)} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_surprising
    FROM scored GROUP BY doc_id
    """,
    doc="Corpus-bigram language-model fluency score (the perplexity-proxy "
    "quality signal, reference-free): Laplace-smoothed transition "
    "probabilities p(w2|w1) trained on the corpus itself, each document "
    "scored by its mean transition probability and its count of "
    "surprising (<0.1%) transitions — degenerate/garbled text scores low "
    "without any external model. Probabilities are exact integer-count "
    "ratios pushed through the fixed-point kernels, so the mean is "
    "partition-order-independent; the plan is two map-combinable n-gram "
    "count aggregations plus two shuffle joins keyed on the n-gram — the "
    "shape that holds when the bigram table is billions of rows.",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    base = docs.select("doc_id", tokens_col().alias("t"))
    bi = (
        base.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + 1).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    # aggregate-first, one lineage: the previous shape consumed `bi` three
    # times (cb, cu, and the instance side of the scoring join), re-running
    # the corpus tokenization for each. Group instances down to
    # (doc_id, w1, w2, n) ONCE, then recover the corpus-wide bigram and
    # unigram-context counts as window sums over the grouped rows — the
    # counts (and therefore p_fx) are identical, and the per-doc aggregate
    # weights each group by its instance count n (integer-exact, so the
    # fixed-point sums cannot drift from the per-instance form).
    g = bi.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    v = base.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    g = g.withColumn(
        "c", F.sum("n").over(Window.partitionBy("w1", "w2"))
    ).withColumn("cu", F.sum("n").over(Window.partitionBy("w1")))
    p_fx = fixed((F.col("c") + 1.0) / (F.col("cu") + F.col("v")), 10**9)
    scored = g.crossJoin(F.broadcast(v)).select(
        "doc_id", "n", p_fx.alias("p_fx")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        (
            F.sum(F.col("p_fx") * F.col("n")).cast("double")
            / (F.sum("n") * 1e9)
        ).alias("avg_transition_p"),
        F.sum(
            F.when(
                F.col("p_fx") < int(_LM_SURPRISE_P * 1e9), F.col("n")
            ).otherwise(0)
        ).cast("long").alias("n_surprising"),
    )


# ---------------------------------------------------------------------------
# Weighted (probability-proportional-to-size) corpus sampling. Where
# text_sample_stratified draws exact-k per language, this draws k docs with
# probability proportional to token mass — the epoch-sampling shape mixture
# trainers use. Systematic sampling over a weighted cumsum keeps the whole
# thing INTEGER: pick j lands at position floor(j*W/k) in the token stream,
# doc d is picked C(cum_d) - C(cum_d - w_d) times with
# C(x) = (x*k + W - 1) // W — deterministic on any engine, no transcendental
# key (no u^(1/w)) to drift in the last ulp, and a doc heavier than one
# stride is drawn multiple times, exactly as pps sampling requires.

_WS_K = 100  # picks per epoch
_WS_SEED = "wsample"
_WS_BUCKETS = 256  # md5 first-byte prefix buckets for the prefix sum


@register(
    "text_weighted_sample",
    sql=f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({_SQL_TOKS}) AS BIGINT) AS w,
               md5('{_WS_SEED}:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
        WHERE len({_SQL_TOKS}) >= 1
    ),
    c AS (
        SELECT doc_id, w,
               SUM(w) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cum
        FROM base
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM base)
    SELECT doc_id,
           w AS n_tokens,
           CAST(cum AS BIGINT) AS cum_tokens,
           CAST((cum * {_WS_K} + tw - 1) // tw
              - ((cum - w) * {_WS_K} + tw - 1) // tw AS BIGINT) AS n_picks
    FROM c, t
    WHERE (cum * {_WS_K} + tw - 1) // tw
        - ((cum - w) * {_WS_K} + tw - 1) // tw >= 1
    """,
    doc="Weighted pps sampling of the corpus (see module comment above the "
    "constants): k systematic picks over the md5-ordered weighted cumsum. "
    "Plan shape: the cumsum is the SAME two-pass distributed prefix sum "
    "text_pack_sequences uses, bucketed on the md5 first byte (<=256 "
    "partials ever reach the driver), so every partition works in "
    "parallel; sum(n_picks) == k by construction at any corpus size.",
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    base = (
        docs.select("doc_id", F.size(tokens_col()).cast("long").alias("w"))
        .filter(F.col("w") >= 1)
        .withColumn(
            "h",
            F.md5(F.concat(F.lit(f"{_WS_SEED}:"), F.col("doc_id").cast("string"))),
        )
        .withColumn("bucket", F.conv(F.substring("h", 1, 2), 16, 10).cast("int"))
    )
    parts = base.groupBy("bucket").agg(F.sum("w").alias("s")).collect()
    totals = {int(r["bucket"]): int(r["s"]) for r in parts}
    tw = sum(totals.values())
    offsets, run = {}, 0
    for b in sorted(totals):
        offsets[b] = run
        run += totals[b]
    off_map = F.create_map(
        *[x for b, o in offsets.items() for x in (F.lit(b), F.lit(o))]
    )
    w_win = (
        Window.partitionBy("bucket").orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (off_map[F.col("bucket")] + F.sum("w").over(w_win)).cast("long")

    # integer DIV (not floor of a double divide): W*k can exceed 2^53 at
    # real corpus sizes, where double division would drift off the
    # oracle's exact integer division
    staged = base.select(
        "doc_id",
        F.col("w").alias("n_tokens"),
        cum.alias("cum_tokens"),
        (cum * _WS_K + tw - 1).alias("num1"),
        ((cum - F.col("w")) * _WS_K + tw - 1).alias("num0"),
    )
    n_picks = F.expr(f"num1 DIV {tw}L - num0 DIV {tw}L")
    return (
        staged.select(
            "doc_id",
            "n_tokens",
            "cum_tokens",
            n_picks.cast("long").alias("n_picks"),
        )
        .filter(F.col("n_picks") >= 1)
    )


_IDF_TOPK = 3


@register(
    "text_idf_keywords",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
        SELECT t.doc_id, t.token, t.tf, d.df,
               (CAST(t.tf * n.n_docs AS DOUBLE) / d.df) AS score,
               row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY (CAST(t.tf * n.n_docs AS DOUBLE) / d.df) DESC, t.token
               ) AS rnk
        FROM tf t JOIN df d ON d.token = t.token, n
    )
    SELECT doc_id, rnk AS rank, token, tf, CAST(df AS BIGINT) AS df, score
    FROM scored WHERE rnk <= {_IDF_TOPK}
    """,
    doc="TF-IDF keyword extraction (linear-idf variant: score = tf * N/df "
    "— a RATIONAL score, so the ranking needs no cross-engine-risky "
    "logarithm; the one double division is a single identical operation "
    "on both engines): top-{k} most distinctive tokens per document. "
    "Plan shape: one explode scan, tf as a map-side-combinable groupBy "
    "on (doc, token), df derived FROM the tf table (count per token — "
    "never a second corpus scan), the ranking window PARTITIONED per "
    "doc; three keyed shuffles total, each on a high-cardinality key — "
    "no skew, no global sort, at any corpus size.".format(k=_IDF_TOPK),
)
def text_idf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # n_docs rides as a lazy broadcast single-row aggregate (the accepted
    # 1x1 combine) instead of an EAGER distinct().count() — the old form
    # ran a whole blocking driver job at build time before the timed
    # action (guide §5; the §19/§26 sweep). Same distinct-doc value
    # (count over the distinct doc set, nulls counted identically), same
    # integer tf*n_docs arithmetic.
    nd = (
        tf.select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IDF_TOPK)
        .select("doc_id", "rank", "token", "tf", "df", "score")
    )


_ZR_FLAG_BELOW_FX = 300_000  # ratio < 0.30 => extreme repetition


@register(
    "text_compression_ratio",
    sql=None,  # zlib is not expressible in the oracle's SQL; the full
    # rollup is reproduced out-of-engine (pandas+zlib, field-for-field)
    # in tests/test_rows_only_pins.py — a pinned-value check, not rows-only
    doc="Compression-ratio quality signal (the Gopher-family repetition "
    "proxy text_repetition_profile's token statistics can miss — e.g. "
    "long-range or sub-token repetition): deflate each document in Arrow "
    "batches (zlib level 6, deterministic for a given payload) and "
    "report compressed/raw as a fixed-point ratio, rolled up per source "
    "with a flag count for docs compressing below {t:.2f}. The Python "
    "stage is CPU-bound C code over Arrow batches (the legitimate "
    "mapInPandas shape, like the multimodal decoders); per-doc outputs "
    "are exact integers, so the rollup is partition-order independent.".format(
        t=_ZR_FLAG_BELOW_FX / 1e6
    ),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = io.load(spark, sf_dir, "documents", spread=True)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
            T.StructField("ratio_fx", T.LongType()),
        ]
    )

    def _batch(it):
        import zlib

        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id, source, text in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, 6)
                n = len(raw)
                rows.append(
                    (
                        int(doc_id),
                        source,
                        n,
                        len(comp),
                        (1_000_000 * len(comp)) // n if n else 0,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "source", "n_bytes", "n_compressed", "ratio_fx"]
            )

    per_doc = docs.select("doc_id", "source", "text").mapInPandas(_batch, schema=schema)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum("n_compressed").cast("long").alias("total_compressed"),
        (F.sum("ratio_fx") / (F.lit(1_000_000.0) * F.count(F.lit(1)))).alias(
            "mean_ratio"
        ),
        F.min("ratio_fx").alias("min_ratio_fx"),
        F.sum(F.when(F.col("ratio_fx") < _ZR_FLAG_BELOW_FX, 1).otherwise(0))
        .cast("long")
        .alias("n_extreme_repetition"),
    )


_FH_BUCKETS = 32


@register(
    "text_feature_hashing",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) AS hb,
               CASE WHEN (strpos('0123456789abcdef', substr(md5(token), 3, 1)) - 1) % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM toks
    )
    SELECT doc_id,
           CAST(hb % {_FH_BUCKETS} AS BIGINT) AS bucket,
           CAST(SUM(sign) AS BIGINT) AS weight
    FROM hashed
    GROUP BY doc_id, hb % {_FH_BUCKETS}
    HAVING SUM(sign) <> 0
    """,
    doc="Feature hashing (the hashing-trick featurizer fasttext/Vowpal-"
    "style linear models train on — no vocabulary to build, ship, or "
    "grow): every token hashes to one of {b} buckets with a deterministic "
    "md5-derived sign (the sign trick keeps collisions unbiased in "
    "expectation), per-doc signed counts form the sparse vector, emitted "
    "long-form (doc, bucket, weight). Plan shape: one explode scan + one "
    "map-side-combinable groupBy on (doc, bucket) — the featurizer is "
    "stateless, so it parallelizes perfectly and never needs the "
    "vocabulary broadcast text_tokenize_ids ships.".format(b=_FH_BUCKETS),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    h = F.md5(F.col("token"))
    hb = (
        (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % _FH_BUCKETS)
        .cast("long")
        .alias("bucket")
    )
    sign = F.when(
        F.conv(F.substring(h, 3, 1), 16, 10).cast("int") % 2 == 0, 1
    ).otherwise(-1)
    return (
        toks.select("doc_id", hb, sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


_PMI_WINDOW = 5  # symmetric co-occurrence window (word2vec's default)
_PMI_MIN_PAIR = 5
_PMI_TOPK = 50


@register(
    "text_cooccurrence_pmi",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, i, t[i + 1] AS w, t
        FROM toks, UNNEST(range(0, len(t))) AS u(i)
    ),
    pairs AS (
        SELECT LEAST(p.w, p.t[p.i + 1 + o]) AS w_a,
               GREATEST(p.w, p.t[p.i + 1 + o]) AS w_b
        FROM pos p, UNNEST(range(1, {_PMI_WINDOW} + 1)) AS v(o)
        WHERE p.i + o < len(p.t)
    ),
    pc AS (
        SELECT w_a, w_b, count(*) AS c_ab FROM pairs GROUP BY w_a, w_b
        HAVING count(*) >= {_PMI_MIN_PAIR}
    ),
    uc AS (SELECT w, count(*) AS c_w FROM pos GROUP BY w),
    n AS (SELECT count(*) AS n_tok FROM pos),
    scored AS (
        SELECT p.w_a, p.w_b, p.c_ab, a.c_w AS c_a, b.c_w AS c_b,
               (CAST(p.c_ab AS DOUBLE) * n.n_tok) / (CAST(a.c_w AS DOUBLE) * b.c_w)
                   AS pmi_ratio
        FROM pc p
        JOIN uc a ON a.w = p.w_a
        JOIN uc b ON b.w = p.w_b, n
    )
    SELECT w_a, w_b, c_ab, c_a, c_b, pmi_ratio
    FROM scored
    ORDER BY pmi_ratio DESC, w_a, w_b
    LIMIT {_PMI_TOPK}
    """,
    doc="Co-occurrence PMI pairs (the word2vec/GloVe-prep statistic: which "
    "token pairs appear together {w}-token-window-often beyond chance): "
    "ratio form PMI = c(a,b)*N / (c(a)*c(b)) — RATIONAL, so the ranking "
    "needs no cross-engine logarithm (log is monotone; the ordering is "
    "identical). Plan shape: pairs explode inside the row against the "
    "offsets 1..{w} (symmetric window canonicalized LEAST/GREATEST so "
    "each pair counts once), pair census and unigram census are two "
    "map-side-combinable groupBys, the min-count filter kills the "
    "hapax tail BEFORE the join, final top-K distributed. At corpus "
    "scale the pair space is the explode of the token stream x {w} — "
    "linear, never quadratic.".format(w=_PMI_WINDOW),
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", tokens_col().alias("t"))
    pos = toks.select(
        "doc_id", F.posexplode(F.col("t")).alias("i", "w"), "t"
    )
    offs = F.array(*[F.lit(o) for o in range(1, _PMI_WINDOW + 1)])
    pairs = (
        pos.select(
            "w",
            F.explode(
                F.filter(
                    F.transform(
                        offs,
                        lambda o: F.try_element_at(
                            F.col("t"), (F.col("i") + 1 + o).cast("int")
                        ),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("w2"),
        )
        .select(
            F.least(F.col("w"), F.col("w2")).alias("w_a"),
            F.greatest(F.col("w"), F.col("w2")).alias("w_b"),
        )
    )
    pc = (
        pairs.groupBy("w_a", "w_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_PAIR)
    )
    # unigram counts tokenized ONCE: the previous shape re-expanded `pos`
    # for each join side of `uc` AND ran an eager pos.count() for the
    # corpus token total — 3 extra tokenize passes per query. The grouped
    # uc is vocab-sized: cache it, and read the total off it as a window
    # sum (same exact integer the count() produced).
    uc = (
        pos.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .withColumn("n_tok", F.sum("c_w").over(Window.partitionBy()))
        .cache()
    )
    scored = (
        pc.join(
            uc.select(
                F.col("w").alias("w_a"), F.col("c_w").alias("c_a"), "n_tok"
            ),
            "w_a",
        )
        .join(uc.select(F.col("w").alias("w_b"), F.col("c_w").alias("c_b")), "w_b")
        .withColumn(
            "pmi_ratio",
            (F.col("c_ab").cast("double") * F.col("n_tok"))
            / (F.col("c_a").cast("double") * F.col("c_b")),
        )
    )
    return (
        scored.select("w_a", "w_b", "c_ab", "c_a", "c_b", "pmi_ratio")
        .orderBy(F.col("pmi_ratio").desc(), "w_a", "w_b")
        .limit(_PMI_TOPK)
    )


# --- lexical diversity (rational entropy analogs) ----------------------------


@register(
    "text_token_diversity",
    sql=f"""
    WITH toks AS (
        SELECT source, UNNEST({_SQL_TOKS}) AS w FROM documents
    ),
    counts AS (
        SELECT source, w, count(*) AS c FROM toks GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(SUM(c * c) AS BIGINT) AS sum_c2,
           (CAST(SUM(c) AS DOUBLE) * SUM(c) / SUM(c * c)) AS simpson_effective,
           (CAST(count(*) AS DOUBLE) / SUM(c)) AS type_token_ratio
    FROM counts
    GROUP BY source
    """,
    doc="Per-source lexical diversity — the corpus-quality signal behind "
    "'is this source natural text or boilerplate/spam': inverse-Simpson "
    "effective vocabulary N^2 / sum(c^2) (the RATIONAL entropy analog — "
    "exp(Renyi-2); Shannon entropy needs a cross-engine log, this "
    "needs only integer sums and one divide) plus type-token ratio. "
    "Plan shape: one in-row tokenize+explode, a (source, token) census "
    "that map-side combines, then a source-level reduce of three "
    "integers — no token list ever collects. (sum of squared counts is "
    "BIGINT; a single token exceeding ~3e9 occurrences in one source "
    "needs DECIMAL at that scale.)",
)
def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    counts = (
        docs.select("source", F.explode(tokens_col()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        (
            F.sum("c").cast("double") * F.sum("c") / F.sum(F.col("c") * F.col("c"))
        ).alias("simpson_effective"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("type_token_ratio"),
    )


# --- overlapping document chunking (RAG / pretraining segmentation) ----------

_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150  # 50-char overlap


@register(
    "text_chunk_overlap",
    sql=f"""
    SELECT d.doc_id,
           u.i AS chunk_idx,
           u.i * {_CHUNK_STRIDE} AS start_offset,
           length(substr(d.text, u.i * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE}))
               AS chunk_len,
           md5(substr(d.text, u.i * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE}))
               AS chunk_md5
    FROM documents d,
         UNNEST(range(0, CAST(CEIL(d.n_chars / {_CHUNK_STRIDE}.0) AS BIGINT))) AS u(i)
    """,
    doc="Overlapping document chunking (the RAG-index / long-context "
    "segmentation op: fixed {s}-char windows at {t}-char stride, so "
    "consecutive chunks share {o} chars and no boundary sentence is "
    "lost to a hard cut): each doc explodes to ceil(n_chars/{t}) "
    "chunks IN-ROW — zero shuffles at any corpus size, and chunk "
    "parallelism replaces document parallelism downstream exactly like "
    "the frame/tile samplers. Emits offsets + per-chunk md5 (the "
    "id-stable fingerprint an index or dedup pass keys on) rather than "
    "duplicating text.".format(s=_CHUNK_SIZE, t=_CHUNK_STRIDE, o=_CHUNK_SIZE - _CHUNK_STRIDE),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    n_chunks = F.ceil(F.col("n_chars") / float(_CHUNK_STRIDE)).cast("long")
    chunk = F.substring(
        F.col("text"), F.col("chunk_idx").cast("int") * _CHUNK_STRIDE + 1, _CHUNK_SIZE
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * _CHUNK_STRIDE).alias("start_offset"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


# --- cross-source contamination matrix ---------------------------------------


@register(
    "text_source_overlap",
    sql=f"""
    WITH toks AS (SELECT source, {_SQL_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT source,
               u.s AS shingle
        FROM toks,
             UNNEST(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(s)
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_common,
           sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b,
           (p.n_common * 1.0 / LEAST(sa.n_sh, sb.n_sh)) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    """,
    doc="Cross-source contamination matrix (the governance view over the "
    "corpus: which SOURCES copy each other — feed licensing, dedup "
    "ordering, and eval-contamination decisions at source granularity "
    "rather than doc granularity): distinct 3-gram shingles roll up "
    "per source (one explode + distinct — map-side combinable), the "
    "pair census self-joins ON THE SOURCE-LEVEL table whose join "
    "fan-out is bounded by |sources|^2 (20 sources -> <=190 pairs) no "
    "matter how many documents exist, and each pair scores containment "
    "of the smaller source's shingle set (the asymmetric-overlap "
    "measure, same rationale as dedup_containment).",
)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    t = docs.select("source", tokens_col().alias("toks")).filter(F.size("toks") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        ),
    )
    sh = (
        t.select("source", F.explode(tri).alias("shingle"))
        .distinct()
        .localCheckpoint()  # reused by sizes and both join sides
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("sa"), F.col("n_sh").alias("n_sh_a"))
    sb = sizes.select(F.col("source").alias("sb"), F.col("n_sh").alias("n_sh_b"))
    return (
        pairs.join(F.broadcast(sa), pairs.source_a == F.col("sa"))
        .join(F.broadcast(sb), pairs.source_b == F.col("sb"))
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_sh_a",
            "n_sh_b",
            (F.col("n_common") * 1.0 / F.least(F.col("n_sh_a"), F.col("n_sh_b"))).alias(
                "containment"
            ),
        )
    )


# --- vocabulary coverage curve -----------------------------------------------

_VOCAB_KS = (10, 100, 1000)


@register(
    "text_vocab_coverage",
    sql=f"""
    WITH toks AS (
        SELECT UNNEST({_SQL_TOKS}) AS w FROM documents
    ),
    tf AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk FROM tf
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok, count(*) AS n_types FROM tf)
    SELECT u.k AS vocab_size,
           t.n_types AS corpus_types,
           CAST(SUM(CASE WHEN r.rnk <= u.k THEN r.c ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           t.n_tok AS total_tokens,
           (CAST(SUM(CASE WHEN r.rnk <= u.k THEN r.c ELSE 0 END) AS DOUBLE)
              / t.n_tok) AS coverage,
           (1.0 - CAST(SUM(CASE WHEN r.rnk <= u.k THEN r.c ELSE 0 END) AS DOUBLE)
              / t.n_tok) AS oov_rate
    FROM ranked r, tot t, UNNEST(ARRAY{list(_VOCAB_KS)}) AS u(k)
    GROUP BY u.k, t.n_tok, t.n_types
    """,
    doc="Vocabulary coverage curve (the tokenizer-design question: what "
    "token mass does a top-K vocab cover, i.e. the OOV rate a K-entry "
    "vocabulary buys): one tokenize+explode census, frequency ranking "
    "with full tie-breaks, and the K-sweep folds into ONE conditional "
    "aggregation over the census (the corpus is never re-scanned per "
    "K). Coverage is a single integer divide. At corpus scale the "
    "census is the same map-side-combinable tf pass as text_vocab_topk; "
    "the ranking window runs over TYPES, not tokens.",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = io.load(spark, sf_dir, "documents", spread=True)
    tf = (
        docs.select(F.explode(tokens_col()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = tf.select(
        "c", F.row_number().over(W.orderBy(F.col("c").desc(), "w")).alias("rnk")
    )
    tot = tf.agg(
        F.sum("c").cast("long").alias("n_tok"), F.count(F.lit(1)).alias("n_types")
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _VOCAB_KS])).alias("vocab_size")
    grid = ranked.crossJoin(F.broadcast(tot)).select("c", "rnk", "n_tok", "n_types", ks)
    return grid.groupBy("vocab_size", "n_tok", "n_types").agg(
        F.sum(F.when(F.col("rnk") <= F.col("vocab_size"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("covered_tokens"),
    ).select(
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("n_types").alias("corpus_types"),
        "covered_tokens",
        F.col("n_tok").alias("total_tokens"),
        (F.col("covered_tokens").cast("double") / F.col("n_tok")).alias("coverage"),
        (
            F.lit(1.0) - F.col("covered_tokens").cast("double") / F.col("n_tok")
        ).alias("oov_rate"),
    )


# --- BPE merge-rule learning --------------------------------------------------
#
# Byte-pair-encoding vocabulary training (Sennrich et al. 2016), the
# tokenizer-training operator every LLM data pipeline runs before
# text_tokenize_ids can exist: starting from characters, repeatedly find the
# most frequent adjacent symbol pair (weighted by word frequency) and merge
# it everywhere. _BPE_MERGES iterations are unrolled, so the whole training
# run is oracle-HASH-checked (same fixed-iteration trick as
# sim_label_propagation).
#
# Scale shape: the ONE corpus-sized pass is the word-frequency census
# (map-side combinable groupBy); every iteration then runs over the
# VOCABULARY table (|vocab| x word-length symbol rows — millions at web
# scale, never corpus-sized), which is exactly how production BPE trainers
# scale. The winning pair is a 1-row frame joined back broadcast — the
# Spark plan has no driver-side collect at all. The merge itself is GREEDY
# LEFT-TO-RIGHT non-overlapping (the standard BPE rule, which matters for
# runs like "aaaa"): matches group into consecutive runs (run id = position
# minus rank) and odd-ranked matches within each run are selected — a pure
# set-based formulation identical in both engines, no sequential fold.

_BPE_MERGES = 3


def _bpe_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq"))


def _bpe_iteration(state: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """One BPE merge: returns (next state, 1-row rule frame for rank k)."""
    ex = state.select(
        "word",
        "freq",
        "sym",
        F.posexplode(F.split("sym", " ")).alias("i", "s"),
    )
    w_word = Window.partitionBy("word").orderBy("i")
    pairs = ex.withColumn("s2", F.lead("s").over(w_word)).filter(
        F.col("s2").isNotNull()
    )
    census = pairs.groupBy(
        F.col("s").alias("pair_a"), F.col("s2").alias("pair_b")
    ).agg(F.sum("freq").cast("long").alias("cnt"))
    top1 = census.orderBy(
        F.col("cnt").desc(), F.col("pair_a").asc(), F.col("pair_b").asc()
    ).limit(1)

    matched = pairs.join(
        F.broadcast(top1),
        (pairs.s == top1.pair_a) & (pairs.s2 == top1.pair_b),
    ).select("word", "i")
    run = matched.withColumn(
        "run_id", F.col("i") - F.row_number().over(w_word)
    )
    w_run = Window.partitionBy("word", "run_id").orderBy("i")
    selected = (
        run.withColumn("rn", F.row_number().over(w_run))
        .filter(F.col("rn") % 2 == 1)
        .select(F.col("word").alias("sel_w"), F.col("i").alias("sel_i"))
    )
    skip = selected.select(
        F.col("sel_w").alias("skip_w"), (F.col("sel_i") + 1).alias("skip_i")
    )

    rebuilt = (
        ex.join(
            selected,
            (ex.word == F.col("sel_w")) & (ex.i == F.col("sel_i")),
            "left",
        )
        .join(
            skip,
            (ex.word == F.col("skip_w")) & (ex.i == F.col("skip_i")),
            "left",
        )
        .filter(F.col("skip_i").isNull())
        .crossJoin(F.broadcast(top1.select("pair_a", "pair_b")))
        .select(
            "word",
            "freq",
            "i",
            F.when(
                F.col("sel_i").isNotNull(), F.concat("pair_a", "pair_b")
            ).otherwise(F.col("s")).alias("out"),
        )
    )
    next_state = rebuilt.groupBy("word", "freq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "out"))),
                lambda x: x["out"],
            ),
            " ",
        ).alias("sym")
    )
    rule = top1.select(
        F.lit(k).cast("long").alias("merge_rank"),
        "pair_a",
        "pair_b",
        F.concat("pair_a", "pair_b").alias("merged"),
        "cnt",
    )
    return next_state, rule


def _bpe_blocks() -> tuple[str, list[str]]:
    """Shared oracle CTE chain: census -> greedy merge, unrolled
    _BPE_MERGES times. Returns (WITH-body, per-rank rule selects)."""
    base = """
    wf AS (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    s0 AS (
        SELECT word, freq,
               rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
        FROM wf
    )"""
    blocks, outs = [base], []
    for k in range(1, _BPE_MERGES + 1):
        p, n = k - 1, k
        blocks.append(f"""
    ex{n} AS (
        SELECT word, freq, t.i,
               string_split(sym, ' ')[t.i] AS s
        FROM s{p}, LATERAL UNNEST(range(1, len(string_split(sym, ' ')) + 1)) AS t(i)
    ),
    pr{n} AS (
        SELECT word, freq, i, s,
               lead(s) OVER (PARTITION BY word ORDER BY i) AS s2
        FROM ex{n}
    ),
    c{n} AS (
        SELECT s AS pair_a, s2 AS pair_b, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM pr{n} WHERE s2 IS NOT NULL GROUP BY s, s2
    ),
    t{n} AS (SELECT * FROM c{n} ORDER BY cnt DESC, pair_a, pair_b LIMIT 1),
    m{n} AS (
        SELECT p.word, p.i
        FROM pr{n} p JOIN t{n} t ON p.s = t.pair_a AND p.s2 = t.pair_b
    ),
    g{n} AS (
        SELECT word, i,
               i - row_number() OVER (PARTITION BY word ORDER BY i) AS run_id
        FROM m{n}
    ),
    sel{n} AS (
        SELECT word, i AS sel_i FROM (
            SELECT word, i,
                   row_number() OVER (PARTITION BY word, run_id ORDER BY i) AS rn
            FROM g{n}
        ) WHERE rn % 2 = 1
    ),
    s{n} AS (
        SELECT e.word, e.freq,
               string_agg(
                   CASE WHEN s.sel_i IS NOT NULL
                        THEN t.pair_a || t.pair_b ELSE e.s END,
                   ' ' ORDER BY e.i) AS sym
        FROM ex{n} e
        CROSS JOIN t{n} t
        LEFT JOIN sel{n} s ON s.word = e.word AND s.sel_i = e.i
        LEFT JOIN sel{n} sk ON sk.word = e.word AND sk.sel_i = e.i - 1
        WHERE sk.sel_i IS NULL
        GROUP BY e.word, e.freq
    )""")
        outs.append(
            f"SELECT CAST({n} AS BIGINT) AS merge_rank, pair_a, pair_b, "
            f"pair_a || pair_b AS merged, cnt FROM t{n}"
        )
    return ",".join(blocks), outs


def _bpe_sql() -> str:
    body, outs = _bpe_blocks()
    return "WITH " + body + "\n" + "\nUNION ALL\n".join(outs)


@register(
    "text_bpe_merges",
    sql=_bpe_sql(),
    doc="Distributed BPE vocabulary training (see block comment): the "
    "first 3 learned merge rules with their selection-time weighted "
    "pair counts. One corpus-sized word-frequency census; every "
    "iteration runs over the vocabulary only; greedy non-overlapping "
    "merge as a set-based run-parity selection; the winning pair joins "
    "back as a broadcast 1-row frame (no driver collect). The fixed "
    "iteration count unrolls into chained CTEs, so tokenizer TRAINING "
    "— not just application — is oracle-hash-checked.",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _bpe_word_freq(spark, sf_dir).select(
        "word",
        "freq",
        F.rtrim(F.regexp_replace("word", "(.)", "$1 ")).alias("sym"),
    )
    rules = []
    for k in range(1, _BPE_MERGES + 1):
        state, rule = _bpe_iteration(state, k)
        # truncate lineage between iterations (vocabulary-sized frame —
        # cheap to materialize; without it iteration k re-executes every
        # previous iteration's DAG, tripling the work by round 3): the
        # same localCheckpoint discipline as dedup_components
        state = state.localCheckpoint(eager=True)
        rules.append(rule.localCheckpoint(eager=True))
    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out


def _bpe_apply_sql() -> str:
    body, _ = _bpe_blocks()
    last = _BPE_MERGES
    return f"""
    WITH {body}
    SELECT CAST(count(*) AS BIGINT) AS n_vocab_words,
           CAST(SUM(freq) AS BIGINT) AS corpus_tokens,
           CAST(SUM(freq * len(word)) AS BIGINT) AS corpus_symbols_initial,
           CAST(SUM(freq * len(string_split(sym, ' '))) AS BIGINT)
               AS corpus_symbols_after,
           (CAST(SUM(freq * len(word))
                 - SUM(freq * len(string_split(sym, ' '))) AS BIGINT)
            / CAST(SUM(freq) AS DOUBLE)) AS symbols_saved_per_token
    FROM s{last}
    """


@register(
    "text_bpe_apply",
    sql=_bpe_apply_sql(),  # extends the shared unrolled training chain
    doc="BPE compression census after applying the 3 learned merges "
    "corpus-wide: total symbols before (characters) vs after, weighted "
    "by word frequency — the measure-don't-guess companion to "
    "text_bpe_merges (a merge table is only worth shipping if it "
    "shortens real sequences; this is the number that says by how "
    "much). Same scale shape as training: the census is corpus-sized "
    "once, the applied state is vocabulary-sized; the saving is an "
    "all-integer subtraction divided once by the exact token count.",
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _bpe_word_freq(spark, sf_dir).select(
        "word",
        "freq",
        F.rtrim(F.regexp_replace("word", "(.)", "$1 ")).alias("sym"),
    )
    for k in range(1, _BPE_MERGES + 1):
        state, _ = _bpe_iteration(state, k)
        state = state.localCheckpoint(eager=True)  # see text_bpe_merges
    saved = F.sum(F.col("freq") * F.length("word")) - F.sum(
        F.col("freq") * F.size(F.split("sym", " "))
    )
    return state.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab_words"),
        F.sum("freq").cast("long").alias("corpus_tokens"),
        F.sum(F.col("freq") * F.length("word")).cast("long").alias(
            "corpus_symbols_initial"
        ),
        F.sum(F.col("freq") * F.size(F.split("sym", " "))).cast("long").alias(
            "corpus_symbols_after"
        ),
        (saved.cast("long") / F.sum("freq").cast("double")).alias(
            "symbols_saved_per_token"
        ),
    )


# Winnowing (Schleimer, Schmidt & Aiken, SIGMOD 2003 — the MOSS algorithm):
# per-position shingle hashes, a sliding window of _WINNOW_W positions, the
# window MIN selected at every position; the distinct selected hashes are
# the document's fingerprint set. Guarantees any shared run of
# _WINNOW_W + 2 consecutive tokens yields at least one shared fingerprint.
_WINNOW_W = 4


def _sql_hex32(h: str) -> str:
    """First 8 md5 hex chars of expr ``h`` -> BIGINT, via the engine-exact
    strpos polynomial (the oracle's spelling of Spark's conv(..,16,10))."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )


# Shared winnow-selection base: (doc_id, fp, c) — the distinct selected
# fingerprints per doc with their in-doc multiplicity. Used by both the
# per-doc census and the cross-doc candidate-pair generator so the two
# cannot drift.
_SQL_WINNOW_SELECTED = f"""
    tokens AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    shingled AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                   i -> struct_pack(pos := i,
                        sh := toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS ss
        FROM tokens WHERE len(toks) >= 3
    ),
    pos_sh AS (
        SELECT doc_id, x.pos AS pos,
               CAST({_sql_hex32("md5(x.sh)")} AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(ss) AS x FROM shingled)
    ),
    winmin AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS fp
        FROM pos_sh
    ),
    selected AS (
        SELECT doc_id, fp, count(*) AS c
        FROM winmin WHERE pos >= {_WINNOW_W}
        GROUP BY doc_id, fp
    )
"""


def _winnow_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp, c): distinct winnow-selected fingerprints per doc."""
    docs = io.load(spark, sf_dir, "documents", spread=True)
    t = docs.select("doc_id", tokens_col().alias("toks")).filter(F.size("toks") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        ),
    )
    pos_sh = t.select(
        "doc_id", F.posexplode(tri).alias("pos0", "sh")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WINNOW_W - 1), Window.currentRow)
    )
    winmin = pos_sh.select(
        "doc_id", "pos", F.min("h").over(w).alias("fp")
    ).filter(F.col("pos") >= _WINNOW_W)
    return winmin.groupBy("doc_id", "fp").agg(F.count(F.lit(1)).alias("c"))


@register(
    "text_winnow_fingerprints",
    sql=f"""
    WITH {_SQL_WINNOW_SELECTED}
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_windows,
           count(*) AS n_fingerprints,
           CAST(MIN(fp) AS BIGINT) AS min_fp,
           CAST(MAX(fp) AS BIGINT) AS max_fp,
           CAST(SUM(fp) AS BIGINT) AS sum_fp
    FROM selected GROUP BY doc_id
    """,
    doc="Winnowing document fingerprints (Schleimer et al. 2003, the MOSS "
    "plagiarism-detection selection rule): positional 3-gram shingle "
    "hashes, window-of-4 running MIN, distinct selected mins = the "
    "fingerprint set — position-robust local sampling with a guaranteed "
    "match on any shared window-plus-shingle-length token run, unlike a "
    "global MinHash which samples per-document. Hashes are 32-bit "
    "md5-prefix integers identical on both engines. Plan shape: the only "
    "shuffle is the per-doc window sort (keyed on doc_id, embarrassingly "
    "parallel across docs); selection then collapses doc-locally through "
    "two map-side-combinable groupBys. Per-doc state is O(text), never "
    "O(corpus) — the fingerprint census at 100 TB is one linear pass.",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    selected = _winnow_selected(spark, sf_dir)
    return selected.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_windows"),
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("fp").cast("long").alias("min_fp"),
        F.max("fp").cast("long").alias("max_fp"),
        F.sum("fp").cast("long").alias("sum_fp"),
    )


_WINNOW_HOT_CAP = 50  # fingerprints shared by more docs are boilerplate
_WINNOW_MIN_SHARED = 2


@register(
    "text_winnow_pairs",
    sql=f"""
    WITH {_SQL_WINNOW_SELECTED},
    posting AS (SELECT DISTINCT doc_id, fp FROM selected),
    grouped AS (
        SELECT fp, list_sort(list(doc_id)) AS ids
        FROM posting GROUP BY fp
        HAVING count(*) BETWEEN 2 AND {_WINNOW_HOT_CAP}
    ),
    pairs AS (
        SELECT p.ids[i] AS doc_a, p.ids[j] AS doc_b
        FROM grouped p,
             unnest(range(1, len(p.ids) + 1)) AS t1(i),
             unnest(range(1, len(p.ids) + 1)) AS t2(j)
        WHERE i < j
    )
    SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared_fp
    FROM pairs GROUP BY doc_a, doc_b
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
    doc="Near-dup candidate pairs from shared winnow fingerprints — the "
    "serving half of text_winnow_fingerprints (MOSS matches documents by "
    "fingerprint overlap, not by comparing texts): docs sharing >= "
    f"{_WINNOW_MIN_SHARED} selected fingerprints, the fourth candidate "
    "generator next to Jaccard-shingle, MinHash-band and SimHash-probe. "
    "Winnowing needs no banding tune and guarantees recall on shared "
    "token runs of window+shingle length. Same scale guards as the "
    "siblings: fingerprints shared by more than _WINNOW_HOT_CAP docs are "
    "dropped (boilerplate belongs to exact dedup), candidate expansion "
    "uses the capped collect-expand shape — ONE shuffle keyed on the "
    "fingerprint, in-place pair expansion, a small pair-count groupBy.",
)
def text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    posting = _winnow_selected(spark, sf_dir).select("doc_id", "fp")
    grouped = (
        posting.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _WINNOW_HOT_CAP))
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= _WINNOW_MIN_SHARED)
        .select("doc_a", "doc_b", "n_shared_fp")
    )


_ZIPF_K = 30


@register(
    "text_zipf_profile",
    sql=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_tokens FROM counts),
    ranked AS (
        SELECT tok, tf, row_number() OVER (ORDER BY tf DESC, tok) AS rank
        FROM counts
    )
    SELECT r.rank, r.tok, CAST(r.tf AS BIGINT) AS tf,
           CAST(r.rank * r.tf AS BIGINT) AS zipf_mass,
           (CAST(r.rank * r.tf AS DOUBLE) / t.n_tokens) AS zipf_const
    FROM ranked r, tot t WHERE r.rank <= {_ZIPF_K}
    """,
    doc="Zipf-law profile of the vocabulary head: rank x frequency for the "
    "top-{k} types. Under Zipf, rank*tf is roughly constant — a flat "
    "zipf_const column means natural language statistics; a sharply "
    "decaying one means templated/synthetic text, and the curve's knee "
    "is where a frequency-vocab stops paying (the diagnostic BEHIND "
    "text_vocab_coverage's OOV curve, log-free by using the rank*tf "
    "product instead of the log-log slope). All-integer mass, one "
    "divide by the exact token total; same distributed top-K shape as "
    "text_vocab_topk — the ranking never sees the corpus, only the "
    "aggregated vocabulary.".format(k=_ZIPF_K),
)
def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = io.load(spark, sf_dir, "documents", spread=True)
    counts = (
        docs.select(F.explode(tokens_col()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tot = counts.agg(F.sum("tf").cast("long").alias("n_tokens"))
    top = counts.orderBy(F.col("tf").desc(), "tok").limit(_ZIPF_K)
    ranked = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("tf").desc(), "tok"))
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rank",
        "tok",
        F.col("tf").cast("long").alias("tf"),
        (F.col("rank") * F.col("tf")).cast("long").alias("zipf_mass"),
        (
            (F.col("rank") * F.col("tf")).cast("double") / F.col("n_tokens")
        ).alias("zipf_const"),
    )


# --- temperature-based language mixing ---------------------------------------
# Multilingual pretraining corpora are not sampled at their natural language
# frequencies: raw sampling drowns low-resource languages, uniform sampling
# starves the head. The standard fix (mBERT/XLM-R style) samples language l
# with probability proportional to p_l^alpha. alpha=0.5 here. All shares
# are fixed-point (1e-6) integers so the per-language target counts are
# EXACT integer arithmetic in both engines — no float drift at the floor
# boundary.

_TMIX_ALPHA_SQRT = True  # alpha = 0.5 == sqrt
_TMIX_BUDGET = 200  # documents drawn across all languages
_TMIX_SEED = "tmix:"


@register(
    "text_temperature_mix",
    sql=f"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_group FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_group) AS BIGINT) AS n_total FROM counts),
    weighted AS (
        SELECT lang, n_group,
               CAST(FLOOR(sqrt(n_group * 1.0 / n_total) * 1000000 + 0.5) AS BIGINT) AS w_fixed
        FROM counts, tot
    ),
    targets AS (
        SELECT lang, n_group, w_fixed,
               ({_TMIX_BUDGET} * w_fixed) // (SELECT SUM(w_fixed) FROM weighted) AS k_target
        FROM weighted
    ),
    ranked AS (
        SELECT d.doc_id, d.lang, t.n_group, t.k_target,
               row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY md5('{_TMIX_SEED}' || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rk
        FROM documents d JOIN targets t ON d.lang = t.lang
    )
    SELECT doc_id, lang, n_group, CAST(k_target AS BIGINT) AS k_target
    FROM ranked WHERE rk <= k_target
    """,
    doc="Temperature-based language mixing (the XLM-R/mBERT sampling rule): "
    "language l is sampled proportional to p_l^0.5, flattening the "
    "natural-frequency skew so low-resource languages keep signal without "
    "starving the head. Shares are fixed-point 1e-6 integers and the "
    "per-language target count is pure INTEGER arithmetic "
    "(budget*w // W), so both engines agree exactly at the floor "
    "boundary; the draw itself is the salted-md5 rank (partition-count "
    "invariant, reproducible at any scale). Plan shape: the language "
    "census is a handful of rows, so it is collected and the target "
    "arithmetic runs on the driver (the text_weighted_sample pattern) — "
    "the corpus scans exactly twice (map-side-combined census + rank) "
    "and the ONLY exchange is the per-language rank window, with "
    "targets shipped as a literal map instead of a join.",
)
def text_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = io.load(spark, sf_dir, "documents")
    # The language census is a handful of rows — collect it and do the
    # fixed-point share math on the driver (the text_weighted_sample
    # pattern), so the corpus scans exactly TWICE (census + rank) instead
    # of once per chained crossJoin. Python doubles are IEEE-754 like both
    # engines and sqrt is correctly rounded, so floor(sqrt(n/N)*1e6+0.5)
    # and the all-integer target arithmetic match the oracle bit-for-bit.
    counts = {
        r["lang"]: int(r["n"])
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(counts.values())
    w_fixed = {
        k: int(math.floor(math.sqrt(n * 1.0 / n_total) * 1_000_000 + 0.5))
        for k, n in counts.items()
    }
    w_sum = sum(w_fixed.values())
    k_target = {k: (_TMIX_BUDGET * w) // w_sum for k, w in w_fixed.items()}
    n_map = F.create_map(
        *[x for k, n in sorted(counts.items()) for x in (F.lit(k), F.lit(n))]
    )
    k_map = F.create_map(
        *[x for k, v in sorted(k_target.items()) for x in (F.lit(k), F.lit(v))]
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit(_TMIX_SEED), F.col("doc_id").cast("string"))), "doc_id"
    )
    ranked = docs.select("doc_id", "lang").withColumn("rk", F.row_number().over(w))
    return ranked.filter(F.col("rk") <= k_map[F.col("lang")]).select(
        "doc_id",
        "lang",
        n_map[F.col("lang")].cast("long").alias("n_group"),
        k_map[F.col("lang")].cast("long").alias("k_target"),
    )


# --- token-budget corpus selection -------------------------------------------
# The dual of sampling by rate: a training run has a TOKEN budget per
# source, and curation fills it best-quality-first. Rank each source's
# documents by the registered quality score, take the running-token prefix
# that fits.

_TBUDGET_TOKENS = 600  # per-source token budget


def _token_budget_sql() -> str:
    """Composes the registered text_profile spec: per source, the
    best-quality document prefix whose running token sum fits the budget."""
    from exact_spark.registry import REGISTRY

    prof = REGISTRY["text_profile"].sql
    return f"""
    WITH prof AS ({prof}),
    ranked AS (
        SELECT p.doc_id, d.source, p.n_tokens, p.quality_score,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY p.quality_score DESC, p.doc_id ASC
               ) AS rk,
               SUM(p.n_tokens) OVER (
                   PARTITION BY d.source
                   ORDER BY p.quality_score DESC, p.doc_id ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM prof p JOIN documents d ON d.doc_id = p.doc_id
    )
    SELECT doc_id, source, n_tokens, quality_score,
           CAST(rk AS BIGINT) AS rk, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_tokens <= {_TBUDGET_TOKENS}
    """


@register(
    "text_token_budget_select",
    sql=_token_budget_sql(),  # composes the registered text_profile spec
    doc="Token-budget corpus selection: every training run is sized in "
    "TOKENS, not documents — per source, rank documents by the "
    "REGISTERED text_profile quality score (plan and SQL compose the "
    "same spec, so the signal cannot drift), accumulate token counts in "
    "rank order, and keep the best-quality prefix that fits the budget. "
    "quality_score is an exact 1e-4 multiple (fround 10000) with doc_id "
    "tie-break, so the rank order — and therefore the cut — is "
    "deterministic cross-engine. Plan shape: the one-scan profile, one "
    "join to recover source, ONE window shuffle keyed source for "
    "rank + running sum; selection never rescans the corpus. At 100 TB "
    "the budget cut means only each source's quality head flows "
    "downstream — the shuffle carries (id, tokens, score), never text.",
)
def text_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = artifacts.table("textprof", spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    docs = io.load(spark, sf_dir, "documents").select("doc_id", "source")
    j = prof.join(docs, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    ranked = j.select(
        "doc_id",
        "source",
        "n_tokens",
        "quality_score",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_tokens"),
    )
    return ranked.filter(F.col("cum_tokens") <= _TBUDGET_TOKENS)
