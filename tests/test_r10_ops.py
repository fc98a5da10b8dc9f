"""r10 operator contracts: span-level decontamination REMOVAL
(decontaminate_scrub) and the corpus release manifest.

Oracle parity at the gate SFs is covered by record_correctness; these pin
the behavioral contracts the hash compare can't express — literal
brute-force contaminated-span excision, the contamination-span artifact's
content honesty, and the release manifest's row-for-row agreement with
the funnel census it claims to equal.
"""

from __future__ import annotations

from tests.conftest import SF_DIR_MID
from tests.test_r09_ops import _brute_scrub


def _brute_contam_spans(
    texts: dict[int, str], sources: dict[int, str], eval_source: str, L: int
) -> dict[int, list[tuple[int, int]]]:
    """Literal definition: training-doc positions whose L-gram occurs
    verbatim anywhere in the eval source, merged into maximal intervals
    (1-based, inclusive)."""
    eval_grams = {
        t[i : i + L]
        for d, t in texts.items()
        if sources[d] == eval_source
        for i in range(len(t) - L + 1)
    }
    spans: dict[int, list[tuple[int, int]]] = {}
    for d, t in texts.items():
        if sources[d] == eval_source:
            continue
        marked = [
            i + 1 for i in range(len(t) - L + 1) if t[i : i + L] in eval_grams
        ]
        if not marked:
            continue
        out, s, prev = [], marked[0], marked[0]
        for p in marked[1:]:
            if p - prev > L:
                out.append((s, prev + L - 1))
                s = p
            prev = p
        out.append((s, prev + L - 1))
        spans[d] = out
    return spans


def test_decontaminate_scrub_matches_brute_force(spark, sf_dir):
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _CONTAM_EVAL_SOURCE,
        _SUB_L,
        decontaminate_scrub,
    )

    docs = (
        io.load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    texts = dict(zip(docs.doc_id, docs.text))
    sources = dict(zip(docs.doc_id, docs.source))
    want = _brute_contam_spans(texts, sources, _CONTAM_EVAL_SOURCE, _SUB_L)
    got = decontaminate_scrub(spark, sf_dir).toPandas().set_index("doc_id")
    training = {d for d, s in sources.items() if s != _CONTAM_EVAL_SOURCE}
    assert set(got.index) == training  # eval source ships nowhere
    for d in training:
        sp = want.get(d, [])
        assert got.loc[d, "n_spans"] == len(sp)
        assert got.loc[d, "removed_chars"] == sum(e - s + 1 for s, e in sp)
        assert got.loc[d, "clean_text"] == _brute_scrub(texts[d], sp)


def test_decontaminate_scrub_geometry(spark):
    """Cross-stage consistency at sf0.01: clean length == original minus
    removed everywhere, untouched docs pass through verbatim, and the
    scrub's span accounting equals the census query's (decontaminate_spans
    reports exactly the spans the scrub removes)."""
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _CONTAM_EVAL_SOURCE,
        decontaminate_scrub,
        decontaminate_spans,
    )

    docs = (
        io.load(spark, SF_DIR_MID, "documents")
        .filter(f"source <> '{_CONTAM_EVAL_SOURCE}'")
        .select("doc_id", "text")
        .toPandas()
        .set_index("doc_id")
    )
    got = decontaminate_scrub(spark, SF_DIR_MID).toPandas().set_index("doc_id")
    census = (
        decontaminate_spans(spark, SF_DIR_MID).toPandas().set_index("doc_id")
    )
    for d, r in got.iterrows():
        assert len(r.clean_text) == len(docs.loc[d, "text"]) - r.removed_chars
        if r.n_spans == 0:
            assert r.clean_text == docs.loc[d, "text"]
    touched = got[got.n_spans > 0]
    assert set(touched.index) == set(census.index)
    for d in census.index:
        assert touched.loc[d, "n_spans"] == census.loc[d, "n_spans"]
        assert touched.loc[d, "removed_chars"] == census.loc[d, "contam_chars"]


# --- corpus release manifest -----------------------------------------------


def test_release_manifest_rollup_equals_funnel(spark):
    """The VERDICT r09 'done' condition: the manifest rolled up by its own
    flags reproduces the funnel census row-for-row — raw, exact-dedup,
    near-dup-component, and scrub stages, docs AND chars."""
    from exact_spark.operators.dedup import (
        corpus_release_manifest,
        dedup_pipeline_funnel,
    )

    man = corpus_release_manifest(spark, SF_DIR_MID).toPandas()
    fun = (
        dedup_pipeline_funnel(spark, SF_DIR_MID)
        .toPandas()
        .set_index("stage")
    )
    rollup = {
        "raw": (len(man), man.orig_len.sum()),
        "exact_dedup": (
            int(man.exact_keep.sum()),
            man[man.exact_keep].orig_len.sum(),
        ),
        "near_dup_components": (
            int(man.dedup_keep.sum()),
            man[man.dedup_keep].orig_len.sum(),
        ),
        "substring_scrub": (
            int(man.dedup_keep.sum()),
            man[man.dedup_keep].final_len.sum(),
        ),
    }
    assert set(rollup) == set(fun.index)
    for stage, (n, c) in rollup.items():
        assert fun.loc[stage, "n_docs"] == n, stage
        assert fun.loc[stage, "n_chars"] == c, stage


def test_release_manifest_invariants(spark, sf_dir):
    """Structural contracts that must hold at ANY scale: drop_stage is the
    first-failing stage in pipeline order and 'shipped' iff ship; exact-dup
    losers are always near-dup losers (components subsume exact stars);
    curation flags agree with the registered curation manifest; lengths
    reconcile; every doc of the corpus appears exactly once."""
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _EVAL_N,
        corpus_release_manifest,
        text_curation_manifest,
    )

    man = corpus_release_manifest(spark, sf_dir).toPandas()
    n_docs = io.load(spark, sf_dir, "documents").count()
    assert len(man) == n_docs and man.doc_id.is_unique
    assert (man.final_len == man.orig_len - man.scrub_removed_chars).all()
    assert (man.final_len >= 0).all() and (man.scrub_removed_chars >= 0).all()
    assert (man.in_pool == (man.doc_id >= _EVAL_N)).all()
    # components subsume exact-dup stars
    assert not ((~man.exact_keep) & man.dedup_keep).any()
    # drop_stage: first-failing stage, 'shipped' iff ship
    order = [
        ("eval_holdout", ~man.in_pool),
        ("eval_source", ~man.eval_source_keep),
        ("exact_dup", ~man.exact_keep),
        ("near_dup", ~man.dedup_keep),
        ("quality", ~man.quality_keep),
        ("mix", ~man.mix_keep),
        ("decontamination", ~man.decon_keep),
    ]
    import numpy as np

    expect = np.full(len(man), "shipped", dtype=object)
    taken = np.zeros(len(man), dtype=bool)
    for stage, fail in order:
        hit = fail.to_numpy() & ~taken
        expect[hit] = stage
        taken |= hit
    assert (man.drop_stage.to_numpy() == expect).all()
    assert (man.ship == (man.drop_stage == "shipped")).all()
    assert (
        man.ship
        == (
            man.in_pool
            & man.eval_source_keep
            & man.dedup_keep
            & man.quality_keep
            & man.mix_keep
            & man.decon_keep
        )
    ).all()
    # ADVICE r10: the eval source ships nowhere — eval_source_keep is
    # exactly the source flag, and no shipped doc carries the eval source
    from exact_spark.operators.dedup import _CONTAM_EVAL_SOURCE

    assert (
        man.eval_source_keep == (man.source != _CONTAM_EVAL_SOURCE)
    ).all()
    assert not (man.ship & (man.source == _CONTAM_EVAL_SOURCE)).any()
    # curation flags agree with the registered curation manifest
    cm = text_curation_manifest(spark, sf_dir).toPandas().set_index("doc_id")
    pool = man[man.in_pool].set_index("doc_id")
    assert set(pool.index) == set(cm.index)
    cm = cm.reindex(pool.index)  # row order differs between the two frames
    for col in ("quality_keep", "mix_keep", "decon_keep"):
        assert (pool[col] == cm[col]).all(), col
    assert (
        pool.ship == (cm.selected & pool.dedup_keep & pool.eval_source_keep)
    ).all()


# --- second r10 batch: attribution, full-pipeline funnel, shipped dataset ----


def test_decontaminate_attribution_matches_literal_recompute(spark, sf_dir):
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _CONTAM_EVAL_SOURCE,
        _SUB_L,
        decontaminate_attribution,
    )

    docs = (
        io.load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    texts = dict(zip(docs.doc_id, docs.text))
    sources = dict(zip(docs.doc_id, docs.source))
    spans = _brute_contam_spans(texts, sources, _CONTAM_EVAL_SOURCE, _SUB_L)
    per: dict[str, dict] = {}
    for d, t in texts.items():
        if sources[d] == _CONTAM_EVAL_SOURCE:
            continue
        e = per.setdefault(
            sources[d],
            {"n_docs": 0, "n_docs_affected": 0, "contam_chars": 0,
             "total_chars": 0},
        )
        c = sum(b - a + 1 for a, b in spans.get(d, []))
        e["n_docs"] += 1
        e["n_docs_affected"] += int(c > 0)
        e["contam_chars"] += c
        e["total_chars"] += len(t)
    tot = sum(e["contam_chars"] for e in per.values())
    got = (
        decontaminate_attribution(spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    assert set(got.index) == set(per)  # eval source excluded by definition
    for src, e in per.items():
        r = got.loc[src]
        assert (
            r.n_docs, r.n_docs_affected, r.contam_chars, r.total_chars
        ) == (
            e["n_docs"], e["n_docs_affected"], e["contam_chars"],
            e["total_chars"],
        ), src
        assert r.contam_frac == e["contam_chars"] / e["total_chars"]
        assert r.corpus_share == (e["contam_chars"] / tot if tot else None)
    if tot:
        assert abs(got.corpus_share.sum() - 1.0) < 1e-9


def test_release_funnel_agrees_with_manifest(spark):
    """The funnel is the manifest's OWN cumulative rollup: each stage's
    row equals the manifest filtered by the AND of every condition up to
    that stage; counts are monotone nonincreasing; the shipped row
    matches the ship flag and the scrubbed-chars accounting."""
    from exact_spark.operators.dedup import (
        _RELEASE_STAGES,
        corpus_release_funnel,
        corpus_release_manifest,
    )

    man = corpus_release_manifest(spark, SF_DIR_MID).toPandas()
    fun = (
        corpus_release_funnel(spark, SF_DIR_MID)
        .toPandas()
        .sort_values("stage_idx", ignore_index=True)
        .set_index("stage")
    )
    mask = man.doc_id.notna()  # all-true start
    for stage, col in _RELEASE_STAGES:
        if col is not None:
            mask = mask & man[col]
        assert fun.loc[stage, "n_docs"] == int(mask.sum()), stage
        assert fun.loc[stage, "n_chars"] == man[mask].orig_len.sum(), stage
    assert (mask == man.ship).all()  # cumulative AND == the ship flag
    assert fun.loc["shipped_scrubbed", "n_docs"] == int(man.ship.sum())
    # ADVICE r10: the terminal row is measured from the SHIPPED DATASET
    # (both span removals applied), so its chars are at most the
    # manifest's substring-only accounting and exactly equal the shipped
    # file's final_text lengths — i.e. corpus_release_tokens' chars
    from exact_spark.operators.dedup import corpus_release_dataset

    ds = corpus_release_dataset(spark, SF_DIR_MID).toPandas()
    assert fun.loc["shipped_scrubbed", "n_docs"] == len(ds)
    assert (
        fun.loc["shipped_scrubbed", "n_chars"] == ds.final_text.str.len().sum()
    )
    assert (
        fun.loc["shipped_scrubbed", "n_chars"]
        <= man[man.ship].final_len.sum()
    )
    n = fun.n_docs.to_numpy()
    assert (n[:-1] >= n[1:]).all()  # a funnel only narrows
    assert fun.loc["raw", "docs_frac"] == 1.0
    assert (
        fun.docs_frac == fun.n_docs / fun.loc["raw", "n_docs"]
    ).all()


def test_release_dataset_matches_brute_force(spark, sf_dir):
    """Literal recompute of the shipped dataset: union the brute-force
    duplicated-substring spans and contaminated spans, merge overlapping
    or adjacent intervals, excise — per shipped doc, the engine's
    n_spans/removed_chars/final_text must match exactly."""
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _CONTAM_EVAL_SOURCE,
        _SUB_L,
        corpus_release_dataset,
        corpus_release_manifest,
    )
    from tests.test_r08b_ops import _brute_spans

    docs = (
        io.load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    texts = dict(zip(docs.doc_id, docs.text))
    sources = dict(zip(docs.doc_id, docs.source))
    dup = _brute_spans(texts, _SUB_L)
    con = _brute_contam_spans(texts, sources, _CONTAM_EVAL_SOURCE, _SUB_L)

    def merge(spans: list[tuple[int, int]]) -> list[tuple[int, int]]:
        out: list[list[int]] = []
        for s, e in sorted(spans):
            if out and s <= out[-1][1] + 1:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
        return [(s, e) for s, e in out]

    man = corpus_release_manifest(spark, sf_dir).toPandas()
    shipped = set(man[man.ship].doc_id)
    got = corpus_release_dataset(spark, sf_dir).toPandas().set_index("doc_id")
    assert set(got.index) == shipped
    for d in shipped:
        sp = merge(dup.get(d, []) + con.get(d, []))
        assert got.loc[d, "n_spans"] == len(sp)
        assert got.loc[d, "removed_chars"] == sum(e - s + 1 for s, e in sp)
        assert got.loc[d, "final_text"] == _brute_scrub(texts[d], sp)
        assert len(got.loc[d, "final_text"]) == len(texts[d]) - got.loc[
            d, "removed_chars"
        ]


def test_release_dataset_vs_manifest_accounting(spark):
    """The dataset's union-merged removal is at least the manifest's
    substring-only scrub accounting per doc (contaminated spans can only
    add), and the length algebra reconciles everywhere at sf0.01."""
    from exact_spark.operators.dedup import (
        corpus_release_dataset,
        corpus_release_manifest,
    )

    man = (
        corpus_release_manifest(spark, SF_DIR_MID)
        .toPandas()
        .set_index("doc_id")
    )
    got = (
        corpus_release_dataset(spark, SF_DIR_MID).toPandas().set_index("doc_id")
    )
    sub = man.loc[got.index]
    assert (got.removed_chars >= sub.scrub_removed_chars).all()
    assert (got.orig_len == sub.orig_len).all()
    assert (
        got.final_text.str.len() == got.orig_len - got.removed_chars
    ).all()


def test_release_attribution_partitions_manifest(spark, sf_dir):
    """The per-source stage counts are a literal pivot of the manifest's
    drop_stage column: every stage column recomputed from the manifest
    frame, the stage columns partition n_docs exactly, and the ship
    accounting reconciles."""
    from exact_spark.operators.dedup import (
        _DROP_STAGES,
        corpus_release_attribution,
        corpus_release_manifest,
    )

    man = corpus_release_manifest(spark, sf_dir).toPandas()
    got = (
        corpus_release_attribution(spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    assert set(got.index) == set(man.source)
    for src, g in man.groupby("source"):
        r = got.loc[src]
        assert r.n_docs == len(g)
        for s in _DROP_STAGES:
            assert r[f"n_{s}"] == int((g.drop_stage == s).sum()), (src, s)
        assert sum(r[f"n_{s}"] for s in _DROP_STAGES) == r.n_docs  # partition
        assert r.n_shipped == int(g.ship.sum())
        assert r.ship_rate == g.ship.sum() / len(g)
        assert r.orig_chars == g.orig_len.sum()
        assert r.shipped_chars == g[g.ship].final_len.sum()


def test_release_tokens_matches_literal_recompute(spark, sf_dir):
    """Full out-of-engine mirror: re-tokenize the shipped dataset's
    final_text in Python with the shared deterministic tokenizer spec
    (lowercase, split on non-alphanumeric runs, drop empties) and
    reproduce every cell including the token shares."""
    import re

    from exact_spark.operators.dedup import (
        corpus_release_dataset,
        corpus_release_tokens,
    )

    ds = corpus_release_dataset(spark, sf_dir).toPandas()
    per: dict[str, dict] = {}
    for src, txt in zip(ds.source, ds.final_text):
        toks = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        e = per.setdefault(
            src, {"n_docs": 0, "shipped_chars": 0, "shipped_tokens": 0}
        )
        e["n_docs"] += 1
        e["shipped_chars"] += len(txt)
        e["shipped_tokens"] += len(toks)
    tot = sum(e["shipped_tokens"] for e in per.values())
    got = corpus_release_tokens(spark, sf_dir).toPandas().set_index("source")
    assert set(got.index) == set(per)
    for src, e in per.items():
        r = got.loc[src]
        assert (r.n_docs, r.shipped_chars, r.shipped_tokens) == (
            e["n_docs"], e["shipped_chars"], e["shipped_tokens"],
        ), src
        assert r.token_share == e["shipped_tokens"] / tot
    assert abs(got.token_share.sum() - 1.0) < 1e-9
