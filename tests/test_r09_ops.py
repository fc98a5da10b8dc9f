"""r09 operator contracts: substring-span SCRUB (removal stage) and the
union-of-methods component census.

Oracle parity at the gate SFs is covered by record_correctness; these pin
the behavioral contracts the hash compare can't express — literal
brute-force text reassembly, and a from-scratch union-find over the union
of the four pair sets.
"""

from __future__ import annotations

from exact_spark import artifacts

from tests.conftest import SF_DIR_MID

from tests.test_r08b_ops import _brute_spans


def _brute_scrub(text: str, spans: list[tuple[int, int]]) -> str:
    """Cut 1-based inclusive [s, e] spans out of text, keep the rest in
    order — the literal definition of the removal stage."""
    keep, cur = [], 1
    for s, e in sorted(spans):
        keep.append(text[cur - 1 : s - 1])
        cur = e + 1
    keep.append(text[cur - 1 :])
    return "".join(keep)


def test_substring_scrub_matches_brute_force(spark, sf_dir):
    from exact_spark import io
    from exact_spark.operators.dedup import _SUB_L, dedup_substring_scrub

    docs = io.load(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    texts = dict(zip(docs.doc_id, docs.text))
    want_spans = _brute_spans(texts, _SUB_L)
    got = dedup_substring_scrub(spark, sf_dir).toPandas().set_index("doc_id")
    assert set(got.index) == set(texts)  # every doc survives as a row
    for d, t in texts.items():
        sp = want_spans.get(d, [])
        assert got.loc[d, "n_spans"] == len(sp)
        assert got.loc[d, "removed_chars"] == sum(e - s + 1 for s, e in sp)
        assert got.loc[d, "clean_text"] == _brute_scrub(t, sp)


def test_substring_scrub_geometry(spark):
    """Cross-stage consistency at sf0.01: clean length == original minus
    removed everywhere, untouched docs pass through verbatim, and the
    scrub's span accounting equals the census query's."""
    from exact_spark import io
    from exact_spark.operators.dedup import (
        dedup_substring_scrub,
        dedup_substring_spans,
    )

    docs = (
        io.load(spark, SF_DIR_MID, "documents")
        .select("doc_id", "text")
        .toPandas()
        .set_index("doc_id")
    )
    got = dedup_substring_scrub(spark, SF_DIR_MID).toPandas().set_index("doc_id")
    census = (
        dedup_substring_spans(spark, SF_DIR_MID).toPandas().set_index("doc_id")
    )
    for d, r in got.iterrows():
        assert len(r.clean_text) == len(docs.loc[d, "text"]) - r.removed_chars
        if r.n_spans == 0:
            assert r.clean_text == docs.loc[d, "text"]
    touched = got[got.n_spans > 0]
    assert set(touched.index) == set(census.index)
    for d in census.index:
        assert touched.loc[d, "n_spans"] == census.loc[d, "n_spans"]
        assert touched.loc[d, "removed_chars"] == census.loc[d, "dup_chars"]


# --- union-of-methods components -----------------------------------------------


def _union_find_sizes(edges: set[tuple[int, int]]) -> dict[int, int]:
    """Literal union-find; returns size distribution {n_members: n_components}."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from collections import Counter

    sizes = Counter(find(x) for x in parent)
    dist = Counter(sizes.values())
    return dict(dist)


def test_union_components_match_union_find(spark, sf_dir):
    from exact_spark.operators.dedup import (
        _PAIR_METHODS,
        dedup_method_union_components,
    )

    edges: set[tuple[int, int]] = set()
    for m in _PAIR_METHODS:
        pdf = (
            artifacts.table(f"pairs_{m}", spark, sf_dir)
            .select("doc_a", "doc_b")
            .toPandas()
        )
        edges |= set(zip(pdf.doc_a, pdf.doc_b))
    want = _union_find_sizes(edges)
    got = dedup_method_union_components(spark, sf_dir).toPandas()
    assert dict(zip(got.n_members, got.n_components)) == want
    assert (got.n_docs == got.n_members * got.n_components).all()


def test_union_components_superset_of_single_method(spark):
    """The union's duplicate mass dominates any single method's: every
    doc in the minhash-only components appears in some union component,
    and union components can only merge, never split (component count at
    a fixed doc coverage is <= the single method's)."""
    from exact_spark.operators.dedup import dedup_method_union_components

    got = dedup_method_union_components(spark, SF_DIR_MID).toPandas()
    union_docs = int(got.n_docs.sum())
    mh = artifacts.table("pairs_minhash_lsh", spark, SF_DIR_MID).toPandas()
    mh_docs = len(set(mh.doc_a) | set(mh.doc_b))
    assert union_docs >= mh_docs
    assert (got.n_members >= 2).all()  # only edge-touched docs are counted


# --- pipeline funnel + survivor corpus -------------------------------------------


def test_funnel_matches_literal_recompute(spark, sf_dir):
    """dedup_pipeline_funnel against a from-scratch pandas recompute of
    every stage (exact keepers via the normalized hash, component
    survivorship from the artifact, scrub chars from brute-force spans)."""
    import hashlib
    import re

    from exact_spark import io
    from exact_spark.operators.dedup import _SUB_L, dedup_pipeline_funnel

    docs = io.load(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    texts = dict(zip(docs.doc_id, docs.text))
    raw_docs, raw_chars = len(texts), sum(len(t) for t in texts.values())
    keeper: dict[str, int] = {}
    for d in sorted(texts):
        h = hashlib.md5(
            re.sub(r"[^a-z0-9]+", " ", texts[d].lower()).strip().encode()
        ).hexdigest()
        keeper.setdefault(h, d)
    exact_docs = len(keeper)
    exact_chars = sum(len(texts[d]) for d in keeper.values())
    comp = artifacts.table("dupcc", spark, sf_dir).toPandas()
    dropped = set(comp[comp.component_id != comp.doc_id].doc_id)
    kept = [d for d in texts if d not in dropped]
    spans = _brute_spans(texts, _SUB_L)
    scrub_chars = sum(
        len(texts[d]) - sum(e - s + 1 for s, e in spans.get(d, []))
        for d in kept
    )
    got = (
        dedup_pipeline_funnel(spark, sf_dir)
        .toPandas()
        .set_index("stage_idx")
        .sort_index()
    )
    assert list(got.stage) == [
        "raw", "exact_dedup", "near_dup_components", "substring_scrub",
    ]
    assert (got.loc[0, "n_docs"], got.loc[0, "n_chars"]) == (raw_docs, raw_chars)
    assert (got.loc[1, "n_docs"], got.loc[1, "n_chars"]) == (exact_docs, exact_chars)
    assert (got.loc[2, "n_docs"], got.loc[2, "n_chars"]) == (len(kept), sum(len(texts[d]) for d in kept))
    assert (got.loc[3, "n_docs"], got.loc[3, "n_chars"]) == (len(kept), scrub_chars)
    # funnel is monotone in both measures, and fractions normalize to raw
    assert got.n_docs.is_monotonic_decreasing
    assert got.n_chars.is_monotonic_decreasing
    assert (got.docs_frac == got.n_docs / raw_docs).all()
    assert (got.chars_frac == got.n_chars / raw_chars).all()


def test_survivor_corpus_composes_components_and_scrub(spark, sf_dir):
    """dedup_survivor_corpus must be EXACTLY 'scrub frame restricted to
    component survivors' — what ships equals what the diagnostics
    measured."""
    from exact_spark import io
    from exact_spark.operators.dedup import (
        dedup_substring_scrub,
        dedup_survivor_corpus,
    )

    scrub = (
        dedup_substring_scrub(spark, sf_dir).toPandas().set_index("doc_id")
    )
    comp = artifacts.table("dupcc", spark, sf_dir).toPandas()
    dropped = set(comp[comp.component_id != comp.doc_id].doc_id)
    docs = io.load(spark, sf_dir, "documents").select("doc_id", "source", "text").toPandas().set_index("doc_id")
    got = dedup_survivor_corpus(spark, sf_dir).toPandas().set_index("doc_id")
    assert set(got.index) == set(docs.index) - dropped
    for d, r in got.iterrows():
        assert r.source == docs.loc[d, "source"]
        assert r.orig_len == len(docs.loc[d, "text"])
        assert r.n_spans == scrub.loc[d, "n_spans"]
        assert r.removed_chars == scrub.loc[d, "removed_chars"]
        assert r.clean_text == scrub.loc[d, "clean_text"]


# --- span decontamination + source attribution -----------------------------------


def _brute_contam_spans(
    texts: dict[int, str], sources: dict[int, str], eval_src: str, L: int
) -> dict[int, list[tuple[int, int]]]:
    """Literal definition: positions in TRAINING docs whose L-gram occurs
    anywhere in the eval source's docs, merged into maximal intervals."""
    eval_grams = {
        t[i : i + L]
        for d, t in texts.items()
        if sources[d] == eval_src
        for i in range(len(t) - L + 1)
    }
    spans: dict[int, list[tuple[int, int]]] = {}
    for d, t in texts.items():
        if sources[d] == eval_src:
            continue
        marked = [
            i + 1
            for i in range(len(t) - L + 1)
            if t[i : i + L] in eval_grams
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


def test_decontaminate_spans_match_brute_force(spark):
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _CONTAM_EVAL_SOURCE,
        _SUB_L,
        decontaminate_spans,
    )

    docs = (
        io.load(spark, SF_DIR_MID, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    texts = dict(zip(docs.doc_id, docs.text))
    sources = dict(zip(docs.doc_id, docs.source))
    want = _brute_contam_spans(texts, sources, _CONTAM_EVAL_SOURCE, _SUB_L)
    got = decontaminate_spans(spark, SF_DIR_MID).toPandas().set_index("doc_id")
    assert set(got.index) == set(want)
    for d, sp in want.items():
        assert sources[d] != _CONTAM_EVAL_SOURCE  # eval side never reported
        chars = sum(e - s + 1 for s, e in sp)
        assert got.loc[d, "n_spans"] == len(sp)
        assert got.loc[d, "contam_chars"] == chars
        assert got.loc[d, "contam_frac"] == chars / len(texts[d])


def test_span_attribution_matches_literal_recompute(spark, sf_dir):
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _SUB_L,
        dedup_span_attribution,
    )

    docs = (
        io.load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .toPandas()
    )
    texts = dict(zip(docs.doc_id, docs.text))
    sources = dict(zip(docs.doc_id, docs.source))
    spans = _brute_spans(texts, _SUB_L)
    per: dict[str, dict] = {}
    for d, t in texts.items():
        e = per.setdefault(
            sources[d],
            {"n_docs": 0, "n_docs_affected": 0, "dup_chars": 0, "total_chars": 0},
        )
        dup = sum(b - a + 1 for a, b in spans.get(d, []))
        e["n_docs"] += 1
        e["n_docs_affected"] += int(dup > 0)
        e["dup_chars"] += dup
        e["total_chars"] += len(t)
    tot = sum(e["dup_chars"] for e in per.values())
    got = dedup_span_attribution(spark, sf_dir).toPandas().set_index("source")
    assert set(got.index) == set(per)
    for src, e in per.items():
        r = got.loc[src]
        assert (r.n_docs, r.n_docs_affected, r.dup_chars, r.total_chars) == (
            e["n_docs"], e["n_docs_affected"], e["dup_chars"], e["total_chars"],
        ), src
        assert r.dup_frac == e["dup_chars"] / e["total_chars"]
        assert r.corpus_share == (e["dup_chars"] / tot if tot else None)
    # shares partition the duplicated mass (only meaningful when any
    # exists — corpus_share is NULL by design on a zero-dup-mass corpus,
    # and summing NULLs would make this assertion spuriously NaN)
    if tot:
        assert abs(got.corpus_share.sum() - 1.0) < 1e-9
