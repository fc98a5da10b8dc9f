"""r08 second-batch operator contracts: exact substring-span dedup and the
cross-method agreement matrix.

Oracle parity at both gate SFs is covered by test_oracle_parity.py /
record_correctness; these pin the BEHAVIORAL contracts the hash compare
can't express (definition-level set math, span geometry invariants).
"""

from __future__ import annotations

from tests.conftest import SF_DIR_MID


# --- exact substring-span dedup ------------------------------------------------


def _brute_spans(texts: dict[int, str], L: int) -> dict[int, list[tuple[int, int]]]:
    """Literal definition: positions whose L-gram occurs in >= 2 distinct
    docs, merged into maximal intervals (1-based, inclusive)."""
    from collections import defaultdict

    owners = defaultdict(set)
    for d, t in texts.items():
        for i in range(len(t) - L + 1):
            owners[t[i : i + L]].add(d)
    spans: dict[int, list[tuple[int, int]]] = {}
    for d, t in texts.items():
        marked = [
            i + 1
            for i in range(len(t) - L + 1)
            if len(owners[t[i : i + L]]) >= 2
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


def test_substring_spans_match_brute_force(spark, sf_dir):
    from exact_spark import io
    from exact_spark.operators.dedup import _SUB_L, dedup_substring_spans

    docs = io.load(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    texts = dict(zip(docs.doc_id, docs.text))
    want = _brute_spans(texts, _SUB_L)
    got = dedup_substring_spans(spark, sf_dir).toPandas().set_index("doc_id")
    assert set(got.index) == set(want)
    for d, sp in want.items():
        lens = [e - s + 1 for s, e in sp]
        assert got.loc[d, "n_spans"] == len(sp)
        assert got.loc[d, "dup_chars"] == sum(lens)
        assert got.loc[d, "longest_span"] == max(lens)


def test_substring_spans_geometry_invariants(spark):
    from exact_spark import io
    from exact_spark.operators.dedup import _SUB_L, dedup_substring_spans

    got = dedup_substring_spans(spark, SF_DIR_MID).toPandas()
    assert len(got) > 0
    lens = (
        io.load(spark, SF_DIR_MID, "documents")
        .select("doc_id", "text")
        .toPandas()
        .assign(n=lambda d: d.text.str.len())
        .set_index("doc_id")
        .n
    )
    assert (got.longest_span >= _SUB_L).all()
    assert (got.longest_span <= got.dup_chars).all()
    # merged spans are disjoint intervals inside the doc
    assert (got.dup_chars <= got.doc_id.map(lens)).all()
    assert (got.n_spans >= 1).all()


def test_substring_spans_match_brute_force_mid_sf(spark):
    """Same literal-definition parity at sf0.01 (the corpus there has no
    EXACT full-text twins — every duplicate is a near-dup with shared
    passages, exactly the class substring dedup exists for — so this is
    the SF where span merging across partial overlaps actually exercises)."""
    from exact_spark import io
    from exact_spark.operators.dedup import _SUB_L, dedup_substring_spans

    docs = (
        io.load(spark, SF_DIR_MID, "documents")
        .select("doc_id", "text")
        .toPandas()
    )
    want = _brute_spans(dict(zip(docs.doc_id, docs.text)), _SUB_L)
    assert want  # nonzero finding at this SF
    got = dedup_substring_spans(spark, SF_DIR_MID).toPandas().set_index("doc_id")
    assert set(got.index) == set(want)
    for d, sp in want.items():
        lens = [e - s + 1 for s, e in sp]
        assert got.loc[d, "n_spans"] == len(sp)
        assert got.loc[d, "dup_chars"] == sum(lens)
        assert got.loc[d, "longest_span"] == max(lens)


# --- cross-method agreement ------------------------------------------------------


def test_agreement_matches_literal_set_math(spark, sf_dir):
    from exact_spark.operators.dedup import (
        dedup_fuzzy_edit,
        dedup_method_agreement,
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        dedup_simhash_pairs,
    )

    sets = {}
    for m, fn in [
        ("minhash_lsh", dedup_minhash_lsh),
        ("simhash", dedup_simhash_pairs),
        ("ngram_jaccard", dedup_ngram_jaccard),
        ("fuzzy_edit", dedup_fuzzy_edit),
    ]:
        pdf = fn(spark, sf_dir).select("doc_a", "doc_b").toPandas()
        sets[m] = set(zip(pdf.doc_a, pdf.doc_b))
    got = dedup_method_agreement(spark, sf_dir).toPandas()
    # ADVICE r08: the matrix keeps its fixed C(4,2)=6-row shape even when
    # a method finds zero pairs (it appears with n=0, jaccard=0.0)
    assert len(got) == 6
    for _, r in got.iterrows():
        a, b = sets[r.method_a], sets[r.method_b]
        assert r.method_a < r.method_b
        assert r.n_a == len(a) and r.n_b == len(b)
        assert r.n_both == len(a & b)
        expect_j = len(a & b) / len(a | b) if (a | b) else 0.0
        assert abs(r.jaccard - expect_j) < 1e-12


def test_agreement_bounds(spark):
    from exact_spark.operators.dedup import dedup_method_agreement

    got = dedup_method_agreement(spark, SF_DIR_MID).toPandas()
    assert len(got) == 6  # C(4,2): every method finds pairs at sf0.01
    assert (got.n_both <= got[["n_a", "n_b"]].min(axis=1)).all()
    assert got.jaccard.between(0.0, 1.0).all()
    # the near-identical text methods must agree far better than chance
    row = got.set_index(["method_a", "method_b"]).loc[
        ("fuzzy_edit", "ngram_jaccard")
    ]
    assert row.jaccard > 0.5
