"""r11 operators: quality-aware survivor selection, per-benchmark
decontamination attribution, release packing, and the release-to-release
diff — brute-force parity and the cross-query reconciliation pins the
VERDICT r10 punch list asks for."""

from __future__ import annotations

import pandas as pd

from exact_spark import artifacts
from tests.conftest import SF_DIR_MID


# --- dedup_survivor_policy ---------------------------------------------------


def test_survivor_policy_matches_brute_force(spark, sf_dir):
    """Literal pandas recompute of the argmax-quality selection over the
    engine's own component + profile frames (each parity-tested in its
    own right): per component, max quality wins, ties break to the min
    doc_id, missing profiles (empty-token docs) score 0.0, and both
    survivors' char accounting is the documents table's n_chars."""
    from exact_spark import io
    from exact_spark.operators.dedup import dedup_survivor_policy

    comp = artifacts.table("dupcc", spark, sf_dir).toPandas()
    prof = (
        artifacts.table("textprof", spark, sf_dir)
        .toPandas()
        .set_index("doc_id")["quality_score"]
    )
    chars = (
        io.load(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .toPandas()
        .set_index("doc_id")["n_chars"]
    )
    got = dedup_survivor_policy(spark, sf_dir).toPandas().set_index(
        "component_id"
    )
    assert set(got.index) == set(comp.component_id)
    for cid, g in comp.groupby("component_id"):
        members = sorted(g.doc_id)
        q = {d: float(prof.get(d, 0.0)) for d in members}
        policy = max(members, key=lambda d: (q[d], -d))
        r = got.loc[cid]
        assert r.n_members == len(members) == g.n_members.iloc[0]
        assert r.survivor_min_id == min(members) == cid
        assert r.survivor_policy_id == policy, (cid, q)
        assert r.changed == (policy != cid)
        assert r.q_policy == q[policy] and r.q_min_id == q[cid]
        assert r.chars_policy == chars[policy]
        assert r.chars_min_id == chars[cid]
        assert r.chars_delta == chars[policy] - chars[cid]
    # the policy only ever picks an equal-or-better-quality survivor
    assert (got.q_policy >= got.q_min_id).all()
    assert (got[got.changed].q_policy >= got[got.changed].q_min_id).all()


def test_survivor_policy_census_is_the_rollup(spark, sf_dir):
    from exact_spark.operators.dedup import (
        dedup_survivor_policy,
        dedup_survivor_policy_census,
    )

    pol = dedup_survivor_policy(spark, sf_dir).toPandas()
    c = dedup_survivor_policy_census(spark, sf_dir).toPandas().iloc[0]
    assert c.n_components == len(pol)
    assert c.n_changed == int(pol.changed.sum())
    assert c.frac_changed == pol.changed.sum() / len(pol)
    assert c.chars_min_id_total == pol.chars_min_id.sum()
    assert c.chars_policy_total == pol.chars_policy.sum()
    assert c.chars_delta_total == pol.chars_delta.sum()
    assert c.chars_delta_total == c.chars_policy_total - c.chars_min_id_total


# --- decontaminate_by_benchmark ----------------------------------------------


def _merge_intervals(spans: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out: list[list[int]] = []
    for s, e in sorted(spans):
        if out and s <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def test_benchmark_spans_union_reproduces_pooled(spark, sf_dir):
    """The VERDICT r10 'done' pin: per-benchmark spans may overlap across
    benchmarks (a gram attributes to every benchmark containing it), but
    interval-merging their union per doc reproduces the POOLED
    decontaminate_spans table exactly — same docs, same chars."""
    from exact_spark.operators.dedup import (
        _contam_bench_spans,
        decontaminate_spans,
    )

    bench = _contam_bench_spans(spark, sf_dir).toPandas()
    pooled = (
        decontaminate_spans(spark, sf_dir).toPandas().set_index("doc_id")
    )
    merged: dict[int, list[tuple[int, int]]] = {}
    for d, g in bench.groupby("doc_id"):
        merged[d] = _merge_intervals(list(zip(g.s, g.e)))
    assert set(merged) == set(pooled.index)
    for d, sp in merged.items():
        assert pooled.loc[d, "n_spans"] == len(sp), d
        assert pooled.loc[d, "contam_chars"] == sum(e - s + 1 for s, e in sp)


def test_benchmark_attribution_is_the_span_rollup(spark, sf_dir):
    """The registered per-benchmark table is a literal rollup of the
    per-benchmark span frame: affected docs, char mass, argmax source
    (tie-break min source), and the eval-doc census covers the whole
    eval source."""
    from exact_spark import io
    from exact_spark.operators.dedup import (
        _CONTAM_EVAL_SOURCE,
        _contam_bench_spans,
        decontaminate_by_benchmark,
    )
    from pyspark.sql import functions as F

    sp = _contam_bench_spans(spark, sf_dir).toPandas()
    docs = (
        io.load(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang")
        .toPandas()
    )
    src = docs.set_index("doc_id")["source"]
    got = (
        decontaminate_by_benchmark(spark, sf_dir)
        .toPandas()
        .set_index("benchmark")
    )
    ev = docs[docs.source == _CONTAM_EVAL_SOURCE]
    assert set(got.index) == {f"bench_{lang}" for lang in ev.lang.unique()}
    assert got.n_eval_docs.sum() == len(ev)
    sp["chars"] = sp.e - sp.s + 1
    sp["source"] = sp.doc_id.map(src)
    for bench, r in got.iterrows():
        g = sp[sp.benchmark == bench]
        assert r.n_docs_affected == g.doc_id.nunique()
        assert r.contam_chars == g.chars.sum()
        if len(g):
            per_src = g.groupby("source")["chars"].sum()
            best = sorted(per_src.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            assert (r.top_source, r.top_source_chars) == best
        else:
            assert pd.isna(r.top_source)


# --- corpus_release_packed ---------------------------------------------------


def test_release_packed_reconciles_tokens(spark):
    """full_seq_tokens + tail_tokens reproduces corpus_release_tokens'
    shipped_tokens per source (the 'packed totals equal token accounting
    minus tail waste' pin), and the fill rate is the padded-budget
    fraction."""
    from exact_spark.operators.dedup import (
        corpus_release_packed,
        corpus_release_tokens,
    )
    from exact_spark.operators.text import _PACK_BUDGET

    packed = (
        corpus_release_packed(spark, SF_DIR_MID).toPandas().set_index("source")
    )
    tokens = (
        corpus_release_tokens(spark, SF_DIR_MID).toPandas().set_index("source")
    )
    assert set(packed.index) == set(tokens.index)
    b = _PACK_BUDGET
    for srcname, r in packed.iterrows():
        t = tokens.loc[srcname]
        assert r.total_tokens == t.shipped_tokens
        assert r.n_docs == t.n_docs
        assert r.full_seq_tokens + r.tail_tokens == t.shipped_tokens
        assert r.n_full_seqs == t.shipped_tokens // b
        assert r.tail_tokens == t.shipped_tokens % b
        if r.total_tokens:
            padded = -(-int(r.total_tokens) // b) * b
            assert r.fill_rate == r.total_tokens / padded
            assert 0.0 < r.fill_rate <= 1.0


# --- corpus_release_diff -----------------------------------------------------


def test_release_diff_of_identical_manifests_is_empty(spark, sf_dir):
    from exact_spark.operators.dedup import _release_diff_frame

    man = artifacts.table("relman", spark, sf_dir)
    assert _release_diff_frame(man, man).count() == 0


def test_release_diff_respects_funnel_deltas(spark, sf_dir):
    """The diff reconciles with the two manifests: ship-set entries minus
    exits equals the shipped-count delta between releases; every changed
    row's prev/cur stage matches the manifests; new docs are exactly the
    crawl-batch docs that appear in the current corpus only."""
    from exact_spark.operators.dedup import (
        _DIFF_SNAP_MOD,
        _DIFF_SNAP_RESIDUE,
        corpus_release_diff,
    )

    man_a = (
        artifacts.table("relman", spark, artifacts.path("relsnap", spark, sf_dir))
        .toPandas()
        .set_index("doc_id")
    )
    man_b = (
        artifacts.table("relman", spark, sf_dir).toPandas().set_index("doc_id")
    )
    diff = corpus_release_diff(spark, sf_dir).toPandas()
    assert diff.doc_id.is_unique
    new_ids = set(man_b.index) - set(man_a.index)
    assert new_ids == {
        d for d in man_b.index if d % _DIFF_SNAP_MOD == _DIFF_SNAP_RESIDUE
    }
    assert set(diff[diff.transition == "new_doc"].doc_id) == {
        d for d in new_ids if man_b.loc[d, "drop_stage"] != "absent"
    } == new_ids
    # per-row agreement with the manifests
    for r in diff.itertuples():
        assert r.stage_cur == man_b.loc[r.doc_id, "drop_stage"]
        assert r.ship_cur == man_b.loc[r.doc_id, "ship"]
        if r.transition == "new_doc":
            assert r.stage_prev == "absent" and not r.ship_prev
        else:
            assert r.stage_prev == man_a.loc[r.doc_id, "drop_stage"]
            assert r.ship_prev == man_a.loc[r.doc_id, "ship"]
    # unchanged docs are absent from the diff
    common = man_a.index.intersection(man_b.index)
    unchanged = [
        d
        for d in common
        if man_a.loc[d, "drop_stage"] == man_b.loc[d, "drop_stage"]
    ]
    assert not set(diff.doc_id) & set(unchanged)
    # funnel delta: entries - exits == shipped(B) - shipped(A)
    entered = int((diff.ship_cur & ~diff.ship_prev).sum())
    left = int((diff.ship_prev & ~diff.ship_cur).sum())
    assert entered - left == int(man_b.ship.sum()) - int(man_a.ship.sum())


# --- plan shapes -------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_r11_plan_shapes(spark, sf_dir):
    """Survivor policy: one components-artifact scan + one profile-artifact
    scan + a corpus scan that reads only (doc_id, n_chars) — never text —
    and the argmax is ONE aggregate (no window, no pairwise join).
    Packed: a pure shipped-dataset-artifact consumer, zero joins."""
    from exact_spark.operators.dedup import (
        corpus_release_packed,
        dedup_survivor_policy,
    )

    artifacts.path("dupcc", spark, sf_dir)
    artifacts.path("textprof", spark, sf_dir)
    artifacts.path("reldata", spark, sf_dir)

    plan = _plan(dedup_survivor_policy(spark, sf_dir))
    assert plan.count("exact_spark_dupcc_") == 1
    assert plan.count("exact_spark_textprof_") == 1
    assert plan.count("documents.parquet") == 1
    rs = [
        seg.split("\n")[0]
        for seg in plan.split("ReadSchema: ")[1:]
        if "documents.parquet" in plan
    ]
    doc_rs = [x for x in rs if "n_chars" in x]
    assert doc_rs and all("text" not in x for x in doc_rs)  # pruned corpus scan
    assert "Window" not in plan  # struct-max aggregate, not a ranking window
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(corpus_release_packed(spark, sf_dir))
    assert plan.count("exact_spark_reldata_") == 1
    assert "documents.parquet" not in plan
    assert plan.count("Join") == 0  # one artifact scan + one groupBy


# --- corpus_release_policy_delta ---------------------------------------------


def test_policy_delta_matches_manifest_recompute(spark, sf_dir):
    """Literal recompute: rebuild ship_policy in pandas from the manifest,
    the component map, and the policy survivors; every per-source cell
    must match, and sources with no duplicate groups see no delta."""
    from exact_spark.operators.dedup import (
        corpus_release_manifest,
        corpus_release_policy_delta,
        dedup_survivor_policy,
    )

    man = corpus_release_manifest(spark, sf_dir).toPandas().set_index("doc_id")
    comp = (
        artifacts.table("dupcc", spark, sf_dir)
        .toPandas()
        .set_index("doc_id")["component_id"]
    )
    pol = (
        dedup_survivor_policy(spark, sf_dir)
        .toPandas()
        .set_index("component_id")["survivor_policy_id"]
    )
    got = (
        corpus_release_policy_delta(spark, sf_dir)
        .toPandas()
        .set_index("source")
    )
    man["policy_keep"] = [
        (d not in comp.index) or (d == pol[comp[d]]) for d in man.index
    ]
    man["ship_policy"] = (
        man.in_pool
        & man.eval_source_keep
        & man.policy_keep
        & man.quality_keep
        & man.mix_keep
        & man.decon_keep
    )
    assert set(got.index) == set(man.source)
    for src, g in man.groupby("source"):
        r = got.loc[src]
        assert r.n_ship_min_id == int(g.ship.sum())
        assert r.n_ship_policy == int(g.ship_policy.sum())
        assert r.n_enter == int((g.ship_policy & ~g.ship).sum())
        assert r.n_leave == int((g.ship & ~g.ship_policy).sum())
        assert r.chars_min_id == g[g.ship].final_len.sum()
        assert r.chars_policy == g[g.ship_policy].final_len.sum()
    # global doc-count identity: policy swaps survivors WITHIN groups, so
    # the total ship-set size moves only by curation differences of the
    # swapped survivors — enter/leave reconcile exactly
    assert (
        got.n_ship_policy.sum() - got.n_ship_min_id.sum()
        == got.n_enter.sum() - got.n_leave.sum()
    )


# --- corpus_release_card -----------------------------------------------------


def test_release_card_reconciles_layers(spark):
    """The card's cells are exactly the other release reads' numbers: doc
    counts from the manifest, chars/tokens from the shipped dataset (==
    token accounting totals), drop splits partition the non-shipped,
    in-pool, non-eval-source docs."""
    from exact_spark.operators.dedup import (
        corpus_release_card,
        corpus_release_manifest,
        corpus_release_tokens,
    )

    card = corpus_release_card(spark, SF_DIR_MID).toPandas().iloc[0]
    man = corpus_release_manifest(spark, SF_DIR_MID).toPandas()
    tok = corpus_release_tokens(spark, SF_DIR_MID).toPandas()
    assert card.n_docs_raw == len(man)
    assert card.n_docs_shipped == int(man.ship.sum())
    assert card.ship_rate == man.ship.sum() / len(man)
    assert card.n_sources_raw == man.source.nunique()
    assert card.n_sources_shipped == man[man.ship].source.nunique()
    assert card.chars_raw == man.orig_len.sum()
    assert card.chars_shipped == tok.shipped_chars.sum()
    assert card.tokens_shipped == tok.shipped_tokens.sum()
    assert card.n_dropped_dedup == int(
        man.drop_stage.isin(["exact_dup", "near_dup"]).sum()
    )
    assert card.n_dropped_curation == int(
        man.drop_stage.isin(["quality", "mix", "decontamination"]).sum()
    )
    # stage partition: raw = shipped + holdout + eval_source + dedup + curation
    n_holdout = int((man.drop_stage == "eval_holdout").sum())
    n_evalsrc = int((man.drop_stage == "eval_source").sum())
    assert (
        card.n_docs_raw
        == card.n_docs_shipped
        + n_holdout
        + n_evalsrc
        + card.n_dropped_dedup
        + card.n_dropped_curation
    )


def test_merge_islands_keyed_equals_interval_merge(spark):
    """Property check of the by-benchmark decomposition's core identity,
    on randomized position sets (fixed seed): for ANY assignment of hit
    positions to benchmarks, island-merging per (benchmark, doc) and then
    interval-merging the union per doc equals island-merging the pooled
    positions per doc — i.e. per-benchmark span tables lose nothing and
    invent nothing relative to the pooled census."""
    import random

    from exact_spark.operators.dedup import _SUB_L, _merge_islands

    rng = random.Random(42)
    rows = []
    for doc in range(25):
        n = rng.randint(0, 40)
        positions = sorted(rng.sample(range(1, 2000), n)) if n else []
        for pos in positions:
            for bench in set(
                rng.choices(["a", "b", "c"], k=rng.randint(1, 3))
            ):
                rows.append((bench, doc, pos))
    df = spark.createDataFrame(rows, "benchmark string, doc_id long, pos long")

    per_bench = _merge_islands(df, keys=("benchmark", "doc_id")).collect()
    pooled = _merge_islands(df.select("doc_id", "pos").distinct()).collect()

    def merge(spans):
        out = []
        for s, e in sorted(spans):
            if out and s <= out[-1][1] + 1:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
        return [(s, e) for s, e in out]

    union: dict[int, list] = {}
    for r in per_bench:
        union.setdefault(r.doc_id, []).append((r.s, r.e))
    got = {d: merge(sp) for d, sp in union.items()}
    want: dict[int, list] = {}
    for r in pooled:
        want.setdefault(r.doc_id, []).append((r.s, r.e))
    want = {d: sorted(sp) for d, sp in want.items()}
    assert got == want
    # and every per-benchmark span is a maximal island of its own slice:
    # no two spans of one (benchmark, doc) overlap or sit within L of
    # each other (the island gap rule)
    per: dict[tuple, list] = {}
    for r in per_bench:
        per.setdefault((r.benchmark, r.doc_id), []).append((r.s, r.e))
    for sp in per.values():
        sp.sort()
        for (s1, e1), (s2, e2) in zip(sp, sp[1:]):
            assert s2 > e1 + 1  # disjoint, non-adjacent islands
