"""Round-12 optimization pins: curation-manifest artifact discipline,
join-strategy pins for the preferSortMergeJoin=false session conf
(VERDICT r11 item 8), and the streaming checkpoint-scratch env knob
(VERDICT r11 item 5) with its stale-dir sweep."""

from __future__ import annotations


def test_curation_manifest_salt_tracks_builder_code():
    """A change anywhere in the composed trio (filter pipeline, mix
    sampler, decontaminate_ngram — reached transitively from the
    registered builder) must re-fingerprint the artifact tag so consumers
    can never serve a stale manifest."""
    from exact_spark.artifacts import builder_salt
    from exact_spark.operators import text as text_mod

    base = builder_salt("text_curation_manifest")
    # builder_salt folds module-level semantic constants transitively;
    # perturb one that lives two hops away (text_filter_pipeline's
    # quality threshold) and confirm the digest moves
    old = text_mod._MIN_QUALITY
    text_mod._MIN_QUALITY = old + 0.001
    try:
        assert builder_salt("text_curation_manifest") != base
    finally:
        text_mod._MIN_QUALITY = old
    assert builder_salt("text_curation_manifest") == base


def test_release_manifest_consumes_curation_artifact(spark, sf_dir):
    """corpus_release_manifest's plan must read the curation manifest
    from the per-corpus artifact (one narrow parquet scan) instead of
    re-expanding the trio's lineage — the r11 plan carried documents x5;
    the composed-fresh floor is now documents x1 (the manifest's own
    md5-normalize pass)."""
    from exact_spark.operators.dedup import corpus_release_manifest

    plan = corpus_release_manifest(spark, sf_dir)._jdf.queryExecution().toString()
    assert "curman_" in plan  # the artifact scan
    # exactly one scan of the raw corpus: the md5-normalize keeper pass
    assert plan.count("documents.parquet") == 1


def test_shj_conf_join_strategy_pins(spark, sf_dir):
    """preferSortMergeJoin=false (session.py): the registry plans whose
    shuffle joins meet the planner's shuffled-hash size rule (build side
    at least 3x smaller than the probe side) pick shuffled-hash under the
    default conf, and the deliberate sort-merge demo keeps its hinted
    strategy. Joins of near-equal per-key sides (rel_join_cardinality_check)
    stay sort-merge by that rule, and plans that broadcast at this scale
    are not pinned."""
    from exact_spark.operators.dedup import decontaminate_by_benchmark
    from exact_spark.operators.relational import rel_order_priority_smj
    from exact_spark.operators.similarity import (
        sim_graph_pagerank,
        sim_threshold_sweep,
    )

    smj_demo = rel_order_priority_smj(spark, sf_dir)._jdf.queryExecution().toString()
    assert "SortMergeJoin" in smj_demo  # merge hint pins the demo

    for q in (decontaminate_by_benchmark, sim_graph_pagerank, sim_threshold_sweep):
        plan = q(spark, sf_dir)._jdf.queryExecution().toString()
        assert "ShuffledHashJoin" in plan, q.__name__
        assert "SortMergeJoin" not in plan, q.__name__


def test_stream_ckpt_dir_env(monkeypatch, tmp_path):
    """SPARK_GRAFT_CKPT_DIR points the streaming demos' per-run scratch
    (checkpoint dirs) at a caller-chosen filesystem; unset, tempfile's
    default is used unchanged."""
    from exact_spark.streaming import _work_dir

    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path / "ck"))
    d = _work_dir("exact_spark_test_")
    assert d.parent == tmp_path / "ck"
    assert d.is_dir()

    monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR")
    import tempfile

    d2 = _work_dir("exact_spark_test_")
    try:
        assert str(d2.parent) == tempfile.gettempdir()
    finally:
        import shutil

        shutil.rmtree(d2, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


def test_sweep_stale_work_dirs_is_age_gated(monkeypatch, tmp_path):
    """A crashed demo's scratch dir under SPARK_GRAFT_CKPT_DIR is reclaimed
    once it ages past the gate; recent dirs (a concurrent run's live
    checkpoint) and foreign entries stay."""
    import os
    import time

    from exact_spark import streaming

    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(tmp_path))
    stale, live, foreign = (
        tmp_path / "exact_spark_stream_a",
        tmp_path / "exact_spark_stream_b",
        tmp_path / "other",
    )
    for d in (stale, live, foreign):
        (d / "offsets").mkdir(parents=True)
    old = time.time() - streaming._WORK_DIR_STALE_MIN_AGE_S - 60
    for d in (stale, foreign):
        os.utime(d, (old, old))

    streaming.sweep_stale_work_dirs()
    assert not stale.exists()
    assert live.exists() and foreign.exists()
