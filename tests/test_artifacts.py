"""Per-corpus artifact materialization mechanics (exact_spark/artifacts.py):
fingerprint sensitivity, build-once semantics, race survival, and the
declared artifacts' served == fresh equality."""

from __future__ import annotations

import pathlib

import pytest

from exact_spark.artifacts import ARTIFACTS, materialize, source_fingerprint
from exact_spark.registry import _load_all

_load_all()  # fills ARTIFACTS for the parametrized served == fresh pin


def _touch(p: pathlib.Path, data: bytes = b"x") -> None:
    p.write_bytes(data)


def test_fingerprint_tracks_content_and_layout(tmp_path):
    src = tmp_path / "t.parquet"
    src.mkdir()
    _touch(src / "part-0", b"aaa")
    fp1 = source_fingerprint(src)
    assert fp1 == source_fingerprint(src)  # stable
    _touch(src / "part-0", b"bbbb")  # size change
    fp2 = source_fingerprint(src)
    assert fp2 != fp1
    _touch(src / "part-1", b"c")  # new file
    assert source_fingerprint(src) != fp2


def test_materialize_builds_once(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "s.parquet"
    _touch(src, b"data")
    calls = []

    def build(staging: str) -> None:
        calls.append(staging)
        d = pathlib.Path(staging)
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")
        (d / "out").write_text("v1")

    p1 = materialize(src, "unit", build)
    p2 = materialize(src, "unit", build)
    assert p1 == p2 and len(calls) == 1
    assert (pathlib.Path(p1) / "out").read_text() == "v1"
    # source change -> new fingerprint -> rebuild into a DIFFERENT dir
    _touch(src, b"data2")
    p3 = materialize(src, "unit", build)
    assert p3 != p1 and len(calls) == 2


def test_materialize_loser_discards_staging(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "r.parquet"
    _touch(src, b"data")

    def racing_build(staging: str) -> None:
        # simulate a concurrent builder winning while we were building:
        # the canonical dir appears before our rename
        d = pathlib.Path(staging)
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")
        (d / "out").write_text("loser")
        winner = pathlib.Path(str(d.parent / d.name.split(".")[0]))
        winner.mkdir(parents=True, exist_ok=True)
        (winner / "_SUCCESS").write_text("")
        (winner / "out").write_text("winner")

    p = materialize(src, "race", racing_build)
    assert (pathlib.Path(p) / "out").read_text() == "winner"
    # the loser's staging dir was discarded
    leftovers = [x for x in pathlib.Path(tmp_path).glob("exact_spark_race_*.tmp")]
    assert leftovers == []


def test_materialize_reinstates_winner_published_after_probe(tmp_path, monkeypatch):
    """TOCTOU guard: a COMPLETE artifact that appears at `base` after the
    crashed-leftover probe but before any delete must survive — the loser
    renames it aside, sees _SUCCESS, and reinstates it instead of deleting
    a freshly published winner (ADVICE r05, artifacts.py)."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "s.parquet"
    _touch(src, b"data")

    def build_with_late_winner(staging: str) -> None:
        d = pathlib.Path(staging)
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")
        (d / "out").write_text("loser")
        # a concurrent winner publishes a COMPLETE artifact at base while
        # this builder is still working — by the time materialize probes
        # base it exists WITH _SUCCESS, exercising the rename-aside path
        winner = pathlib.Path(str(d.parent / d.name.split(".")[0]))
        winner.mkdir(parents=True, exist_ok=True)
        (winner / "_SUCCESS").write_text("")
        (winner / "out").write_text("winner")

    p = materialize(src, "toctou", build_with_late_winner)
    assert (pathlib.Path(p) / "_SUCCESS").exists()
    assert (pathlib.Path(p) / "out").read_text() == "winner"
    # no stale or staging dirs leak
    assert list(pathlib.Path(tmp_path).glob("exact_spark_toctou_*.stale")) == []
    assert list(pathlib.Path(tmp_path).glob("exact_spark_toctou_*.tmp")) == []


def test_materialize_clears_crashed_partial_build(tmp_path, monkeypatch):
    """A leftover at base WITHOUT _SUCCESS (a crashed past build) is moved
    aside and discarded; the new build publishes."""
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "t.parquet"
    _touch(src, b"data")
    from exact_spark.artifacts import source_fingerprint as _fp

    crashed = tmp_path / f"exact_spark_crash_{_fp(src)}"
    crashed.mkdir()
    (crashed / "part-0").write_text("incomplete")  # no _SUCCESS

    def build(staging: str) -> None:
        d = pathlib.Path(staging)
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")
        (d / "out").write_text("fresh")

    p = materialize(src, "crash", build)
    assert (pathlib.Path(p) / "out").read_text() == "fresh"
    assert not (pathlib.Path(p) / "part-0").exists()
    assert list(pathlib.Path(tmp_path).glob("exact_spark_crash_*.stale")) == []


def test_memo_put_fifo_eviction():
    from exact_spark.artifacts import memo_put

    memo: dict = {}
    for i in range(40):
        memo_put(memo, f"k{i}", i, cap=32)
    assert len(memo) == 32
    assert "k0" not in memo and "k7" not in memo  # oldest evicted
    assert memo["k39"] == 39 and memo["k8"] == 8
    # re-putting an existing key never evicts
    memo_put(memo, "k39", 99, cap=32)
    assert len(memo) == 32 and memo["k39"] == 99


def test_memo_put_concurrent_eviction():
    """Threads at cap at once: each check-evict-insert is atomic, so no
    two evict the same oldest key and the cap holds."""
    import sys
    import threading

    from exact_spark.artifacts import memo_put

    memo: dict = {}
    errors: list[BaseException] = []

    def put(t: int) -> None:
        try:
            for i in range(200):
                memo_put(memo, (t, i), i, cap=4)
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        threads = [threading.Thread(target=put, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(memo) <= 4


def _done(d: pathlib.Path, age_s: float = 0.0) -> pathlib.Path:
    import os
    import time

    d.mkdir(parents=True)
    (d / "_SUCCESS").write_text("")
    if age_s:
        old = time.time() - age_s
        os.utime(d / "_SUCCESS", (old, old))
    return d


def test_gc_removes_stale_salt_siblings_only(tmp_path, monkeypatch):
    """ADVICE r09: a cache miss for a salted tag removes COMPLETED sibling
    artifacts with the same prefix + corpus fingerprint but a different
    8-hex salt (the builder was edited; nothing can serve them) once they
    age past the cross-version grace window (ADVICE r10), and leaves
    everything else alone — other fingerprints, other prefixes, incomplete
    builds, RECENT old-salt dirs (a pre-edit process may still read its
    own salt), and unsalted tags."""
    import tempfile

    from exact_spark import artifacts as A

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "g.parquet"
    _touch(src, b"data")
    fp = source_fingerprint(src)

    old = A._GC_STALE_SALT_MIN_AGE_S + 60
    stale = _done(tmp_path / f"exact_spark_pairs_x_00000000_{fp}", age_s=old)
    recent = _done(tmp_path / f"exact_spark_pairs_x_22222222_{fp}")
    other_fp = _done(
        tmp_path / f"exact_spark_pairs_x_00000000_{'f' * 12}", age_s=old
    )
    other_prefix = _done(tmp_path / f"exact_spark_knng_00000000_{fp}", age_s=old)
    incomplete = tmp_path / f"exact_spark_pairs_x_11111111_{fp}"
    incomplete.mkdir()  # no _SUCCESS: a live concurrent build, untouched

    def build(staging: str) -> None:
        d = pathlib.Path(staging)
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")

    p = materialize(src, "pairs_x_aaaaaaaa", build)
    assert (pathlib.Path(p) / "_SUCCESS").exists()
    assert not stale.exists()  # GC'd: same prefix+fp, different salt, aged out
    assert recent.exists()  # inside the cross-version grace window
    assert other_fp.exists() and other_prefix.exists() and incomplete.exists()
    # the freshly published artifact itself survives a SECOND miss-free call
    assert materialize(src, "pairs_x_aaaaaaaa", build) == p
    assert (pathlib.Path(p) / "_SUCCESS").exists()
    # an UNSALTED tag never GCs (no salt segment to match on)
    _done(tmp_path / f"exact_spark_unit_extra_{fp}", age_s=old)
    materialize(src, "unit", build)
    assert (tmp_path / f"exact_spark_unit_extra_{fp}").exists()


def test_gc_expired_fingerprints_sweeps_idle_artifacts(tmp_path, monkeypatch):
    """VERDICT r10 item 7: a cache miss also sweeps COMPLETED artifacts of
    ANY fingerprint that have gone unserved past the idle gate (retired
    corpus snapshots) — while recently-served dirs, recently-built dirs,
    and incomplete dirs all survive. Serving an artifact refreshes its
    _SERVED stamp, so actively-used corpora never expire."""
    import tempfile
    import time

    from exact_spark import artifacts as A

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "g.parquet"
    _touch(src, b"data")

    idle = A._GC_EXPIRED_FP_MAX_IDLE_S + 60
    expired = _done(tmp_path / f"exact_spark_relic_00000000_{'a' * 12}", age_s=idle)
    fresh_build = _done(tmp_path / f"exact_spark_relic_00000000_{'b' * 12}")
    served = _done(tmp_path / f"exact_spark_relic_00000000_{'c' * 12}", age_s=idle)
    (served / "_SERVED").write_text("")  # stamped recently: in active use
    incomplete = tmp_path / f"exact_spark_relic_00000000_{'d' * 12}"
    incomplete.mkdir()
    old_t = time.time() - idle
    import os

    os.utime(incomplete, (old_t, old_t))

    def build(staging: str) -> None:
        d = pathlib.Path(staging)
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")

    p = materialize(src, "sweepunit", build)
    assert not expired.exists()  # idle past the gate: swept
    assert fresh_build.exists() and served.exists() and incomplete.exists()
    # a cache HIT touches the _SERVED stamp (the sweep's recency signal)
    assert materialize(src, "sweepunit", build) == p
    assert (pathlib.Path(p) / "_SERVED").exists()


def test_builder_salt_sees_transitive_helpers():
    """ADVICE r09: the salt digest walks co_names transitively, so an edit
    to a helper the registered builder merely CALLS (not one passed via
    ``helpers``) still re-fingerprints the artifact."""
    import exact_spark.operators.dedup as dd
    from exact_spark.artifacts import builder_salt
    from exact_spark.registry import _load_all

    _load_all()
    before = builder_salt("dedup_minhash_lsh")
    # simulate a Spark-side-only edit of a helper the builder reaches by
    # name (dedup_minhash_lsh -> _lsh_bands): swap in a copy with a
    # different source body
    orig = dd._lsh_bands

    def _lsh_bands(spark, sf_dir):  # pragma: no cover - digest fodder
        return orig(spark, sf_dir)  # EDITED

    try:
        dd._lsh_bands = _lsh_bands
        assert builder_salt("dedup_minhash_lsh") != before
    finally:
        dd._lsh_bands = orig
    assert builder_salt("dedup_minhash_lsh") == before  # restore exact


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


# --- declared artifacts -------------------------------------------------------


def test_declare_rejects_duplicates_and_ambiguous_builders(monkeypatch):
    from exact_spark import artifacts as A

    monkeypatch.setattr(A, "ARTIFACTS", {})
    A.declare("unit", "documents.parquet", lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="duplicate"):
        A.declare("unit", "documents.parquet", lambda spark, sf_dir: None)
    with pytest.raises(TypeError):
        A.declare("neither", "documents.parquet")
    with pytest.raises(TypeError):
        A.declare("both", "x", lambda s, d: None, build=lambda s, d, st: None)


def test_declared_salt_computed_once_per_process(monkeypatch, tmp_path):
    """The transitive salt walk costs milliseconds; a served artifact (the
    canonical table on every run-query request) must not pay it per read."""
    from exact_spark import artifacts as A

    calls = []
    monkeypatch.setattr(A, "ARTIFACTS", {})
    monkeypatch.setattr(A, "_SALTS", {})
    monkeypatch.setattr(
        A, "builder_salt", lambda *q, helpers=(): calls.append(q) or "0123abcd"
    )
    monkeypatch.setattr(A, "materialize", lambda source, tag, build: tag)
    A.declare("unit", "documents.parquet", lambda spark, sf_dir: None)
    assert A.path("unit", None, str(tmp_path)) == "unit_0123abcd"
    assert A.path("unit", None, str(tmp_path)) == "unit_0123abcd"
    assert len(calls) == 1


def _fresh_and_served(name: str, spark, sf_dir: str):
    """(fresh builder output, served artifact) as DataFrames. The two
    custom-layout declarations store a known frame at a known place."""
    from exact_spark import artifacts as A
    from exact_spark.operators import dedup, timeseries

    if name == "canon":
        fresh = timeseries._canonical_compute(spark, sf_dir)
        return fresh, A.table(name, spark, sf_dir)
    if name == "relsnap":
        served = spark.read.parquet(A.path(name, spark, sf_dir) + "/documents.parquet")
        return dedup._prev_snapshot_docs(spark, sf_dir), served
    return A.ARTIFACTS[name].frame(spark, sf_dir), A.table(name, spark, sf_dir)


@pytest.mark.parametrize("name", sorted(ARTIFACTS))
def test_served_artifact_equals_fresh_build(spark, sf_dir, name):
    """Every declared artifact serves EXACTLY what its builder computes
    fresh (every builder is deterministic, so this is equality, not
    approximation) — the pin each consumer's composed DuckDB oracle relies
    on. A builder that itself reads an artifact compares against a second
    evaluation of the builder."""
    fresh_df, served_df = _fresh_and_served(name, spark, sf_dir)
    fresh = fresh_df.toPandas()
    served = served_df.toPandas()
    cols = list(fresh.columns)
    assert list(served.columns[: len(cols)]) == cols  # canon appends __date
    f = fresh.sort_values(cols, ignore_index=True)
    s = served[cols].sort_values(cols, ignore_index=True)
    assert len(f) > 0
    assert s.equals(f)


def test_served_canonical_table_survives_expired_fingerprint_sweep(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A cache hit on the canonical table refreshes its _SERVED stamp, so
    another artifact's cache miss never sweeps a canonical table that is
    still being served, however old its build."""
    import os
    import shutil
    import tempfile
    import time

    from exact_spark import artifacts as A
    from exact_spark.operators.timeseries import canonical_table_path

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "sf"
    src.mkdir()
    shutil.copy(pathlib.Path(sf_dir) / "events.parquet", src / "events.parquet")
    canon = pathlib.Path(canonical_table_path(spark, str(src)))
    old = time.time() - A._GC_EXPIRED_FP_MAX_IDLE_S - 60
    for stamp in ("_SUCCESS", "_SERVED"):
        (canon / stamp).touch()
        os.utime(canon / stamp, (old, old))

    assert canonical_table_path(spark, str(src)) == str(canon)  # served once

    other = tmp_path / "o.parquet"
    _touch(other, b"data")

    def build(staging: str) -> None:
        d = pathlib.Path(staging)
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")

    materialize(other, "unit", build)  # a cache miss runs the sweep
    assert (canon / "_SUCCESS").exists()
