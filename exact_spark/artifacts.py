"""Per-corpus materialized artifacts.

A production engine builds expensive derived structures ONCE per corpus
version and serves them for months: the canonical job table, the kNN
graph, duplicate-group components, staged stream-replay sources. This
module holds the shared mechanics: a content fingerprint of the source
parquet (file names + sizes + mtimes — cheap, no data read), a
/tmp-scoped artifact directory keyed by that fingerprint, and a
race-safe build protocol (build into a staging dir, atomic rename, the
loser of a concurrent race discards its copy). On a cluster the same
protocol targets a shared object-store prefix instead of tempfile.

Consumers re-read the artifact as plain parquet, so Catalyst still gets
column pruning and predicate pushdown on every serve-side read.

Every per-corpus artifact except the streaming demos' staged replay
slices (which call :func:`materialize` directly) is DECLARED once
(:func:`declare`, placed next to its builder, like
``registry.register``): a name (the tag prefix), the source
table its fingerprint is taken from, the builder, and the registered
queries/helpers whose code salts the tag. :func:`path` and :func:`table`
serve any declaration; :data:`ARTIFACTS` is the list a warm loop walks.

Growth policy: artifact dirs live under ``tempfile.gettempdir()`` keyed
by corpus fingerprint. A re-fingerprinted corpus (new data at the same
path) simply abandons the old dir — this process never deletes published
artifacts (readers may hold them), so disk usage is bounded by the
number of corpus VERSIONS seen between tmp-dir cleanups, not by query
count; the host's tmp reaper (or an object-store lifecycle rule on a
cluster) reclaims abandoned fingerprints. Driver-side in-memory memos of
per-corpus derived state use :func:`memo_put`, which FIFO-evicts beyond
``_MEMO_CAP`` corpora so a long-lived shared driver cannot grow them
monotonically.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable
from dataclasses import dataclass


_MEMO_CAP = 32  # corpora simultaneously warm per driver process
# Every dict that ever went through memo_put. Intentionally strong refs:
# product memos are module-level and immortal anyway; the id-set makes
# the per-put membership check O(1).
_ALL_MEMOS: list[dict] = []
_ALL_MEMO_IDS: set[int] = set()
# one check-evict-insert at a time: two threads at cap would otherwise
# evict the same oldest key, or iterate a memo another thread resizes
_MEMO_LOCK = threading.Lock()


def memo_put(memo: dict, key, value, cap: int = _MEMO_CAP):
    """Insert into a process-lifetime, corpus-keyed memo dict with FIFO
    eviction at ``cap`` entries. Every value is rebuildable from its
    corpus (the memo is a warm cache, not state), so evicting the oldest
    corpus is always safe; without a bound a long-lived shared driver
    serving many corpus versions grows these dicts monotonically."""
    with _MEMO_LOCK:
        if id(memo) not in _ALL_MEMO_IDS:
            _ALL_MEMO_IDS.add(id(memo))
            _ALL_MEMOS.append(memo)
        if key not in memo and len(memo) >= cap:
            memo.pop(next(iter(memo)), None)
        memo[key] = value
    return value


def snapshot_corpus_memos() -> list[dict]:
    """Shallow key->value copies of every memo_put-tracked memo,
    positionally aligned with the (append-only) internal registry — pair
    with :func:`evict_new_memo_entries` to roll memo state back to this
    point. Copying VALUES (not just key sets) lets the rollback also
    reinstate entries a run's memo_put FIFO-displaced at cap, so a retry
    on a near-cap driver is never COLDER than the first run was."""
    return [dict(m) for m in _ALL_MEMOS]


def evict_new_memo_entries(snapshot: list[dict]) -> int:
    """Restore every memo to exactly its ``snapshot`` state (drop entries
    added since, reinstate entries displaced or overwritten since; memos
    created after the snapshot are emptied), returning how many were
    dropped.

    Benchmarks use the snapshot/evict pair to re-measure a query under
    the cache state its FIRST measurement saw: a retry served from a memo
    that first run populated would record a structurally cheaper
    computation (absorbing a real regression in a memoized builder).
    Scoping the rollback to the first run's OWN changes keeps memos
    warmed by earlier queries intact — a global clear would force every
    later memo consumer cold, manufacturing the phantom over-2x flags the
    retry exists to suppress. Disk artifacts (materialize) are
    intentionally left warm — they were warm for the first run too."""
    n = 0
    for i, m in enumerate(_ALL_MEMOS):
        want = snapshot[i] if i < len(snapshot) else {}
        n += sum(1 for k in m if k not in want)
        # Rebuild in snapshot ITERATION order, not by patching in place:
        # reinstating a displaced key by assignment would append it, so a
        # later at-cap memo_put could FIFO-evict a different "oldest" entry
        # than the first run's would have — the retry must see identical
        # cache BEHAVIOR, not just identical contents.
        m.clear()
        m.update(want)
    return n


def source_fingerprint(source: str | pathlib.Path) -> str:
    """Cheap content fingerprint of a parquet file/dir: relative names,
    sizes, and mtimes of every file under it."""
    src = pathlib.Path(source).resolve()
    files = sorted(src.rglob("*")) if src.is_dir() else [src]
    parts = [
        f"{p.relative_to(src.parent)}:{p.stat().st_size}:{p.stat().st_mtime_ns}"
        for p in files
        if p.is_file()
    ]
    return hashlib.md5((str(src) + "|" + "|".join(parts)).encode()).hexdigest()[:12]


def _fold_transitive(fn, parts: list, seen: set) -> None:
    """Append ``fn``'s source plus everything it transitively references
    by global name inside exact_spark — helper FUNCTIONS (their sources,
    recursively) and module-level CONSTANTS (their reprs) — to ``parts``.

    Invariant: an edit to any helper the builder reaches re-salts it. A
    salt that digests only the explicitly-passed helpers misses a
    Spark-side edit to a helper the builder calls (sim_knn_graph's
    content lives in sim_neardup_lsh; the pair builders' lives in _lsh_bands/_shingled/
    _self_pairs), so a warm artifact could serve stale content until a
    content-equality pin happened to run. Walking ``__code__.co_names``
    (including nested code objects — lambdas, comprehensions) makes the
    digest see every reachable helper and semantic constant without call
    sites having to enumerate them. ``fn`` is unwrapped first: a registered
    query's ``register`` wrapper carries the registry's code and globals,
    not the query's."""
    import inspect
    import types

    fn = inspect.unwrap(fn)
    key = getattr(fn, "__qualname__", None), getattr(fn, "__module__", None)
    if key in seen:
        return
    seen.add(key)
    try:
        parts.append(inspect.getsource(fn))
    except (OSError, TypeError):  # builtins / C-level: name alone suffices
        parts.append(repr(key))
        return
    g = getattr(fn, "__globals__", {})
    names: set[str] = set()
    stack = [fn.__code__]
    while stack:
        code = stack.pop()
        names.update(code.co_names)
        stack.extend(c for c in code.co_consts if isinstance(c, types.CodeType))
    for name in sorted(names):
        if name not in g:
            continue
        val = g[name]
        if isinstance(val, types.FunctionType) and getattr(
            val, "__module__", ""
        ).startswith("exact_spark"):
            _fold_transitive(val, parts, seen)
        elif isinstance(val, (int, float, str, bytes, bool, tuple, frozenset)):
            # module-level semantic constants (caps, band counts, seeds)
            parts.append(f"{name}={val!r}")


def builder_salt(*query_names: str, helpers: tuple = ()) -> str:
    """Short digest of the registered builder spec(s) behind an artifact,
    folded into the artifact tag so a BUILDER CODE change re-fingerprints
    the artifact automatically (keying only on the corpus fingerprint
    lets a warm artifact silently serve a stale pair table after the
    builder is edited — the consumers' content-equality pins only catch
    that in an environment where the stale artifact survives into a test
    run). The digest covers BOTH the registered oracle SQL
    (which interpolates every semantic parameter: thresholds, band
    counts, hash families) AND the Spark builder's function source — a
    Spark-side-only change (e.g. the gram-hash keying, which the oracle
    deliberately spells differently) must also re-fingerprint, and the
    SQL alone cannot see it. The walk is TRANSITIVE: every
    exact_spark function the builder reaches by name joins the digest,
    plus module-level constants, so thin registered wrappers no longer
    hide their content-bearing helpers; explicit ``helpers`` remain for
    functions reached dynamically (dispatch dicts, getattr)."""
    import inspect

    from exact_spark.registry import REGISTRY

    parts: list = []
    seen: set = set()
    for q in query_names:
        spec = REGISTRY[q]
        parts.append(spec.sql or "")
        _fold_transitive(spec.fn, parts, seen)
    for h in helpers:
        _fold_transitive(h, parts, seen)
    return hashlib.md5("||".join(parts).encode()).hexdigest()[:8]


_SALT_RE = None  # compiled lazily; module-level so tests can reach it

# Age gates for the two GC paths below (seconds; tests monkeypatch).
# Stale-salt: "no current-code path can be reading an old-salt artifact"
# holds only WITHIN one code version — a concurrent process still running
# the pre-edit code can be mid-read of its old-salt dir when a new-code
# process GCs it. The age gate bounds that cross-version race
# to processes that outlive the gate: a dir built within the last hour is
# left alone (its pre-edit builder is plausibly still alive), older ones
# are reclaimed on the next cache miss.
_GC_STALE_SALT_MIN_AGE_S = 3600.0
# Expired-fingerprint sweep: artifacts of RETIRED corpus snapshots (fp
# matches no current source) must not accumulate until the host tmp
# reaper runs. Recency is tracked by a _SERVED stamp
# touched on every cache hit — build mtime alone is NOT disuse evidence
# (a months-old artifact can be served daily) — and dirs unserved for a
# day are reclaimed. Concurrently-live corpora (other scale factors, other
# projects' snapshots) keep their stamps fresh and are never touched.
_GC_EXPIRED_FP_MAX_IDLE_S = 86400.0


def _touch_served(base: pathlib.Path) -> None:
    """Refresh the artifact's last-served stamp (best-effort)."""
    try:
        (base / "_SERVED").touch()
    except OSError:
        pass


def _gc_stale_salts(tag: str, fp: str) -> None:
    """Best-effort removal of COMPLETED sibling artifacts that differ from
    ``tag`` only in the trailing builder-salt segment (every builder edit
    mints a new salted tag, and without GC the orphaned
    exact_spark_<prefix>_<oldsalt>_<fp> dirs accumulate in the temp dir).
    Runs only on a cache miss for the CURRENT salt, and only touches dirs
    with the same prefix + same corpus fingerprint + a different 8-hex
    salt + age beyond _GC_STALE_SALT_MIN_AGE_S — within one code version
    the old salt is unreachable, and the age gate covers the cross-version
    window where a long-lived pre-edit process could still be reading its
    own salt. Same-salt concurrent builds are untouched. Incomplete dirs
    (no _SUCCESS) are left for materialize's own crashed-build handling."""
    import re
    import time

    global _SALT_RE
    if _SALT_RE is None:
        _SALT_RE = re.compile(r"^(.*)_([0-9a-f]{8})$")
    m = _SALT_RE.match(tag)
    if not m:
        return  # unsalted tag: nothing to GC against
    prefix, salt = m.groups()
    tmp = pathlib.Path(tempfile.gettempdir())
    pat = re.compile(
        rf"^exact_spark_{re.escape(prefix)}_([0-9a-f]{{8}})_{re.escape(fp)}$"
    )
    now = time.time()
    for d in tmp.glob(f"exact_spark_{prefix}_*_{fp}"):
        g = pat.match(d.name)
        if not (g and g.group(1) != salt and (d / "_SUCCESS").exists()):
            continue
        try:
            age = now - (d / "_SUCCESS").stat().st_mtime
        except OSError:
            continue  # vanished concurrently
        if age >= _GC_STALE_SALT_MIN_AGE_S:
            shutil.rmtree(d, ignore_errors=True)


def _gc_expired_fingerprints(current_dir_name: str) -> None:
    """Best-effort sweep of COMPLETED artifacts that have not been SERVED
    within _GC_EXPIRED_FP_MAX_IDLE_S — the retired-corpus-snapshot class
    the stale-salt GC (same fp only) cannot reach.
    Runs only on a cache miss (rare), never touches the artifact being
    built, and uses the last-served stamp (falling back to _SUCCESS mtime
    for pre-stamp dirs) so actively-served corpora of ANY fingerprint are
    immune regardless of build age. The cross-version deletion race noted
    on _gc_stale_salts applies here too, bounded much harder by the
    one-day idle gate."""
    import time

    tmp = pathlib.Path(tempfile.gettempdir())
    now = time.time()
    for d in tmp.glob("exact_spark_*"):
        if d.name == current_dir_name or not (d / "_SUCCESS").exists():
            continue
        stamp = d / "_SERVED"
        probe = stamp if stamp.exists() else d / "_SUCCESS"
        try:
            idle = now - probe.stat().st_mtime
        except OSError:
            continue  # vanished concurrently
        if idle >= _GC_EXPIRED_FP_MAX_IDLE_S:
            shutil.rmtree(d, ignore_errors=True)


def materialize(
    source: str | pathlib.Path,
    tag: str,
    build: Callable[[str], None],
) -> str:
    """Return the path of the ``tag`` artifact derived from ``source``,
    building it once per source fingerprint.

    ``build(staging_path)`` must write a parquet dataset (with _SUCCESS)
    at ``staging_path``; it runs only on a cache miss. Concurrent
    builders race safely: both build, one rename wins, the loser's
    staging dir is discarded.
    """
    fp = source_fingerprint(source)
    base = pathlib.Path(tempfile.gettempdir()) / f"exact_spark_{tag}_{fp}"
    if (base / "_SUCCESS").exists():
        _touch_served(base)
        return str(base)
    _gc_stale_salts(tag, fp)
    _gc_expired_fingerprints(base.name)
    staging = base.with_name(base.name + "." + uuid.uuid4().hex[:8] + ".tmp")
    build(str(staging))
    # Publication order matters: a COMPLETED artifact (base/_SUCCESS) is
    # never deleted — a concurrent loser discards its own staging instead
    # (deleting the winner's copy would break a third consumer mid-read).
    # Only an INCOMPLETE leftover (no _SUCCESS: a crashed past build) is
    # cleared before the rename, and a rename collision re-checks who won.
    if (base / "_SUCCESS").exists():  # concurrent builder won the race
        shutil.rmtree(staging, ignore_errors=True)
        return str(base)
    if base.exists():  # leftover with no _SUCCESS observed (crashed build?)
        # Never rmtree `base` in place: between the _SUCCESS probe above
        # and a delete, a concurrent builder's atomic rename could publish
        # a COMPLETED artifact there. Rename it aside first — if the moved
        # dir turns out to be complete, it was a fresh winner: reinstate it
        # and discard our staging copy instead.
        stale = base.with_name(base.name + "." + uuid.uuid4().hex[:8] + ".stale")
        try:
            os.rename(base, stale)
        except OSError:
            pass  # vanished or re-owned concurrently; the rename below decides
        else:
            if (stale / "_SUCCESS").exists():
                try:
                    os.rename(stale, base)
                    shutil.rmtree(staging, ignore_errors=True)
                    return str(base)
                except OSError:
                    pass  # base reoccupied by yet another winner
            shutil.rmtree(stale, ignore_errors=True)
    try:
        os.rename(staging, base)
    except OSError:
        if (base / "_SUCCESS").exists():  # lost the rename race
            shutil.rmtree(staging, ignore_errors=True)
        else:
            raise
    return str(base)


# --- declared artifacts -------------------------------------------------------


@dataclass(frozen=True)
class Artifact:
    name: str  # tag prefix: exact_spark_<name>_<salt>_<fp>
    source: str  # table file under sf_dir whose fingerprint keys the artifact
    frame: Callable | None  # (spark, sf_dir) -> DataFrame stored as plain parquet
    build: Callable | None  # (spark, sf_dir, staging) -> None for a custom layout
    queries: tuple[str, ...]  # registered specs folded into the salt
    helpers: tuple  # extra functions folded into the salt


#: name -> declaration, in declaration (import) order.
ARTIFACTS: dict[str, Artifact] = {}
#: name -> builder salt, computed on the first serve of each process (the
#: transitive source walk costs 3-21 ms, too much to pay on every read).
_SALTS: dict[str, str] = {}


def declare(
    name: str,
    source: str,
    frame: Callable | None = None,
    *,
    build: Callable | None = None,
    queries: tuple[str, ...] = (),
    helpers: tuple = (),
) -> None:
    """Declare the ``name`` artifact derived from ``sf_dir/source``.

    Give exactly one builder: ``frame(spark, sf_dir)`` returns the
    DataFrame to store as plain parquet; ``build(spark, sf_dir, staging)``
    writes a custom layout (with _SUCCESS) itself. A builder that reads
    another artifact serves it through :func:`table`, which builds it on
    demand, so declarations carry no ordering. The tag's salt digests the
    ``queries``' SQL and code, the ``helpers`` and the builder."""
    if name in ARTIFACTS:
        raise ValueError(f"duplicate artifact name {name!r}")
    if (frame is None) == (build is None):
        raise TypeError(f"artifact {name!r}: give exactly one of frame= or build=")
    ARTIFACTS[name] = Artifact(
        name, source, frame, build, tuple(queries), tuple(helpers)
    )


def path(name: str, spark, sf_dir: str) -> str:
    """Path of the declared ``name`` artifact for ``sf_dir``, built on a
    cache miss."""
    a = ARTIFACTS[name]
    salt = _SALTS.get(name)
    if salt is None:
        # helpers before the builder: a builder global patched at run time
        # (a tracing wrapper) then cannot reorder the digest
        salt = _SALTS[name] = builder_salt(
            *a.queries, helpers=(*a.helpers, a.frame or a.build)
        )

    def build(staging: str) -> None:
        if a.build is not None:
            a.build(spark, sf_dir, staging)
        else:
            a.frame(spark, sf_dir).write.mode("overwrite").parquet(staging)

    return materialize(
        pathlib.Path(sf_dir).resolve() / a.source, f"{name}_{salt}", build
    )


def table(name: str, spark, sf_dir: str):
    """The declared ``name`` artifact served as a (memoized, lazy) parquet
    scan; content equals its builder's fresh output."""
    from exact_spark.io import read_parquet_memo

    return read_parquet_memo(spark, path(name, spark, sf_dir))
