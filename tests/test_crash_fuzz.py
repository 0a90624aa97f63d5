"""Every-prefix crash fuzz over the signature store's COMMIT-PATH
filesystem-op sequences (r15 verdict task 4).

The store's crash story rests on a specific op ORDER (stage →
atomic rename → GC; markers ride the swap; parked ``__old`` recovery
before mutation). The unit scenarios pin individual crash STATES;
this fuzz derives the states from the real sequences instead: it
wraps the Hadoop ``FileSystem`` handle behind ``_hadoop_fs`` so that,
for every prefix k of the MUTATING ops (rename / delete / mkdirs /
create) a maintenance call performs, run k+1 dies at op k+1 — then
runs the documented recovery (re-run the same call, same owner — the
lease adoption path) and asserts the final on-disk state is
byte-equivalent to a never-crashed run.

Only driver-side fs ops are interceptable (Spark's own parquet task
commits happen JVM-side) — which is exactly the surface under test:
the staging write either completes with ``_SUCCESS`` or is never
read (pinned by the ``_is_complete`` unit tests); everything
crash-ORDER-sensitive is driver-side.

Scenarios (the r15-verdict list — the fs-op machinery `1fe33c8`
added or reshaped):

- S1 ``append_batch``: the delta commit path (staging-suffix
  reservation + per-family sequential commit + swap).
- S2 ``compact``: marker-ledger publish riding the base swap,
  physical delta-dir GC, and the folded-``__old`` leftover reclaim.
- S3 ``ivf_append``: the second commit path (cell-partitioned epoch
  delta, staging suffix + swap).
- S4 ``ivf_retrain`` with the exclude epoch parked at ``__old``:
  parked-exclude recovery, centroid+index double swap, post-swap
  exclude re-assign.

Soak tier: the enumeration runs each scenario's call 2×M times
(M = mutating-op count, asserted < 120) — multi-minute by design.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pytest

from conftest import local_df

from b3_analytics_engine_spark.signature_store import SignatureStore

pytestmark = pytest.mark.soak


class _Killed(BaseException):
    """Simulated hard kill. BaseException so no library ``except
    Exception`` can swallow it — after the kill point, NOTHING else
    may mutate the filesystem (a real SIGKILL stops the process)."""


_MUTATORS = ("rename", "delete", "mkdirs", "create")


class _KillFS:
    """Proxy over a py4j Hadoop FileSystem: passes reads through,
    counts mutating ops, and — once the shared budget is exhausted —
    raises :class:`_Killed` on every further mutating op."""

    def __init__(self, real, state: dict):
        self._real = real
        self._state = state

    def __getattr__(self, name):
        attr = getattr(self._real, name)
        if name not in _MUTATORS:
            return attr

        def wrapped(*args):
            st = self._state
            if st["left"] is not None and st["left"] <= 0:
                raise _Killed(f"killed before fs.{name}")
            if st["left"] is not None:
                st["left"] -= 1
            st["ops"].append(name)
            return attr(*args)

        return wrapped


@contextmanager
def _fault_injected(state: dict):
    """Patch the ``_hadoop_fs`` seam in BOTH modules that bound it
    (signature_store imports it by value) so every driver-side fs
    handle — swaps, markers, GC, lease release — goes through one
    shared :class:`_KillFS` budget."""
    import b3_analytics_engine_spark.sinks.files as files_mod
    import b3_analytics_engine_spark.signature_store as store_mod

    real = files_mod._hadoop_fs

    def patched(spark, path):
        jvm, fs, p = real(spark, path)
        return jvm, _KillFS(fs, state), p

    files_mod._hadoop_fs = patched
    store_mod._hadoop_fs = patched
    try:
        yield
    finally:
        files_mod._hadoop_fs = real
        store_mod._hadoop_fs = real


def _fuzz_every_prefix(spark, pristine: str, work: str, op, probe,
                       recover=None):
    """Reference-run ``op`` on a copy of ``pristine``, then for every
    mutating-op prefix: copy, kill at that op, recover (default: the
    documented recovery for every commit path — re-run ``op``
    unfaulted, same store instance → lease adoption; ``recover``
    overrides for ops whose recovery is state-dependent, e.g.
    ivf_rescale's post-activation refusal), and assert the probed
    state equals the reference. Returns the dry-run op list."""
    recover = recover or op

    def fresh(tag):
        dst = os.path.join(work, tag)
        shutil.copytree(pristine, dst)
        return SignatureStore(spark, dst, owner="fuzz")

    ref_store = fresh("ref")
    op(ref_store)
    ref = probe(ref_store)
    spark.catalog.clearCache()

    state = {"left": None, "ops": []}
    with _fault_injected(state):
        op(fresh("dry"))
    ops = list(state["ops"])
    spark.catalog.clearCache()
    assert 0 < len(ops) < 120, ops

    for k in range(len(ops)):
        store = fresh(f"k{k}")
        st = {"left": k, "ops": []}
        died = False
        try:
            with _fault_injected(st):
                op(store)
        except _Killed:
            died = True
        assert died, (
            f"kill budget {k} of {len(ops)} did not fire — "
            f"non-deterministic op sequence? ran {st['ops']}"
        )
        recover(store)
        got = probe(store)
        assert got == ref, (
            f"state diverged after kill at fs-op {k} "
            f"({ops[k]} in {ops}):\n got={got}\n ref={ref}"
        )
        spark.catalog.clearCache()
        shutil.rmtree(store.root)
    return ops


# ------------------------------------------------------------------
# fixtures: tiny pristine stores, built once, copied per iteration
# ------------------------------------------------------------------

_BASE_ROWS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "one two three four five six seven"),
    (3, "red orange yellow green blue indigo"),
    (4, "north south east west up down"),
]
_BATCH_ROWS = [
    (10, "lorem ipsum dolor sit amet consectetur"),
    (11, "sphinx of black quartz judge my vow"),
]
_SCHEMA = "doc_id long, text string"


def _docs(spark, rows):
    return local_df(spark, rows, _SCHEMA)


@pytest.fixture(scope="module")
def text_pristine(spark, tmp_path_factory):
    """Base-only store: fingerprints + postings + signatures for the
    4-doc corpus (the append_batch precondition)."""
    root = str(tmp_path_factory.mktemp("fuzz-text") / "store")
    s = SignatureStore(spark, root, owner="fuzz")
    docs = _docs(spark, _BASE_ROWS)
    s.fingerprints(docs, "c")
    s.postings(docs, "c")
    s.signatures(docs, "c")
    return root


@pytest.fixture(scope="module")
def compact_pristine(spark, text_pristine, tmp_path_factory):
    """Store holding every pre-state compact's GC must reclaim: a
    live delta (b2), plus a FOLDED batch (b1) whose physical dir
    survived a crashed earlier GC both under its bare name and as a
    parked ``__old`` copy."""
    root = str(tmp_path_factory.mktemp("fuzz-compact") / "store")
    shutil.copytree(text_pristine, root)
    s = SignatureStore(spark, root, owner="fuzz")
    s.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1")
    # stash b1's delta dirs, compact (folds b1 + GCs the dirs), then
    # restore the dirs as crashed-GC leftovers: bare AND __old parked
    fam_paths = [
        s.fingerprints_path("c"),
        s.postings_path("c"),
        s.signatures_path("c"),
    ]
    stash_root = str(tmp_path_factory.mktemp("fuzz-compact-stash"))
    stash = {}
    for i, p in enumerate(fam_paths):
        d = os.path.join(s._delta_root(p), "b1")
        stash[p] = os.path.join(stash_root, str(i))  # OUTSIDE the delta root
        shutil.copytree(d, stash[p])
    assert s.compact("c") == 1
    for p in fam_paths:
        d = os.path.join(s._delta_root(p), "b1")
        shutil.copytree(stash[p], d)
        shutil.copytree(stash[p], d + "__old")
        shutil.rmtree(stash[p])
    s.append_batch(_docs(spark, [(20, "never gonna give you up")]), "c", "b2")
    return root


_DIM = 4
_VECS = [
    (100 + i, [float(i == j) + 0.1 * j for j in range(_DIM)])
    for i in range(6)
]
_EPOCH = [
    (900 + i, [2.0 + 0.1 * i * j for j in range(_DIM)]) for i in range(3)
]
_VSCHEMA = "vec_id long, embedding array<float>"


@pytest.fixture(scope="module")
def ivf_pristine(spark, tmp_path_factory):
    """IVF index base (2 cells) — the ivf_append precondition."""
    root = str(tmp_path_factory.mktemp("fuzz-ivf") / "store")
    s = SignatureStore(spark, root, owner="fuzz")
    s.ivf_index(
        local_df(spark, _VECS, _VSCHEMA), "emb", n_centroids=2, iters=1
    )
    return root


@pytest.fixture(scope="module")
def retrain_pristine(spark, ivf_pristine, tmp_path_factory):
    """IVF store whose exclude epoch is parked at ``__old`` by a
    crashed swap — the retrain-recovery pre-state."""
    root = str(tmp_path_factory.mktemp("fuzz-retrain") / "store")
    shutil.copytree(ivf_pristine, root)
    s = SignatureStore(spark, root, owner="fuzz")
    s.ivf_append(
        local_df(spark, _EPOCH, _VSCHEMA), "emb", "ep1",
        n_centroids=2, iters=1,
    )
    droot = s._delta_root(s.ivf_index_path("emb", 2, 1))
    os.rename(os.path.join(droot, "ep1"), os.path.join(droot, "ep1__old"))
    return root


# ------------------------------------------------------------------
# probes: the full observable state the recovery must restore
# ------------------------------------------------------------------

def _basenames(paths):
    return sorted(p.rstrip("/").rsplit("/", 1)[-1] for p in paths)


def _text_probe(s: SignatureStore):
    fam = {
        "fp": s.fingerprints_path("c"),
        "posts": s.postings_path("c"),
        "sig": s.signatures_path("c"),
    }
    rep = s.validate("c")
    return {
        "rows": {
            "fp": sorted(
                tuple(r) for r in s.fingerprints(None, "c").collect()
            ),
            "posts": sorted(
                tuple(r) for r in s.postings(None, "c").collect()
            ),
            "sig": sorted(
                tuple(r) for r in s.signatures(None, "c").collect()
            ),
        },
        "deltas": {k: _basenames(s._delta_paths(p)) for k, p in fam.items()},
        "folded": {k: sorted(s._folded_names(p)) for k, p in fam.items()},
        "leftover_dirs": {
            k: sorted(
                nm
                for nm in os.listdir(s._delta_root(p))
                if os.path.isdir(os.path.join(s._delta_root(p), nm))
            )
            if os.path.isdir(s._delta_root(p))
            else []
            for k, p in fam.items()
        },
        "ok": rep["ok"],
        "warnings": rep["warnings"],
    }


def _ivf_probe(s: SignatureStore):
    idx = s.ivf_index(None, "emb", n_centroids=2, iters=1)
    ipath = s.ivf_index_path("emb", 2, 1)
    droot = s._delta_root(ipath)
    rep = s.validate_ivf("emb", n_centroids=2, iters=1)
    return {
        "assign": sorted(
            (r["id"], r["cell"]) for r in idx.select("id", "cell").collect()
        ),
        "deltas": _basenames(s._delta_paths(ipath)),
        "folded": sorted(s._folded_names(ipath)),
        "leftover_dirs": sorted(os.listdir(droot))
        if os.path.isdir(droot)
        else [],
        "ok": rep["ok"],
        "warnings": rep["warnings"],
    }


# ------------------------------------------------------------------
# the four scenarios
# ------------------------------------------------------------------

def test_append_batch_survives_kill_at_every_fs_op(
    spark, text_pristine, tmp_path
):
    ops = _fuzz_every_prefix(
        spark,
        text_pristine,
        str(tmp_path),
        lambda s: s.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1"),
        _text_probe,
    )
    # the sequence must end in swap-shaped op runs (rename + delete
    # per family commit), never a bare unstaged write
    assert "rename" in ops


def test_compact_gc_and_old_reclaim_survive_kill_at_every_fs_op(
    spark, compact_pristine, tmp_path
):
    def probe(s):
        got = _text_probe(s)
        # the reclaim is the point: no b1 / b1__old leftovers, no
        # fsck warning, b2 folded, nothing live
        assert got["deltas"] == {"fp": [], "posts": [], "sig": []}
        for k in got["leftover_dirs"]:
            assert "b1" not in got["leftover_dirs"][k]
            assert "b1__old" not in got["leftover_dirs"][k]
        assert got["warnings"] == []
        return got

    ops = _fuzz_every_prefix(
        spark,
        compact_pristine,
        str(tmp_path),
        lambda s: s.compact("c"),
        probe,
    )
    assert ops.count("delete") >= 6  # leftover sweep + per-family GC


def test_ivf_append_survives_kill_at_every_fs_op(
    spark, ivf_pristine, tmp_path
):
    _fuzz_every_prefix(
        spark,
        ivf_pristine,
        str(tmp_path),
        lambda s: s.ivf_append(
            local_df(spark, _EPOCH, _VSCHEMA), "emb", "ep1",
            n_centroids=2, iters=1,
        ),
        _ivf_probe,
    )


@pytest.fixture(scope="module")
def refresh_pristine(spark, text_pristine, tmp_path_factory):
    """Store with the derived aggregates materialized and one
    committed batch — the widest refresh_all surface (six artifact
    rebuilds, delta trees to clear)."""
    root = str(tmp_path_factory.mktemp("fuzz-refresh") / "store")
    shutil.copytree(text_pristine, root)
    s = SignatureStore(spark, root, owner="fuzz")
    docs = _docs(spark, _BASE_ROWS)
    s.sizes(docs, "c")
    s.band_census(docs, "c")
    s.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1")
    return root


def test_refresh_all_survives_kill_at_every_fs_op(
    spark, refresh_pristine, tmp_path
):
    """r16 extension: refresh_all is a six-swap cascade (fingerprints,
    postings, signatures, sizes, census — each staged+swapped, each
    clearing its delta tree). A kill anywhere must be repairable by
    re-running the refresh; intermediate states may mix refreshed and
    stale artifacts, but never silently lose the invalidation."""
    bigger = _docs(spark, _BASE_ROWS + [(30, "completely new snapshot doc")])

    def probe(s):
        got = _text_probe(s)
        # the refresh is the point: no deltas anywhere, batch rows
        # gone (snapshot invalidation), new doc present
        assert got["deltas"] == {"fp": [], "posts": [], "sig": []}
        assert any(r[0] == 30 for r in got["rows"]["fp"])
        assert not any(r[0] == 10 for r in got["rows"]["fp"])
        assert got["ok"] and got["warnings"] == []
        return got

    _fuzz_every_prefix(
        spark,
        refresh_pristine,
        str(tmp_path),
        lambda s: s.refresh_all(bigger, "c"),
        probe,
    )


def test_ivf_rescale_survives_kill_at_every_fs_op(
    spark, ivf_pristine, tmp_path
):
    """r16 extension: the rescale's multi-swap sequence (new-family
    staging, centroids publish, index publish, activation bump, old-
    family GC). Pre-activation kills recover by re-running; post-
    activation kills make the re-run REFUSE with the documented
    'completed through activation — GC the leftover source family'
    advice, and following that advice (delete the source family's
    dirs) must land the same final state as a never-crashed run."""

    def op(s):
        s.ivf_rescale("emb", n_centroids=2, iters=1, new_n_centroids=4)

    def recover(s):
        try:
            op(s)
        except ValueError as e:
            msg = str(e)
            assert "GC the leftover" in msg, (
                f"undocumented refusal on rescale re-run: {msg}"
            )
            # follow the advice verbatim: remove the leftover source
            # family, keep serving the published one
            for p in (
                s.ivf_index_path("emb", 2, 1),
                s.ivf_centroids_path("emb", 2, 1),
            ):
                for d in (p, s._delta_root(p), p + "__old"):
                    if os.path.exists(d):
                        shutil.rmtree(d)

    def probe(s):
        idx = s.ivf_index(None, "emb", n_centroids=4, iters=1)
        rep = s.validate_ivf("emb", n_centroids=4, iters=1)
        return {
            "active": s.ivf_active("emb"),
            "families": s.ivf_families("emb"),
            "orphans": s.ivf_orphans("emb"),
            "assign": sorted(
                (r["id"], r["cell"])
                for r in idx.select("id", "cell").collect()
            ),
            "ok": rep["ok"],
            "warnings": rep["warnings"],
        }

    _fuzz_every_prefix(
        spark, ivf_pristine, str(tmp_path), op, probe, recover=recover
    )


def test_ivf_retrain_parked_exclude_survives_kill_at_every_fs_op(
    spark, retrain_pristine, tmp_path
):
    def probe(s):
        got = _ivf_probe(s)
        # the parked epoch's vectors are served exactly once, under
        # the NEW quantizer, with the parking reclaimed
        assert [i for i, _ in got["assign"]].count(901) == 1
        assert "ep1__old" not in got["leftover_dirs"]
        assert got["ok"]
        return got

    _fuzz_every_prefix(
        spark,
        retrain_pristine,
        str(tmp_path),
        lambda s: s.ivf_retrain("emb", n_centroids=2, iters=1,
                                exclude="ep1"),
        probe,
    )


@pytest.fixture(scope="module")
def ivf_delta_pristine(spark, ivf_pristine, tmp_path_factory):
    """IVF base plus one committed epoch delta — the ivf_compact
    precondition."""
    root = str(tmp_path_factory.mktemp("fuzz-ivfc") / "store")
    shutil.copytree(ivf_pristine, root)
    s = SignatureStore(spark, root, owner="fuzz")
    s.ivf_append(
        local_df(spark, _EPOCH, _VSCHEMA), "emb", "ep1",
        n_centroids=2, iters=1,
    )
    return root


def test_ivf_compact_survives_kill_at_every_fs_op(
    spark, ivf_delta_pristine, tmp_path
):
    """The last uncovered mutating entry point's fold: ivf_compact
    shares _compact_one with the text compact fuzz but exercises the
    CELL-partitioned rewrite (partition_by='cell'), whose staged base
    layout the probes prune on."""

    def probe(s):
        got = _ivf_probe(s)
        assert got["deltas"] == []  # epoch folded into the base
        assert "ep1" in got["folded"]
        assert got["ok"] and got["warnings"] == []
        return got

    _fuzz_every_prefix(
        spark,
        ivf_delta_pristine,
        str(tmp_path),
        lambda s: s.ivf_compact("emb", n_centroids=2, iters=1),
        probe,
    )


def test_ivf_set_active_survives_kill_at_every_fs_op(
    spark, ivf_pristine, tmp_path
):
    """The active-marker bump (the pointer ivf_rescale publishes
    BEFORE GC'ing the old family) is a staged swap of a one-row
    artifact; a kill must never leave the pointer unreadable-forever
    or the marker root littered — re-running the bump repairs it."""

    def probe(s):
        root = os.path.join(s.root, "ivf_active")
        leftovers = sorted(
            nm
            for base, dirs, _ in os.walk(root)
            for nm in dirs
            if nm.endswith("__old") or nm.endswith("__staging")
        )
        return {"active": s.ivf_active("emb"), "leftovers": leftovers}

    _fuzz_every_prefix(
        spark,
        ivf_pristine,
        str(tmp_path),
        lambda s: s.ivf_set_active("emb", 2, 1),
        probe,
    )


# ------------------------------------------------------------------
# r16 frontier 1: COMPOSED kills — crash the op, then crash the
# RECOVERY run too, then recover. The single-kill fuzz proves every
# crash state is repairable by one re-run; this proves the repair
# itself is crash-safe (recovery ops are the same swap-shaped
# machinery, so a kill inside them must leave another repairable
# state, not a new dead end).
# ------------------------------------------------------------------

def _fuzz_double_kill(spark, pristine: str, work: str, op, probe,
                      k1_stride: int = 1):
    """For (a stride sample of) every first-kill prefix k1: learn the
    recovery run's own mutating-op count m2 on one copy, then on
    fresh copies kill the recovery at k2 ∈ {first, middle, last} of
    ITS sequence, run a final unfaulted recovery, and assert the
    probed state equals a never-crashed run's."""

    def fresh(tag):
        dst = os.path.join(work, tag)
        shutil.copytree(pristine, dst)
        return SignatureStore(spark, dst, owner="fuzz")

    ref_store = fresh("ref")
    op(ref_store)
    ref = probe(ref_store)
    spark.catalog.clearCache()

    state = {"left": None, "ops": []}
    with _fault_injected(state):
        op(fresh("dry"))
    ops = list(state["ops"])
    spark.catalog.clearCache()
    assert 0 < len(ops) < 120, ops

    def killed_run(store, budget):
        st = {"left": budget, "ops": []}
        died = False
        try:
            with _fault_injected(st):
                op(store)
        except _Killed:
            died = True
        return died, st["ops"]

    pairs_run = 0
    for k1 in range(0, len(ops), k1_stride):
        # copy A: first kill at k1, then COUNT the recovery's ops
        a = fresh(f"a{k1}")
        died, _ = killed_run(a, k1)
        assert died
        st2 = {"left": None, "ops": []}
        with _fault_injected(st2):
            op(a)
        m2 = len(st2["ops"])
        assert probe(a) == ref  # single-kill sanity on this copy
        spark.catalog.clearCache()
        shutil.rmtree(a.root)
        if m2 == 0:
            continue  # recovery is pure-read; nothing to compose
        for k2 in sorted({0, m2 // 2, m2 - 1}):
            b = fresh(f"b{k1}_{k2}")
            died, _ = killed_run(b, k1)
            assert died
            died2, ran2 = killed_run(b, k2)
            assert died2, (
                f"recovery after kill@{k1} took {len(ran2)} ops "
                f"(expected ≥{k2 + 1}: {ran2}) — nondeterministic "
                "recovery sequence?"
            )
            op(b)  # second recovery, unfaulted
            got = probe(b)
            assert got == ref, (
                f"state diverged after composed kills k1={k1} "
                f"({ops[k1]}), k2={k2}:\n got={got}\n ref={ref}"
            )
            pairs_run += 1
            spark.catalog.clearCache()
            shutil.rmtree(b.root)
    assert pairs_run > 0
    return ops


def test_append_batch_double_kill(spark, text_pristine, tmp_path):
    """Both commit paths' recovery (idempotent same-name replay) must
    itself survive a kill at any point — full first-kill coverage."""
    _fuzz_double_kill(
        spark,
        text_pristine,
        str(tmp_path),
        lambda s: s.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1"),
        _text_probe,
    )


def test_ivf_append_double_kill(spark, ivf_pristine, tmp_path):
    _fuzz_double_kill(
        spark,
        ivf_pristine,
        str(tmp_path),
        lambda s: s.ivf_append(
            local_df(spark, _EPOCH, _VSCHEMA), "emb", "ep1",
            n_centroids=2, iters=1,
        ),
        _ivf_probe,
    )


def _stride(default: int) -> int:
    """First-kill stride for the composed double-kill scenarios.
    ``CRASH_FUZZ_FULL=1`` drops to stride 1 (every first-kill point)
    for one-off full-resolution evidence runs — far too slow for the
    routine soak tier (~400 compact invocations), hence env-gated."""
    return 1 if os.environ.get("CRASH_FUZZ_FULL") == "1" else default


def test_compact_double_kill_strided(spark, compact_pristine, tmp_path):
    """Compact's ~40-op sequence (marker-ledger publish riding the
    base swap, physical-dir GC, folded-__old reclaim) composed-killed
    at a stride-6 sample of first-kill points (full quadratic would
    be ~400 compact invocations; the repair machinery is shared, so a
    sample over distinct phases covers the shapes). Set
    ``CRASH_FUZZ_FULL=1`` for a full-resolution run."""

    def probe(s):
        got = _text_probe(s)
        assert got["deltas"] == {"fp": [], "posts": [], "sig": []}
        assert got["warnings"] == []
        return got

    _fuzz_double_kill(
        spark,
        compact_pristine,
        str(tmp_path),
        lambda s: s.compact("c"),
        probe,
        k1_stride=_stride(6),
    )


def test_ivf_retrain_double_kill_strided(spark, retrain_pristine, tmp_path):
    """The centroid+index double swap plus parked-exclude recovery,
    composed-killed at a stride-4 sample of first-kill points."""

    def probe(s):
        got = _ivf_probe(s)
        assert [i for i, _ in got["assign"]].count(901) == 1
        assert got["ok"]
        return got

    _fuzz_double_kill(
        spark,
        retrain_pristine,
        str(tmp_path),
        lambda s: s.ivf_retrain("emb", n_centroids=2, iters=1,
                                exclude="ep1"),
        probe,
        k1_stride=_stride(4),
    )


def test_append_batch_kill_states_read_atomically(
    spark, text_pristine, tmp_path
):
    """Crash CONSISTENCY for readers, not just recoverability: at
    every append_batch kill state, a bystander store (different
    owner, NO recovery run) reading each artifact must see exactly
    the pre-batch or the post-batch row set — never a torn mix within
    one artifact (each delta lands by staging + atomic rename;
    ``_delta_paths`` never reads ``__staging``) — and the families
    must respect the documented sequential commit order (fingerprints
    → postings → signatures): a later family carrying the batch
    implies every earlier one does."""

    def rows(s):
        return {
            "fp": sorted(
                tuple(r) for r in s.fingerprints(None, "c").collect()
            ),
            "posts": sorted(
                tuple(r) for r in s.postings(None, "c").collect()
            ),
            "sig": sorted(
                tuple(r) for r in s.signatures(None, "c").collect()
            ),
        }

    def fresh(tag):
        dst = os.path.join(str(tmp_path), tag)
        shutil.copytree(text_pristine, dst)
        return SignatureStore(spark, dst, owner="fuzz")

    pre = rows(fresh("pre"))
    ref_store = fresh("ref")
    ref_store.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1")
    post = rows(ref_store)
    assert pre != post
    spark.catalog.clearCache()

    state = {"left": None, "ops": []}
    with _fault_injected(state):
        fresh("dry").append_batch(_docs(spark, _BATCH_ROWS), "c", "b1")
    ops = list(state["ops"])
    spark.catalog.clearCache()

    order = ("fp", "posts", "sig")
    for k in range(len(ops)):
        store = fresh(f"k{k}")
        st = {"left": k, "ops": []}
        try:
            with _fault_injected(st):
                store.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1")
        except _Killed:
            pass
        reader = SignatureStore(spark, store.root, owner="bystander")
        got = rows(reader)
        for fam in order:
            assert got[fam] in (pre[fam], post[fam]), (
                f"torn {fam} read after kill at op {k} "
                f"({ops[k]} in {ops})"
            )
        seen = [got[fam] == post[fam] for fam in order]
        # committed families form a PREFIX of the commit order
        assert seen == sorted(seen, reverse=True), (
            f"commit-order violation after kill at op {k}: "
            f"{dict(zip(order, seen))}"
        )
        spark.catalog.clearCache()
        shutil.rmtree(store.root)


def test_compact_kill_states_read_consistently(
    spark, compact_pristine, tmp_path
):
    """Reader crash-consistency across compact's WHOLE op sequence
    (base swaps, marker-ledger publish, physical-dir GC, parked-dir
    reclaim): at every kill state a bystander store (different owner,
    NO recovery run) either reads the exact logical row set — compact
    folds deltas, it never changes rows — or refuses loudly on a
    state that needs recovery (StoreLockedError: the crashed writer's
    lease is still held, per the pinned bystander-read contract).
    Never a torn read, never a doubled one (parked + bare dir served
    twice), never a silent dead end."""
    from b3_analytics_engine_spark.signature_store import StoreLockedError

    def rows(s):
        out = {}
        for fam, getter in (
            ("fp", s.fingerprints),
            ("posts", s.postings),
            ("sig", s.signatures),
        ):
            try:
                out[fam] = sorted(
                    tuple(r) for r in getter(None, "c").collect()
                )
            except StoreLockedError:
                out[fam] = "REFUSED"
        return out

    def fresh(tag):
        dst = os.path.join(str(tmp_path), tag)
        shutil.copytree(compact_pristine, dst)
        return SignatureStore(spark, dst, owner="fuzz")

    ref_store = fresh("ref")
    ref = rows(ref_store)  # pre-compact logical rows
    assert "REFUSED" not in ref.values()
    ref_store.compact("c")
    assert rows(ref_store) == ref  # folding never changes the row set
    spark.catalog.clearCache()

    state = {"left": None, "ops": []}
    with _fault_injected(state):
        fresh("dry").compact("c")
    ops = list(state["ops"])
    spark.catalog.clearCache()

    for k in range(len(ops)):
        store = fresh(f"k{k}")
        st = {"left": k, "ops": []}
        try:
            with _fault_injected(st):
                store.compact("c")
        except _Killed:
            pass
        reader = SignatureStore(spark, store.root, owner="bystander")
        got = rows(reader)
        for fam in ("fp", "posts", "sig"):
            # a loud refusal is legal (state needs recovery, lease
            # held by the crashed writer); a torn read is not
            if got[fam] != "REFUSED":
                assert got[fam] == ref[fam], (
                    f"torn {fam} read after kill at op {k} "
                    f"({ops[k]} in {ops})"
                )
        spark.catalog.clearCache()
        shutil.rmtree(store.root)


def test_warehouse_swap_survives_kill_at_every_fs_op(spark, tmp_path):
    """The streaming warehouse's commit path (merge history ∪ batch →
    stage → replace_directory swap) killed at every fs-op prefix;
    recovery = the documented at-least-once retry
    (recover_parked_directory, recompute the merge from the LIVE
    history, fresh stage, swap). The load-bearing assertion: at every
    kill state the recovered history read must yield the pre- or
    post-commit table — never PATH_NOT_FOUND, which the streaming
    first-run branch would misread as 'table never existed' and
    rebuild the warehouse from one micro-batch (the data-loss bug
    this fuzz's scenario found)."""
    from b3_analytics_engine_spark.sinks.files import (
        recover_parked_directory,
        replace_directory,
    )

    def build(tag):
        wh = os.path.join(str(tmp_path), tag, "wh")
        spark.range(0, 100).withColumnRenamed("id", "k").write.parquet(wh)
        return wh

    def commit(wh):  # one micro-batch: history ∪ new rows, swapped in
        hist = spark.read.parquet(wh)
        out = hist.unionByName(
            spark.range(100, 110).withColumnRenamed("id", "k")
        ).distinct()
        staging = wh + "__staging"
        out.write.mode("overwrite").parquet(staging)
        replace_directory(spark, staging, wh)

    def table(wh):
        return sorted(r["k"] for r in spark.read.parquet(wh).collect())

    wh = build("ref")
    commit(wh)
    ref = table(wh)
    pre = list(range(100))
    assert ref == list(range(110))

    state = {"left": None, "ops": []}
    wh = build("dry")
    with _fault_injected(state):
        commit(wh)
    ops = list(state["ops"])
    spark.catalog.clearCache()
    assert "rename" in ops and 0 < len(ops) < 20, ops

    for k in range(len(ops)):
        wh = build(f"k{k}")
        st = {"left": k, "ops": []}
        died = False
        try:
            with _fault_injected(st):
                commit(wh)
        except _Killed:
            died = True
        assert died, f"kill budget {k} did not fire (ran {st['ops']})"
        # the retry: recovery makes the history READABLE, and it is
        # exactly the pre- or post-commit table (atomic, never torn)
        recover_parked_directory(spark, wh)
        hist = table(wh)
        assert hist in (pre, ref), f"torn history after kill at op {k}"
        commit(wh)  # idempotent re-commit lands the reference state
        assert table(wh) == ref, f"diverged after kill at op {k}"
        spark.catalog.clearCache()
        shutil.rmtree(os.path.dirname(wh))


# ------------------------------------------------------------------
# r16 frontier 2: the S3-lease seam under crash fuzz. The single-kill
# fuzz runs over the default Hadoop backend, whose local-path
# try_create (os.open O_EXCL) is NOT an interceptable fs op — so no
# prior scenario ever killed BETWEEN lease acquisition and the first
# mutation, or between the last mutation and the lease release. With
# the S3 conditional-PUT fake as the backend, both lease ops join the
# kill budget, and the fake (the "remote service") survives the
# client crash — exactly the production shape the seam exists for.
# ------------------------------------------------------------------

class _KillLease:
    """Kill-injecting proxy over a lease backend, sharing the fs
    proxy's budget: ``try_create``/``delete`` are mutators (counted,
    killable), ``read_owner`` passes through."""

    def __init__(self, real, state: dict):
        self._real = real
        self._state = state

    def read_owner(self, lock_path):
        return self._real.read_owner(lock_path)

    def _guard(self, name):
        st = self._state
        if st["left"] is not None and st["left"] <= 0:
            raise _Killed(f"killed before lease.{name}")
        if st["left"] is not None:
            st["left"] -= 1
        st["ops"].append(f"lease:{name}")

    def try_create(self, lock_path, owner):
        self._guard("try_create")
        return self._real.try_create(lock_path, owner)

    def delete(self, lock_path):
        self._guard("delete")
        self._real.delete(lock_path)


def test_append_batch_s3_lease_survives_kill_at_every_op(
    spark, text_pristine, tmp_path
):
    """append_batch over the S3 conditional-PUT fake, killed at every
    prefix of the UNION sequence (lease try_create → fs commits →
    lease delete). At each kill point: if the lease is left held, a
    DIFFERENT owner must be refused (StoreLockedError naming the
    holder) — never silently interleave; the SAME owner's re-run must
    adopt the leaked lease, replay idempotently, land the reference
    state, and leave the lease released."""
    from test_signature_store import S3ConditionalPutLeaseFake
    from b3_analytics_engine_spark.signature_store import StoreLockedError

    def fresh(tag):
        dst = os.path.join(str(tmp_path), tag)
        shutil.copytree(text_pristine, dst)
        svc = S3ConditionalPutLeaseFake()  # one service per universe
        return (
            SignatureStore(spark, dst, owner="fuzz", lease_backend=svc),
            svc,
        )

    def op(store, svc, state):
        wrapped = _KillLease(svc, state)
        store._lease = wrapped
        try:
            with _fault_injected(state):
                store.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1")
        finally:
            store._lease = svc

    ref_store, ref_svc = fresh("ref")
    op(ref_store, ref_svc, {"left": None, "ops": []})
    ref = _text_probe(ref_store)
    assert not ref_svc._obj  # lease released on the happy path
    spark.catalog.clearCache()

    state = {"left": None, "ops": []}
    dry_store, dry_svc = fresh("dry")
    op(dry_store, dry_svc, state)
    ops = list(state["ops"])
    spark.catalog.clearCache()
    assert ops[0] == "lease:try_create" and ops[-1] == "lease:delete", ops
    assert any(o in _MUTATORS for o in ops)  # fs commits in between

    for k in range(len(ops)):
        store, svc = fresh(f"k{k}")
        st = {"left": k, "ops": []}
        died = False
        try:
            op(store, svc, st)
        except _Killed:
            died = True
        assert died, f"kill budget {k} did not fire (ran {st['ops']})"

        lock = store._lock_file("c")
        if svc.read_owner(lock) or svc.read_owner(lock):  # lag-proof
            # leaked lease: a stranger is refused, loudly, by name
            stranger = SignatureStore(
                spark, store.root, owner="other-job", lease_backend=svc
            )
            with pytest.raises(StoreLockedError, match="fuzz"):
                stranger.compact("c")

        # same-owner recovery: adopt + idempotent replay
        store.append_batch(_docs(spark, _BATCH_ROWS), "c", "b1")
        got = _text_probe(store)
        assert got == ref, (
            f"state diverged after kill at op {k} ({ops[k]} in "
            f"{ops}):\n got={got}\n ref={ref}"
        )
        assert not svc._obj, f"lease leaked past recovery at op {k}"
        spark.catalog.clearCache()
        shutil.rmtree(store.root)


# ------------------------------------------------------------------
# The E2 warehouse commit (streaming.pipeline.e2_micro_batch): stage →
# `_staging/_commit.tmp` renamed to `_commit` → deletes, renames,
# `_tail` swap → drop the stage. Recovery is the next batch's first step (recover_table).
# ------------------------------------------------------------------

@pytest.mark.parametrize("kind", ["append", "expiry", "whole"])
def test_e2_commit_survives_kill_at_every_fs_op(spark, tmp_path, kind):
    """One micro-batch killed at every fs-op prefix of its commit: a
    plain append, an expiry rewrite (the cutoff passes the oldest
    seeded rows) and a first batch's whole-window rewrite (no tail
    yet). After recovery the table reads exactly as before or after
    the commit, never torn or duplicated; re-running the batch — a
    replay of the same epoch when the commit had landed — then gives
    the never-crashed table."""
    import datetime as dt

    from test_e2_commit import ALL, T0, _batch, _seed

    from b3_analytics_engine_spark.sinks.files import data_files, recover_table
    from b3_analytics_engine_spark.streaming.pipeline import e2_micro_batch

    pristine = str(tmp_path / "pristine")
    _seed(pristine)
    if kind != "whole":  # commit a tail first
        b0 = _batch(spark, str(tmp_path / "f0.parquet"), 0, ALL)
        e2_micro_batch(b0, 0, spark, pristine, now=T0 + dt.timedelta(minutes=1))
    now = T0 + (dt.timedelta(days=2) if kind == "expiry" else dt.timedelta(minutes=2))
    batch = _batch(spark, str(tmp_path / "f1.parquet"), 1, ALL)

    def commit(wh):
        e2_micro_batch(batch, 1, spark, wh, now=now)

    def table(wh):
        files = [os.path.join(wh, f) for f in data_files(spark, wh)]
        if not files:
            return []
        return sorted(tuple(r) for r in spark.read.parquet(*files).collect())

    def fresh(tag):
        wh = str(tmp_path / tag)
        shutil.copytree(pristine, wh)
        return wh

    pre = table(pristine)
    wh = fresh("ref")
    commit(wh)
    ref = table(wh)
    assert ref != pre

    state = {"left": None, "ops": []}
    with _fault_injected(state):
        commit(fresh("dry"))
    ops = list(state["ops"])
    assert "create" in ops and "rename" in ops and len(ops) < 40, ops
    if kind != "append":  # files replaced: deletes follow the record's rename
        assert ops[ops.index("rename") + 1] == "delete", ops

    for k in range(len(ops)):
        wh = fresh(f"k{k}")
        st = {"left": k, "ops": []}
        with pytest.raises(_Killed):
            with _fault_injected(st):
                commit(wh)
        recover_table(spark, wh)
        got = table(wh)
        assert got in (pre, ref), f"torn table after kill at op {k} ({ops[k]} in {ops})"
        commit(wh)
        assert table(wh) == ref, f"diverged after kill at op {k} ({ops[k]} in {ops})"
        spark.catalog.clearCache()
        shutil.rmtree(wh)
