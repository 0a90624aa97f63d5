"""Persisted MinHash signature / hashed-postings artifacts — compute
once, reuse across every MinHash-family consumer.

Why this exists (r9 verdict task #3): the three slowest bench queries
(`decontaminate_fuzzy`, `dedup_minhash_lsh`, `dedup_simhash`) each
recompute signatures from raw text per run. A 100 TB pipeline never
does that — tokenize → shingle → hash → min-aggregate is the dominant
corpus-scan cost, and dedup, decontamination, and clustering passes
all consume the SAME (id, shingle-hash) inverted index and the SAME
(id, m0..m{k-1}) signature table. This module persists both as
Parquet artifacts keyed by (corpus, n, portable[, num_hashes, seed])
with read-through semantics: the first consumer pays the computation
and the write; every later consumer pays a Parquet scan.

Scale notes:
- The postings artifact is O(total tokens) rows of (long id, long
  hash) — a narrow two-column table that Parquet RLE/dictionary
  encodes well. On a cluster you would additionally ``bucketBy(id)``
  into a metastore table so the verify self-join is co-located; plain
  directory Parquet keeps this module metastore-free and the join
  AQE-planned.
- Every write is staged by one step, :meth:`SignatureStore._stage`
  (a ``__staging`` sibling directory, optionally partitioned by
  ``cell``, plus any marker files), and published by an atomic
  rename swap (:func:`..sinks.files.replace_directory`) in exactly
  two commit methods: :meth:`SignatureStore._write_atomic` for a
  base and :meth:`SignatureStore._append_delta` for a delta batch.
  A crashed writer never leaves a half-artifact that a reader
  mistakes for complete; completeness is additionally gated on the
  ``_SUCCESS`` marker.
- Artifacts are immutable snapshots of the corpus AT WRITE TIME,
  plus zero or more committed delta batches (``append_batch`` — the
  incremental workflow's O(batch) commit; see
  :func:`..pipelines.incremental_dedup`). ``refresh=True`` recomputes
  the base from ``df`` and clears the deltas. Deltas are written ONLY
  through ``append_batch`` (all three artifacts together); mixing
  hand-written deltas with the derive-from-postings read-through
  voids the row-identity contract.

The registered oracle queries never touch this module — they stay
pure functions of the test Parquet (bit-exact DuckDB parity). This is
the production entry point, like the hot-bucket cap defaults in
``pipelines``.
"""

from __future__ import annotations

import math
import os
import re
import struct
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import (
    _banded_keys,
    _signatures_from_hashed,
    hashed_postings,
    simhash_signatures,
)
from .operators.text import fingerprint
from .sinks.files import (
    _hadoop_fs,
    recover_parked_directory,
    replace_directory,
)

#: bucket keys of the two hot-bucket censuses
_BAND_KEYS = ("band", "bh")
_CHUNK_KEYS = ("chunk", "cv")


def _with_lease(fn):
    """Method decorator: run the body holding the per-corpus write
    lease (see :meth:`SignatureStore.lock`). The wrapped method's
    ``corpus`` argument names the lease."""
    import functools
    import inspect

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        corpus = sig.bind(self, *args, **kwargs).arguments["corpus"]
        with self.lock(corpus):
            return fn(self, *args, **kwargs)

    return wrapper


class StoreLockedError(RuntimeError):
    """Another writer holds the corpus write lease. Raised instead of
    letting two mutators interleave unanalyzed (a delta committed
    between a compact's read and its base swap would be silently
    dropped or double-markered). Wait for the holder, or — if it is a
    crashed job that will not come back — ``break_lock(corpus)``."""


class HadoopLeaseBackend:
    """Default lease backend: an owner-stamped lock file taken by
    ATOMIC exclusive create. On ``file://`` that is POSIX
    ``O_CREAT|O_EXCL`` directly (Hadoop local
    ``create(overwrite=false)`` is check-then-act — pinned by the
    threaded race test); on HDFS-family filesystems it is
    ``create(path, overwrite=false)`` (atomic under the NameNode's
    namespace lock).

    This class is the SEAM for stores on backends without an atomic
    create-or-rename primitive: plain S3 cannot host this lease, but
    S3 conditional PUT (``If-None-Match: *``) can — implement these
    three methods over it and pass the instance as
    ``SignatureStore(..., lease_backend=...)``; no call site changes.
    The protocol each method must honor:

    - ``try_create(lock_path, owner)`` — atomically create the lock
      stamped with ``owner``; return True if THIS call created it,
      False if it already existed. Two racers must never both get
      True.
    - ``read_owner(lock_path)`` — the stamped owner token, or None if
      the lock is absent or its stamp is half-written (callers treat
      None as contended-or-racing and retry once).
    - ``delete(lock_path)`` — remove the lock (release/break).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _local_path(self, lock_path: str) -> str | None:
        """OS path when the root lives on the local filesystem, else
        None (remote scheme)."""
        _, fs, _ = _hadoop_fs(self.spark, self.root)
        if fs.getScheme() != "file":
            return None
        for prefix in ("file://", "file:"):
            if lock_path.startswith(prefix):
                return lock_path[len(prefix):]
        return lock_path

    def try_create(self, lock_path: str, owner: str) -> bool:
        local = self._local_path(lock_path)
        if local is not None:
            os.makedirs(os.path.dirname(local), exist_ok=True)
            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            # stamp in java.io.DataOutput#writeUTF layout so
            # read_owner's readUTF stays the one reader
            data = owner.encode("utf-8")
            with os.fdopen(fd, "wb") as out:
                out.write(struct.pack(">H", len(data)) + data)
            return True
        jvm, fs, _ = _hadoop_fs(self.spark, self.root)
        hp = jvm.org.apache.hadoop.fs.Path(lock_path)
        try:
            out = fs.create(hp, False)  # exclusive create (atomic on HDFS)
        except Exception:
            return False
        out.writeUTF(owner)
        out.close()
        return True

    def read_owner(self, lock_path: str) -> str | None:
        jvm, fs, _ = _hadoop_fs(self.spark, self.root)
        hp = jvm.org.apache.hadoop.fs.Path(lock_path)
        if not fs.exists(hp):
            return None
        inp = fs.open(hp)
        try:
            return inp.readUTF()
        except Exception:
            return None
        finally:
            inp.close()

    def delete(self, lock_path: str) -> None:
        jvm, fs, _ = _hadoop_fs(self.spark, self.root)
        hp = jvm.org.apache.hadoop.fs.Path(lock_path)
        if fs.exists(hp):
            fs.delete(hp, False)


class SignatureStore:
    """Read-through Parquet cache for MinHash-family artifacts.

    ``root`` is any directory Spark can read/write (local path, s3a://,
    hdfs://). Layout::

        <root>/hashed_postings/<corpus>/n=<n>/portable=<0|1>/
        <root>/minhash_signatures/<corpus>/n=<n>/portable=<0|1>/k=<k>/seed=<s>/

    **Single-writer contract (per corpus).** ``compact`` reads every
    live delta, rewrites the base, then GCs those delta dirs; a
    concurrent ``append_batch`` could commit a delta between the read
    and the swap (silently dropped from the new base) or collide with
    the GC. Likewise two concurrent ``append_batch`` calls on the same
    batch name would race the wholesale-replace rename. So every
    mutating entry point — ``append_batch``, ``compact``,
    ``refresh_all``, ``ivf_append``, ``ivf_compact`` — takes a
    per-corpus write LEASE: a lock file under ``<root>/_locks/``
    created exclusively and stamped with this store's ``owner`` token.
    A second independent writer fails loudly with
    :class:`StoreLockedError` instead of interleaving. Within one
    store instance the lease is reentrant, and a NEW instance built
    with the SAME ``owner`` adopts an existing lease rather than
    failing — the crash-recovery path: give a restarted job the same
    stable owner (e.g. derived from its checkpoint dir) and its replay
    proceeds; give independent jobs independent owners (the default —
    a fresh random token per instance) and the second one is refused.
    ``break_lock(corpus)`` is the manual override for a lease whose
    holder is known dead. Readers never take the lease: each SINGLE
    artifact read is atomic-swap consistent, but an operation that
    swaps TWO coupled artifacts (:meth:`ivf_retrain`: centroids +
    index) has a brief cross-artifact window for live readers — see
    its docstring. Exclusive-create is atomic on HDFS
    and local filesystems (the default :class:`HadoopLeaseBackend`);
    plain S3 has no such primitive — implement the three-method
    backend protocol over S3 conditional PUT (``If-None-Match: *``)
    and pass it as ``lease_backend=`` if two writers are a
    possibility.

    First-time base creation (the lazy read-through builds) and
    derived-delta backfill (:meth:`_sync_deltas`) take the lease too,
    double-checked: the completeness test runs again under the lease,
    so two jobs racing the same first build cannot collide on the
    staging directory — one builds, the other re-reads the published
    artifact (same owner) or fails loudly (different owner). Pure
    reads of complete artifacts never touch the lease.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        owner: str | None = None,
        lease_backend=None,
    ):
        self.spark = spark
        self.root = root
        self.owner = owner or uuid.uuid4().hex
        self._lease_depth: dict[str, int] = {}
        self._lease = lease_backend or HadoopLeaseBackend(spark, root)

    # ------------------------------------------------------ write lease
    def _lock_file(self, corpus: str) -> str:
        return os.path.join(self.root, "_locks", f"{corpus}.lock")

    def _lock_owner(self, corpus: str) -> str | None:
        """The owner token in the corpus lock file, or None if unheld
        (or if the stamp is half-written — a racer between create and
        stamp — which callers treat as contended)."""
        return self._lease.read_owner(self._lock_file(corpus))

    @contextmanager
    def lock(self, corpus: str):
        """Hold the corpus write lease for a multi-step maintenance
        block. Reentrant within this instance; adopts an existing
        lease stamped with this instance's ``owner`` (crash
        recovery); raises :class:`StoreLockedError` on any other
        holder. Used internally by every mutating entry point."""
        depth = self._lease_depth.get(corpus, 0)
        if depth == 0:
            self._acquire(corpus)
        self._lease_depth[corpus] = depth + 1
        try:
            yield
        finally:
            self._lease_depth[corpus] -= 1
            if self._lease_depth[corpus] == 0:
                del self._lease_depth[corpus]
                self._release(corpus)

    def _acquire(self, corpus: str) -> None:
        """Take the corpus write lease via the backend's ATOMIC
        exclusive create — the primitive that makes a second
        concurrent writer fail loudly (two racing writers must never
        both win; see :class:`HadoopLeaseBackend` for the default
        implementation and the S3 story). The protocol on a failed
        create: adopt our own stamp (reentrant / crash recovery),
        retry ONCE on an absent-or-half-written stamp (we may have
        raced a release), else raise :class:`StoreLockedError`."""
        lock = self._lock_file(corpus)
        for attempt in (1, 2):
            if self._lease.try_create(lock, self.owner):
                return
            holder = self._lease.read_owner(lock)
            if holder == self.owner:
                return  # adopt our own lease (reentrant / crash recovery)
            if holder is None:
                if attempt == 1:
                    continue  # raced a release / half-written stamp
                raise StoreLockedError(
                    f"corpus {corpus!r} lease at {lock} is contended; "
                    "retry, or break_lock() if the holder is dead"
                )
            raise StoreLockedError(
                f"corpus {corpus!r} is write-locked by owner "
                f"{holder!r} (lease {lock}); a second concurrent writer "
                "would interleave append/compact unanalyzed — wait for "
                "it, or break_lock() if that job is dead"
            )

    def _release(self, corpus: str) -> None:
        self._lease.delete(self._lock_file(corpus))

    def break_lock(self, corpus: str) -> None:
        """Force-release a lease whose holder is known dead. The
        caller asserts no live writer exists — breaking a LIVE
        writer's lease reintroduces exactly the interleavings the
        lease exists to prevent."""
        self._release(corpus)

    # ---------------------------------------------------------- paths
    def postings_path(self, corpus: str, n: int = 3, portable: bool = False) -> str:
        return os.path.join(
            self.root, "hashed_postings", corpus, f"n={n}", f"portable={int(portable)}"
        )

    def signatures_path(
        self,
        corpus: str,
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
    ) -> str:
        return os.path.join(
            self.root,
            "minhash_signatures",
            corpus,
            f"n={n}",
            f"portable={int(portable)}",
            f"k={num_hashes}",
            f"seed={seed}",
        )

    def fingerprints_path(self, corpus: str) -> str:
        return os.path.join(self.root, "fingerprints", corpus)

    def sizes_path(self, corpus: str, n: int = 3, portable: bool = False) -> str:
        return os.path.join(
            self.root, "doc_sizes", corpus, f"n={n}", f"portable={int(portable)}"
        )

    def band_census_path(
        self,
        corpus: str,
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
        bands: int = 16,
    ) -> str:
        return os.path.join(
            self.root,
            "band_census",
            corpus,
            f"n={n}",
            f"portable={int(portable)}",
            f"k={num_hashes}",
            f"seed={seed}",
            f"bands={bands}",
        )

    # -------------------------------------------------------- helpers
    def _is_complete(self, path: str) -> bool:
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        return fs.exists(
            jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_SUCCESS"))
        )

    def _stage(
        self,
        df: DataFrame,
        path: str,
        suffix: str = "__staging",
        partition_by: str | None = None,
        markers=(),
    ) -> str:
        """The one staging step: write ``df`` to ``<path><suffix>``
        and create the ``markers`` (names relative to it) inside, so
        they ride the same atomic swap as the rows. Returns the
        staging dir; nothing is visible until :meth:`_publish`."""
        tmp = path.rstrip("/") + suffix
        w = df.write.mode("overwrite")
        if partition_by is not None:
            # static overwrite per-write: the session's dynamic
            # partitionOverwriteMode skips the _SUCCESS marker the
            # completeness gate needs, and staging dirs are fresh anyway
            w = w.option("partitionOverwriteMode", "static").partitionBy(
                partition_by
            )
        w.parquet(tmp)
        jvm, fs, _ = _hadoop_fs(self.spark, tmp)
        for nm in markers:
            fs.create(jvm.org.apache.hadoop.fs.Path(os.path.join(tmp, nm)),
                      True).close()
        return tmp

    def _publish(self, tmp: str, path: str, gc=()) -> None:
        """Swap the staged ``tmp`` into ``path``, then delete the
        ``gc`` directories the new copy supersedes (markers inside it
        make those deletes safe to crash)."""
        replace_directory(self.spark, tmp, path)
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        for p in gc:
            hp = jvm.org.apache.hadoop.fs.Path(p)
            if fs.exists(hp):
                fs.delete(hp, True)

    def _write_atomic(
        self, df: DataFrame, path: str, partition_by: str | None = None
    ) -> None:
        """Stage, then atomic-rename into place — a crashed write
        leaves no ``_SUCCESS``-bearing half-artifact. A base (re)write
        also clears the artifact's delta tree: the new base IS the
        full snapshot. ``partition_by="cell"`` lets IVF probes prune."""
        self._publish(
            self._stage(df, path, partition_by=partition_by),
            path,
            [self._delta_root(path)],
        )

    # --------------------------------------------------- delta batches
    # An artifact = its base directory plus zero or more committed
    # delta-batch directories under ``<leaf>__delta/<batch>/``. Each
    # delta is staged and atomically renamed in, so a visible delta is
    # always complete (``_SUCCESS``-gated on read as well). Deltas are
    # how the incremental workflow (``pipelines.incremental_dedup``)
    # appends a day's surviving documents WITHOUT rewriting O(corpus)
    # artifacts; ``refresh=True`` on the base recomputes the full
    # snapshot and clears them.
    @staticmethod
    def _delta_root(path: str) -> str:
        return path.rstrip("/") + "__delta"

    @staticmethod
    def _batch_name(delta_path: str) -> str:
        """Logical batch name of a delta directory: the basename with
        a mid-swap ``__old`` parking suffix stripped — a parked dir
        stands in for its bare batch (see :meth:`_delta_paths`), so
        every ledger/derived-delta/GC name derivation must go through
        this, never raw basename (folding a batch under the name
        ``<batch>__old`` would leave the bare name replayable against
        a base that already holds its rows)."""
        name = delta_path.rstrip("/").rsplit("/", 1)[-1]
        return name[: -len("__old")] if name.endswith("__old") else name

    def _recover_parked_delta(self, droot: str, batch: str | None) -> None:
        """Mid-swap recovery for ONE batch's delta dir: a crash inside
        a replace_directory swap on ``droot/<batch>`` parks the
        last-committed copy at ``<batch>__old`` with the live dir
        missing — rename it back (the swap's documented recovery,
        restoring the last-committed state, so it is safe ahead of
        any refusal). With the live dir PRESENT the ``__old`` is
        post-swap stale parking (crash after the second rename,
        before cleanup): the live dir is the newer complete copy, so
        the parking is dropped, exactly as the next swap's own
        stale-``__old`` sweep would. Callers (ivf_retrain/ivf_rescale
        on their exclude epoch) hold the write lease. No-op when
        ``batch`` is None."""
        jvm, fs, _ = _hadoop_fs(self.spark, droot)
        hp = jvm.org.apache.hadoop.fs.Path
        if batch is None or not fs.exists(hp(droot)):
            return
        xold = hp(os.path.join(droot, batch + "__old"))
        xdst = hp(os.path.join(droot, batch))
        if fs.exists(xold):
            if not fs.exists(xdst):
                if not fs.rename(xold, xdst):
                    raise IOError(
                        f"mid-swap recovery rename {xold} -> {xdst} failed"
                    )
            else:
                fs.delete(xold, True)

    @staticmethod
    def _validate_batch_name(batch: str) -> None:
        """Reject path tricks and the swap machinery's RESERVED
        suffixes: a user batch literally named ``x__old`` /
        ``x__staging`` would collide with replace_directory's parking
        and staging dirs and corrupt the stand-in / skip semantics of
        :meth:`_delta_paths`."""
        if (
            "/" in batch
            or batch.startswith((".", "_"))
            or batch.endswith(("__old", "__staging"))
        ):
            raise ValueError(f"invalid batch name: {batch!r}")

    def _delta_paths(
        self,
        path: str,
        exclude: str | None = None,
        folded: set[str] | None = None,
    ) -> list[str]:
        """Committed delta-batch directories of ``path``, exclusion
        and folded-ledger applied. Two crash-state suffixes get
        special treatment (r15 review finding — both previously read
        as live deltas in their own right):

        - ``<batch>__staging``: a fully-written staging dir whose
          swap never ran. It bears ``_SUCCESS`` (parquet wrote it;
          the RENAME is the commit), but it was never committed —
          reading it would surface uncommitted rows past
          ``exclude_batch`` (a replay would match its own earlier
          attempt), and compact would fold it into the base under a
          name no replay ever excludes. Always skipped.
        - ``<batch>__old``: replace_directory crashed mid-swap on a
          batch REWRITE; the parked dir is the batch's LAST-COMMITTED
          copy, not a new delta. While the live dir is missing it
          STANDS IN for the bare name (exclusion and the folded
          ledger apply to the bare name, so replay hiding still
          works); with the live dir present it is post-swap stale
          parking — reading both would double-count the batch."""
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        droot_s = self._delta_root(path)
        droot = jvm.org.apache.hadoop.fs.Path(droot_s)
        if not fs.exists(droot):
            return []
        # callers that already listed the _folded ledger pass it in
        # (saves an object-store LIST per call)
        if folded is None:
            folded = self._folded_names(path)
        out = []
        for st in fs.listStatus(droot):
            if not st.isDirectory():
                continue
            d = st.getPath().toString()
            name = st.getPath().getName()
            if name.endswith("__staging"):
                continue
            if name.endswith("__old"):
                bare = name[: -len("__old")]
                if fs.exists(
                    jvm.org.apache.hadoop.fs.Path(
                        os.path.join(droot_s, bare)
                    )
                ):
                    continue
                name = bare
            if exclude is not None and name == exclude:
                continue
            if name in folded:
                # already folded into the base by compact(); the dir is
                # a GC leftover (crash between swap and delete) — skip
                # it so reads never double-count
                continue
            if self._is_complete(d):
                out.append(d)
        return sorted(out)

    def _needs_build(self, path: str, corpus: str, refresh: bool) -> bool:
        """The lazy-getter (re)build gate, with mid-swap base
        recovery: an artifact base parked at ``<path>__old`` by a
        crashed maintenance swap must be RECOVERED, never rebuilt —
        :meth:`_write_atomic` clears the artifact's delta tree, so
        rebuilding from the caller's corpus frame would silently DROP
        every committed delta batch's rows (r16 crash-fuzz follow-up:
        the reachable path is a compact killed between its base swap
        renames, then any pipeline read that passes a frame).
        Recovery takes the lease only when a parked copy actually
        exists; the happy path stays one ``_SUCCESS`` probe."""
        if refresh:
            return True
        if self._is_complete(path):
            return False
        self._recover_if_parked(path, corpus)
        return not self._is_complete(path)

    def _build(
        self, path: str, corpus: str, refresh: bool, write, missing=None
    ) -> None:
        """The lazy getters' double-checked build: run ``write()``
        under the corpus lease only if :meth:`_needs_build` still
        holds once the lease is taken, so two jobs racing a first
        build never collide on the staging dir. ``missing``, when
        set, is raised as a ValueError instead of building (a getter
        with no frame to build from)."""
        if self._needs_build(path, corpus, refresh):
            if missing is not None:
                raise ValueError(missing)
            with self.lock(corpus):
                if self._needs_build(path, corpus, refresh):
                    write()

    def _recover_parked_base(self, path: str) -> None:
        """Mid-swap recovery for an ARTIFACT BASE directory: a crash
        between :func:`..sinks.files.replace_directory`'s two renames
        leaves the last-committed base parked at ``<path>__old`` with
        the live dir missing. Rename it back (the swap's documented
        recovery) so a maintenance re-run sees the committed state —
        found by the every-prefix crash fuzz (tests/test_crash_fuzz):
        without this, a re-run of ``ivf_retrain`` refused with the
        dead-end "no IVF index; build it first" and ``compact``
        silently skipped the artifact as never-materialized. Post-swap
        stale parking (live dir present) is left alone —
        ``replace_directory`` itself sweeps it on the next swap.
        Callers hold the corpus write lease."""
        recover_parked_directory(self.spark, path)

    def _recover_if_parked(self, path: str, corpus: str) -> None:
        """Lease-taking form of :meth:`_recover_parked_base` for
        entry points whose PRECONDITION checks would otherwise
        misread a mid-swap-parked base as "never built" and refuse
        with dead-end advice (append_batch / ivf_append arriving
        after a sibling maintenance op crashed mid-swap — the
        streaming ingest's compact_every path makes that ordering
        routine). The happy path stays one exists() probe; the lease
        is re-entrant, so callers already holding it are unaffected."""
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
        ):
            with self.lock(corpus):
                self._recover_parked_base(path)

    def _reserved_suffix_batches(self, path: str) -> list[str]:
        """One-time migration check for stores written BEFORE
        :meth:`_validate_batch_name` reserved the swap machinery's
        ``__old`` / ``__staging`` suffixes: a delta committed under a
        literal name like ``x__old`` is now silently REINTERPRETED by
        :meth:`_delta_paths` as a parked copy of ``x`` (skipped when
        ``x`` exists, folded/excluded under the bare name), and
        ``x__staging`` as an uncommitted staging dir (never read) —
        either way its rows quietly change meaning instead of erroring.
        Returns the names of ``_SUCCESS``-complete delta dirs under
        ``path``'s delta root bearing a reserved suffix, for the fsck
        to surface. Genuine crash leftovers share this shape (a parked
        dir IS a complete committed copy), so the caller reports a
        WARNING for manual adjudication, not a failure."""
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        droot_s = self._delta_root(path)
        droot = jvm.org.apache.hadoop.fs.Path(droot_s)
        if not fs.exists(droot):
            return []
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(droot)
            if st.isDirectory()
            and st.getPath().getName().endswith(("__old", "__staging"))
            and self._is_complete(st.getPath().toString())
        )

    # folded-batch markers: compact() publishes ``_folded/<batch>``
    # marker files INSIDE the new base directory in the same atomic
    # rename that publishes the folded rows, so "this delta is in the
    # base now" and the base itself can never disagree — a crash
    # between the swap and the delta-dir GC leaves a leftover dir that
    # readers skip via the marker, not a double-count. Underscore
    # prefix keeps Spark/Hadoop input listing from ever scanning it.
    def _folded_names(self, path: str) -> set[str]:
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        froot = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_folded"))
        if not fs.exists(froot):
            return set()
        return {st.getPath().getName() for st in fs.listStatus(froot)}

    def _rescale_markers(self, path: str) -> set[str]:
        """Rescale provenance markers published inside an IVF index
        base: ``_rescaled_from_<n>-<iters>`` (direct parent — written
        by the :meth:`ivf_rescale` that produced this family; the
        crash-rerun guard keys on it) and
        ``_rescaled_ancestor_<n>-<iters>`` (earlier links of a
        rescale chain, carried forward so :meth:`ivf_orphans` keeps
        seeing a still-orphaned great-grandparent; deliberately NOT
        honored by the sibling guard — a chained product is the
        direct product of its parent only, never of an ancestor key
        someone may later rebuild independently). Every base REWRITE
        (compact, retrain, rescale) must carry both kinds into the
        staged replacement exactly like the ``_folded`` ledger."""
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        hp = jvm.org.apache.hadoop.fs.Path
        if not fs.exists(hp(path)):
            return set()
        return {
            st.getPath().getName()
            for st in fs.listStatus(hp(path))
            if re.fullmatch(
                r"_rescaled_(?:from|ancestor)_\d+-\d+",
                st.getPath().getName(),
            )
        }

    #: file-count ceiling per delta directory. A batch is orders of
    #: magnitude smaller than the corpus, but its frame inherits the
    #: session's partition count — without a coalesce, thousands of
    #: committed epochs × 32 tiny files each is a metadata-operation
    #: DDoS on an object store. 4 keeps small-batch deltas compact
    #: while still letting a genuinely large backfill batch write in
    #: parallel via... nothing — backfills that big should refresh the
    #: base instead (or run compact() after).
    DELTA_MAX_FILES = 4

    def _append_delta(
        self,
        df: DataFrame,
        path: str,
        batch: str,
        partition_by: str | None = None,
    ) -> None:
        """The delta commit: stage ``df`` (at most
        :attr:`DELTA_MAX_FILES` files) and swap it in as
        ``<path>__delta/<batch>``, replacing any earlier commit of
        that batch wholesale (the at-least-once replay contract)."""
        self._validate_batch_name(batch)
        if batch in self._folded_names(path):
            # a committed-then-compacted name can never be replayed:
            # its rows live in the base, so exclude_batch can't hide
            # them and a re-commit would be silently invisible to
            # reads. Only compact epochs that can no longer replay
            # (compact(exclude=current)); anything else is misuse.
            raise ValueError(
                f"batch {batch!r} was already folded into the base of "
                f"{path} by compact(); re-committing it would be "
                "unreadable — use a new batch name or refresh the base"
            )
        dst = os.path.join(self._delta_root(path), batch)
        self._publish(
            self._stage(df.coalesce(self.DELTA_MAX_FILES), dst,
                        partition_by=partition_by),
            dst,
        )

    def _read(self, path: str, exclude_batch: str | None = None) -> DataFrame:
        """Base + committed deltas as one frame (multi-path scan; all
        parts share one schema by construction). ``exclude_batch``
        hides that delta-batch directory from the scan — the replay
        hook: a re-run of an at-least-once micro-batch must not see
        the delta its own earlier (possibly partial) attempt
        committed, or its documents would "match" themselves."""
        return self.spark.read.parquet(
            path, *self._delta_paths(path, exclude=exclude_batch)
        )

    def _sync_deltas(
        self, dst_path: str, src_path: str, derive, corpus: str
    ) -> None:
        """Backfill DERIVED-artifact deltas: for every committed delta
        batch of ``src_path`` with no counterpart under ``dst_path``,
        compute ``derive(delta_rows)`` and commit it under the same
        batch name. Keeps delta-name symmetry between a source
        artifact (postings/signatures) and aggregates derived from it
        (sizes/band census) — the property ``exclude_batch`` replay
        correctness rests on — including for stores whose batches were
        committed before the derived artifact existed. O(delta) per
        missing batch, never an O(corpus) rewrite.

        This is a WRITE on an otherwise-read path, so when (and only
        when) missing deltas exist it runs under the corpus lease,
        re-listing inside it (double-checked: a concurrent writer may
        have backfilled while we acquired)."""
        dst_root = self._delta_root(dst_path)

        def _missing():
            return [
                d
                for d in self._delta_paths(src_path)
                if not self._is_complete(
                    os.path.join(dst_root, self._batch_name(d))
                )
            ]

        if not _missing():
            return
        with self.lock(corpus):
            for d in _missing():
                self._append_delta(
                    derive(self.spark.read.parquet(d)),
                    dst_path,
                    self._batch_name(d),
                )

    # ------------------------------------------------------ artifacts
    def postings(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        portable: bool = False,
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(id, sh)`` hashed inverted index for ``corpus`` —
        computed from ``df`` and persisted on first call, read from
        Parquet afterwards. Row-identical to
        :func:`..operators.dedup.hashed_postings` (pinned by
        ``tests/test_signature_store.py``)."""
        path = self.postings_path(corpus, n, portable)
        self._build(path, corpus, refresh, lambda: self._write_atomic(
            hashed_postings(df, id_col, text_col, n, portable), path
        ))
        return self._read(path, exclude_batch)

    def signatures(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(id, m0..m{k-1})`` MinHash signature table — derived
        from the postings ARTIFACT (never re-tokenizes if postings
        already exist) and itself persisted. Row-identical to
        :func:`..operators.dedup.minhash_signatures`."""
        path = self.signatures_path(corpus, n, portable, num_hashes, seed)
        self._build(path, corpus, refresh, lambda: self._write_atomic(
            _signatures_from_hashed(
                self.postings(df, corpus, id_col, text_col, n, portable,
                              refresh=refresh),
                num_hashes, seed,
            ),
            path,
        ))
        return self._read(path, exclude_batch)

    def simhash_path(
        self, corpus: str, nbits: int = 64, portable: bool = False
    ) -> str:
        return os.path.join(
            self.root,
            "simhash_signatures",
            corpus,
            f"nbits={nbits}",
            f"portable={int(portable)}",
        )

    def simhash(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        nbits: int = 64,
        portable: bool = False,
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(id, sig)`` SimHash table — token-level (not derived
        from the shingle postings), so it is its own first-class
        artifact. Row-identical to
        :func:`..operators.dedup.simhash_signatures`; feeds
        ``simhash_pairs(sig=...)`` and the cross operator.

        Build it BEFORE the first ``append_batch`` if the incremental
        workflow will consume it: commits ride a simhash delta along
        only when this base exists, and a base built later from ``df``
        cannot reconstruct batch documents (their text is not stored).
        ``validate()`` flags that inconsistency."""
        path = self.simhash_path(corpus, nbits, portable)
        self._build(path, corpus, refresh, lambda: self._write_atomic(
            simhash_signatures(df, id_col, text_col, nbits, portable), path
        ))
        return self._read(path, exclude_batch)

    def simhash_census_path(
        self, corpus: str, nbits: int = 64, portable: bool = False
    ) -> str:
        return os.path.join(
            self.root,
            "simhash_census",
            corpus,
            f"nbits={nbits}",
            f"portable={int(portable)}",
        )

    def _simhash_variants(self, corpus: str) -> list[tuple[int, bool]]:
        """Discover every materialized SimHash variant for ``corpus``
        by listing ``simhash_signatures/<corpus>/nbits=*/portable=*``
        — maintenance entry points (:meth:`refresh_all`,
        :meth:`compact`, :meth:`maybe_compact`) iterate THIS instead
        of assuming ``nbits=64``, so a corpus whose simhash was built
        at any other width never silently keeps a stale base through
        a refresh or escapes the compaction delta watch. Listing
        only — no data is read. Incomplete (crashed-write) variants
        are skipped, like every other read."""
        return [
            (nbits, bool(portable))
            for nbits, portable in self._artifact_variants(
                "simhash_signatures", corpus, ("nbits", "portable"))
        ]

    def _artifact_variants(
        self, family: str, corpus: str, keys: tuple[str, ...]
    ) -> list[tuple[int, ...]]:
        """Discover every materialized parameter variant of a
        shingle-derived artifact family by walking its nested
        ``key=value`` directory levels under
        ``<root>/<family>/<corpus>/`` — the generalization of
        :meth:`_simhash_variants` that :meth:`refresh_all` iterates so
        NON-default variants (``n != 3``, ``portable=True``, other
        ``k``/``seed``/``bands``) are rebuilt too instead of silently
        surviving a refresh stale (r14 advice #3: a stale variant
        would otherwise outlive the refresh while :meth:`assert_fresh`
        then passes on the fresh fingerprint stamp). Listing only —
        no data read. Strict per-level name match: delta/staging
        sibling dirs (``portable=0__delta``) never parse as variants;
        incomplete (crashed-write) leaves are skipped, like every
        other read."""
        jvm, fs, _ = _hadoop_fs(self.spark, self.root)
        hp = jvm.org.apache.hadoop.fs.Path
        croot = os.path.join(self.root, family, corpus)
        if not fs.exists(hp(croot)):
            return []
        frontier: list[tuple[list[int], str]] = [([], croot)]
        for key in keys:
            val_pat = "[01]" if key == "portable" else r"-?\d+"
            pat = re.compile(rf"{re.escape(key)}=({val_pat})")
            nxt = []
            for vals, path in frontier:
                for st in fs.listStatus(hp(path)):
                    name = st.getPath().getName()
                    m = pat.fullmatch(name)
                    if st.isDirectory() and m:
                        nxt.append(
                            (vals + [int(m.group(1))],
                             os.path.join(path, name))
                        )
            frontier = nxt
        return sorted(
            tuple(vals)
            for vals, path in frontier
            if self._is_complete(path)
        )

    def simhash_census(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        nbits: int = 64,
        portable: bool = False,
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(chunk, cv, cnt)`` SimHash chunk-bucket census —
        derived from the simhash artifact exactly as ``band_census``
        derives from the MinHash signatures, and consumed the same
        way: filter ``cnt > cap`` for the corpus-side hot-bucket drop
        set of :func:`..operators.dedup.simhash_pairs_cross` without a
        per-batch O(corpus) census shuffle."""
        path = self.simhash_census_path(corpus, nbits, portable)
        self._build_derived(
            path, self.simhash_path(corpus, nbits, portable), corpus,
            refresh,
            lambda: self.simhash(df, corpus, id_col, text_col, nbits,
                                 portable),
            lambda sig: self._simhash_census_rows(sig, nbits),
        )
        return self._sum_cnt(self._read(path, exclude_batch), _CHUNK_KEYS)

    def fingerprints(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(id, fp)`` exact-content fingerprint table (md5 of
        normalized text; NULL for NULL text — SQL join semantics then
        guarantee a NULL-text document never "matches" anything). The
        exact tier of the incremental workflow anti-joins a new
        batch's fingerprints against this instead of re-scanning the
        corpus text."""
        path = self.fingerprints_path(corpus)
        self._build(path, corpus, refresh, lambda: self._write_atomic(
            df.select(F.col(id_col).alias("id"),
                      fingerprint(text_col).alias("fp")),
            path,
        ))
        return self._read(path, exclude_batch)

    @staticmethod
    def _content_stamp(pairs: DataFrame) -> str:
        """Order-insensitive, duplicate-sensitive content hash of an
        ``(id, fp)`` frame: row count + bit-XOR + decimal SUM of
        per-row ``xxhash64(id, fp)``. XOR and SUM are both
        commutative (no ordering assumption); the SUM closes the
        multiset hole count+XOR alone has (two frames differing by
        XOR-cancelling duplicate PAIRS — doc A twice in one frame,
        doc B twice in the other, rest equal — share count and XOR,
        but their hash sums differ by ``2*(h_A - h_B)``). The SUM is
        ANSI-safe via decimal(38,0): |sum| ≤ n·2^63, inside decimal
        range for any realistic n. One narrow scan, three scalars
        back to the driver."""
        row = (
            pairs.select(F.xxhash64("id", "fp").alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor("h").alias("x"),
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            )
            .first()
        )
        x = row["x"] if row["x"] is not None else 0
        s = row["s"] if row["s"] is not None else 0
        return f"{row['n']}:{x & 0xFFFFFFFFFFFFFFFF:016x}:{int(s)}"

    def _text_artifact_families(self) -> tuple[str, ...]:
        """Directory names of every text-derived artifact family
        (other than fingerprints), DERIVED from the ``*_path``
        helpers so there is one source of truth — a new family added
        to the helpers is automatically covered by assert_fresh's
        pre-fingerprint guard; a hardcoded mirror list would silently
        drop it and re-open the stale-stamp hole."""
        probe = "_family_probe_"
        return tuple(dict.fromkeys(
            os.path.relpath(p, self.root).split(os.sep)[0]
            for p in (
                self.postings_path(probe),
                self.signatures_path(probe),
                self.sizes_path(probe),
                self.band_census_path(probe),
                self.simhash_path(probe),
                self.simhash_census_path(probe),
            )
        ))

    def _nonfingerprint_artifact_roots(self, corpus: str) -> list[str]:
        """Text-derived artifact families (other than fingerprints)
        that already have ANY on-disk layout for ``corpus``. Directory
        presence, not ``_SUCCESS``, is the signal: even a partial
        build means text was processed whose content the frame in
        hand cannot vouch for."""
        jvm, fs, _ = _hadoop_fs(self.spark, self.root)
        hp = jvm.org.apache.hadoop.fs.Path
        return [
            fam
            for fam in self._text_artifact_families()
            if fs.exists(hp(os.path.join(self.root, fam, corpus)))
        ]

    def assert_fresh(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        """Loud staleness check: raise unless the persisted
        fingerprint artifact for ``corpus`` describes EXACTLY ``df``'s
        (id, content) set. Artifacts are keyed by corpus NAME only, so
        a caller that changed its frame under the same name (the eval
        suite of :func:`..pipelines.decontaminate_fuzzy_cross` is the
        canonical case: small, "static" — until someone revises the
        benchmark) would otherwise silently get answers computed from
        the OLD content. No stamp file is stored: the fingerprint
        artifact (md5 per normalized text, already part of every
        corpus) IS the content stamp. Cost: one narrow artifact
        scan + one ``df`` fingerprint pass — run it when handing a
        frame to a store-backed reader, skip it when passing None
        (explicitly trusting the artifacts).

        First-call semantics: if the corpus has NO artifacts at all
        yet, the call builds the fingerprint table from ``df`` — the
        "stamp at build time" half of the contract; every later call
        verifies against it. But if other text-derived artifacts
        (postings / signatures / sizes / census / simhash) already
        exist WITHOUT a fingerprint table — a store built before
        fingerprints existed, or a partial build — the call RAISES
        instead of stamping: a stamp built from the frame in hand
        would certify whatever ``df`` is NOW as "the" corpus content
        while every other artifact still describes whatever the
        corpus was WHEN THOSE WERE BUILT, and the (possibly stale)
        stamp would then match forever after. The caller must either
        ``refresh_all(df, corpus, ...)`` (rebuilding every artifact
        from ``df`` so stamp and store are one snapshot) or register
        the content under a new corpus name."""
        if df is None:
            raise ValueError(
                "assert_fresh needs the frame being vouched for; "
                "callers passing None are explicitly trusting the "
                "artifacts and should skip the check"
            )
        path = self.fingerprints_path(corpus)
        # a fingerprint base parked by a crashed maintenance swap must
        # not be misread as "store predates fingerprints" below
        self._recover_if_parked(path, corpus)
        if not self._is_complete(path):
            stale = self._nonfingerprint_artifact_roots(corpus)
            if stale:
                raise ValueError(
                    f"corpus {corpus!r} has text-derived artifacts "
                    f"({', '.join(stale)}) but no fingerprint table — "
                    "a store built before fingerprints existed (or a "
                    "partial build). Stamping fingerprints from the "
                    "frame in hand would certify it against artifacts "
                    "built from possibly-different content; rebuild "
                    f"everything with refresh_all(df, {corpus!r}) or "
                    "register the content under a new corpus name."
                )
            self.fingerprints(df, corpus, id_col, text_col)
            return
        expected = self._content_stamp(
            df.select(
                F.col(id_col).alias("id"),
                fingerprint(text_col).alias("fp"),
            )
        )
        actual = self._content_stamp(self.fingerprints(None, corpus))
        if expected != actual:
            raise ValueError(
                f"corpus {corpus!r} artifacts are stale: the persisted "
                f"fingerprints (stamp {actual}) do not match the frame "
                f"passed for it (stamp {expected}). The store keys "
                "artifacts by corpus name only — rebuild with "
                f"refresh_all(df, {corpus!r}) or register the revised "
                "content under a new corpus name."
            )

    @_with_lease
    def refresh_all(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
    ) -> None:
        """Rebuild EVERY artifact base for ``corpus`` from ``df`` and
        clear all deltas — the snapshot-invalidation entry point.
        Refreshing one artifact in isolation skews the corpus view
        (the exact tier would see batch documents the near-dup tier
        lost, or vice versa); this keeps all materialized artifacts —
        fingerprints, postings, signatures, sizes, band census, and,
        when their bases exist, the SimHash signature table and its
        census — one consistent snapshot. Build order follows the
        derivation chain so nothing re-tokenizes twice. SimHash
        artifacts refresh only if already materialized (they are
        opt-in; see :meth:`simhash`) — a corpus that never built them
        gains nothing from a refresh creating them.

        Variant coverage (r14 advice #3): the shingle-derived
        artifacts are parameterized (``n``/``portable`` for postings
        and sizes, plus ``k``/``seed`` for signatures, plus ``bands``
        for the census) and a corpus may hold SEVERAL materialized
        variants. The parameters passed here rebuild their variant as
        before; every OTHER materialized variant is then DISCOVERED
        (:meth:`_artifact_variants`, the :meth:`_simhash_variants`
        pattern) and rebuilt from the same snapshot — a stale
        non-default variant must not survive the refresh while
        :meth:`assert_fresh` then vouches for the corpus on the fresh
        fingerprint stamp. Discovery happens BEFORE any rebuild (a
        rebuild's staging/delta churn must not perturb the listing);
        derived variants rebuild read-through from the just-refreshed
        postings/signatures bases, so no variant re-tokenizes more
        than once per distinct ``(n, portable)``."""
        # discover materialized variants FIRST (listing only), then
        # close the derivation cascade: a census variant implies its
        # signatures variant, signatures/sizes imply their postings
        pairs = {(int(n), int(portable))}
        pairs.update(self._artifact_variants(
            "hashed_postings", corpus, ("n", "portable")))
        sig4 = {(int(n), int(portable), int(num_hashes), int(seed))}
        sig4.update(self._artifact_variants(
            "minhash_signatures", corpus, ("n", "portable", "k", "seed")))
        size2 = set(self._artifact_variants(
            "doc_sizes", corpus, ("n", "portable")))
        census5 = set(self._artifact_variants(
            "band_census", corpus, ("n", "portable", "k", "seed", "bands")))
        census5.add((int(n), int(portable), int(num_hashes), int(seed), 16))
        sig4.update(c[:4] for c in census5)
        pairs.update(s[:2] for s in sig4)
        pairs.update(size2)

        self.fingerprints(df, corpus, id_col, text_col, refresh=True)
        # postings: one re-tokenization per distinct (n, portable)
        for pn, pp in sorted(pairs):
            self.postings(df, corpus, id_col, text_col, pn, bool(pp),
                          refresh=True)
        # signatures from the just-refreshed postings bases (the
        # refresh=False call reads them; deltas were just cleared, so
        # base == snapshot — same read signatures(refresh=True) does)
        for sn, sp, sk, ss in sorted(sig4):
            self._write_atomic(
                _signatures_from_hashed(
                    self.postings(df, corpus, id_col, text_col, sn, bool(sp)),
                    sk, ss,
                ),
                self.signatures_path(corpus, sn, bool(sp), sk, ss),
            )
        # sizes: the passed variant always (as before), plus every
        # other materialized one — read-through from fresh postings
        size2.add((int(n), int(portable)))
        for zn, zp in sorted(size2):
            self.sizes(df, corpus, id_col, text_col, zn, bool(zp),
                       refresh=True)
        # censuses from the just-refreshed signatures bases
        for cn, cp, ck, cs, cb in sorted(census5):
            self._write_atomic(
                self._band_census_rows(
                    self.spark.read.parquet(
                        self.signatures_path(corpus, cn, bool(cp), ck, cs)
                    ),
                    ck, cb,
                ),
                self.band_census_path(corpus, cn, bool(cp), ck, cs, cb),
            )
        # simhash is token-level (its own derivation root): an existing
        # base left un-refreshed would silently keep the OLD corpus
        # view while every shingle-derived artifact moved on — exactly
        # the skew refresh_all exists to prevent. Variants are
        # DISCOVERED (every materialized nbits/portable combination),
        # not assumed to be the nbits=64 default
        for nbits, sh_portable in self._simhash_variants(corpus):
            self.simhash(df, corpus, id_col, text_col, nbits, sh_portable,
                         refresh=True)
            if self._is_complete(
                self.simhash_census_path(corpus, nbits, sh_portable)
            ):
                self.simhash_census(
                    df, corpus, id_col, text_col, nbits, sh_portable,
                    refresh=True,
                )

    # ------------------------------------------ derived aggregates
    # These exist to kill the two per-batch O(corpus) SHUFFLES the
    # incremental workflow would otherwise pay inside
    # ``minhash_lsh_pairs_cross``: the shingle-set sizes
    # (``posts.groupBy(id).count()`` over the corpus postings — the
    # largest artifact) and the LSH hot-bucket census
    # (``groupBy(band, bh)`` over the band-exploded corpus
    # signatures). Both are pure functions of existing artifacts, so
    # they are derived read-through (never from raw text) and kept
    # delta-symmetric with their source via :meth:`_sync_deltas`.

    @staticmethod
    def _sizes_from_posts(posts: DataFrame) -> DataFrame:
        return posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))

    @staticmethod
    def _band_census_rows(
        sig: DataFrame, num_hashes: int, bands: int
    ) -> DataFrame:
        """``(band, bh, cnt)``: documents per LSH band key."""
        return (
            _banded_keys(sig, num_hashes, bands)
            .groupBy(*_BAND_KEYS)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    @staticmethod
    def _simhash_census_rows(sig: DataFrame, nbits: int) -> DataFrame:
        """``(chunk, cv, cnt)``: documents per value of each of the
        four ``nbits // 4``-bit SimHash chunks."""
        chunk_bits = nbits // 4
        chunk_mask = (1 << chunk_bits) - 1
        chunks = [
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftright(F.col("sig"), i * chunk_bits)
                .bitwiseAND(F.lit(chunk_mask))
                .alias("cv"),
            )
            for i in range(4)
        ]
        return (
            sig.select(F.explode(F.array(*chunks)).alias("ck"))
            .select("ck.chunk", "ck.cv")
            .groupBy(*_CHUNK_KEYS)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    @staticmethod
    def _sum_cnt(census: DataFrame, keys: tuple[str, ...]) -> DataFrame:
        """Re-aggregate census rows: base and delta rows overlap on
        bucket keys, so the live count is ``sum(cnt)`` per key."""
        return census.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))

    def _build_derived(
        self, path: str, src_path: str, corpus: str, refresh: bool,
        build_src, derive,
    ) -> None:
        """Build a derived aggregate from its source artifact's base
        (``build_src()`` first makes sure that exists), then backfill
        one derived delta per source delta (:meth:`_sync_deltas`)."""

        def write():
            build_src()
            self._write_atomic(derive(self.spark.read.parquet(src_path)),
                               path)

        self._build(path, corpus, refresh, write)
        self._sync_deltas(path, src_path, derive, corpus)

    def sizes(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        portable: bool = False,
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(id, sz)`` shingle-set-size table — one row per
        document, derived from the postings artifact. Consumers that
        need ``|set|`` for Jaccard denominators (the cross-corpus
        verify) read this instead of re-grouping O(total-tokens)
        postings rows per batch. Ids are disjoint across base and
        deltas, so the multi-path read needs no re-aggregation."""
        path = self.sizes_path(corpus, n, portable)
        self._build_derived(
            path, self.postings_path(corpus, n, portable), corpus, refresh,
            lambda: self.postings(df, corpus, id_col, text_col, n, portable),
            self._sizes_from_posts,
        )
        return self._read(path, exclude_batch)

    def band_census(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
        bands: int = 16,
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(band, bh, cnt)`` LSH bucket census — how many corpus
        documents hold each band key, derived from the signatures
        artifact. The incremental workflow filters ``cnt > cap`` to
        get the hot-bucket drop set WITHOUT the per-batch
        O(corpus×bands) census shuffle ``drop_hot_buckets`` would run.
        Base and delta rows overlap on bucket keys, so the read
        re-aggregates — over census rows (≤ distinct buckets), not
        corpus rows."""
        path = self.band_census_path(corpus, n, portable, num_hashes, seed, bands)
        self._build_derived(
            path, self.signatures_path(corpus, n, portable, num_hashes, seed),
            corpus, refresh,
            lambda: self.signatures(df, corpus, id_col, text_col, n,
                                    portable, num_hashes, seed),
            lambda sig: self._band_census_rows(sig, num_hashes, bands),
        )
        return self._sum_cnt(self._read(path, exclude_batch), _BAND_KEYS)

    # ------------------------------------------------- compaction
    def maybe_compact(
        self,
        corpus: str,
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
        max_deltas: int = 16,
        exclude: str | None = None,
    ) -> int:
        """Threshold-triggered :meth:`compact`: fold only when some
        artifact's LIVE delta count exceeds ``max_deltas`` — the
        self-scheduling form a long-running ingestion calls every
        epoch instead of hardcoding a cadence. Delta counts drive the
        real cost (file listings and multi-path scan fan-out per
        read), so the trigger watches them directly: a bursty stream
        compacts more often, a trickle almost never. Returns 0
        without taking the lease when under threshold (the count is a
        listing, not a scan); otherwise returns ``compact()``'s fold
        count."""
        live = max(
            (
                len(self._delta_paths(p, exclude=exclude))
                for p, _ in self._fold_targets(
                    corpus, n, portable, num_hashes, seed)
                if self._is_complete(p)
            ),
            default=0,
        )
        if live <= max_deltas:
            return 0
        return self.compact(
            corpus, n=n, portable=portable,
            num_hashes=num_hashes, seed=seed, exclude=exclude,
        )

    @_with_lease
    def compact(
        self,
        corpus: str,
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
        exclude: str | None = None,
    ) -> int:
        """Fold committed delta batches into each artifact's base and
        GC their directories — the periodic maintenance pass a
        long-running incremental pipeline schedules so file counts
        stay O(artifacts), not O(epochs × files-per-delta).

        Row-preserving by construction: fingerprints / postings /
        signatures / sizes deltas are id-disjoint with the base, so
        the new base is the plain union; the band census re-aggregates
        ``sum(cnt)`` over bucket keys.

        Crash-safe by marker: the new base directory is staged with
        ``_folded/<batch>`` marker files inside it and published in
        ONE atomic rename, so the folded rows and the fact that their
        delta is folded can never disagree — a crash between the swap
        and the delta-dir GC leaves a leftover directory that every
        read skips via the marker (no double-count), and the next
        compact GCs it. A crash before the swap changes nothing.
        Artifacts compact independently; a crash mid-pass leaves later
        artifacts merely un-compacted, never wrong.

        ``exclude`` keeps that one delta batch out of the fold — the
        replay hook: a streaming epoch may compact INSIDE its own
        ``foreachBatch`` body (older epochs can no longer replay once
        this epoch started) but must exclude its own just-committed
        delta, because this epoch CAN still replay and a replay's
        ``exclude_batch`` read cannot hide rows that were folded into
        the base. ``_append_delta`` refuses to re-commit a folded name
        for the same reason — and the ``_folded`` marker set is a
        persistent ledger carried forward into every new base, so the
        refusal holds across ANY number of later compactions, not
        just the first.

        Returns the max number of delta batches folded across the
        artifacts (0 = nothing to do). Requires no concurrent
        ``append_batch`` on this corpus (a delta committed between an
        artifact's read and its swap would be dropped) — inside a
        serialized ``foreachBatch`` epoch this holds by construction.
        """
        # backfill derived-artifact deltas BEFORE folding their source:
        # once a postings/signatures delta is folded into the base its
        # directory is gone, and _sync_deltas could never reconstruct
        # the per-batch sizes/census rows for a batch committed before
        # the derived artifact existed
        if self._is_complete(self.sizes_path(corpus, n, portable)):
            self.sizes(None, corpus, n=n, portable=portable)
        if self._is_complete(
            self.band_census_path(corpus, n, portable, num_hashes, seed)
        ):
            self.band_census(
                None, corpus, n=n, portable=portable,
                num_hashes=num_hashes, seed=seed,
            )
        for nbits, sh_portable in self._simhash_variants(corpus):
            if self._is_complete(
                self.simhash_census_path(corpus, nbits, sh_portable)
            ):
                self.simhash_census(
                    None, corpus, nbits=nbits, portable=sh_portable
                )
        return max(
            self._compact_one(path, exclude, census_keys)
            for path, census_keys in self._fold_targets(
                corpus, n, portable, num_hashes, seed)
        )

    def _fold_targets(
        self, corpus: str, n: int, portable: bool, num_hashes: int, seed: int
    ) -> list[tuple[str, tuple[str, ...] | None]]:
        """``(path, census keys)`` of every artifact :meth:`compact`
        folds, in fold order. Censuses re-aggregate ``sum(cnt)`` over
        their keys on fold; everything else (keys None) is an
        id-disjoint plain union."""
        targets = [
            (self.fingerprints_path(corpus), None),
            (self.postings_path(corpus, n, portable), None),
            (self.signatures_path(corpus, n, portable, num_hashes, seed), None),
            (self.sizes_path(corpus, n, portable), None),
            (self.band_census_path(corpus, n, portable, num_hashes, seed),
             _BAND_KEYS),
        ]
        for nbits, sh_portable in self._simhash_variants(corpus):
            targets.append((self.simhash_path(corpus, nbits, sh_portable), None))
            targets.append((self.simhash_census_path(corpus, nbits, sh_portable),
                            _CHUNK_KEYS))
        return targets

    def _ledger_markers(self, path: str, ledger) -> list[str]:
        """Markers a rewrite of ``path``'s base carries into its
        staging dir: ``_folded/<batch>`` for every ledger name, plus
        the base's rescale provenance markers."""
        return [os.path.join("_folded", nm) for nm in ledger] + list(
            self._rescale_markers(path)
        )

    def _read_roots(self, path: str, deltas: list[str]) -> DataFrame:
        """Base + ``deltas`` of a cell-partitioned artifact, read per
        root and unioned, NOT as one multi-path read: each root is its
        own partitioned table, so Spark's partition discovery — and
        the pruning a probe's ``cell IN (...)`` filter relies on —
        works per scan; a multi-path read would try to infer one
        partition scheme across roots of different depths. Deltas are
        read with the base's EXPLICIT schema: an epoch where every
        row deduped away commits an EMPTY delta (the replay contract
        still needs the wholesale-replace target), and an empty dir
        has nothing to infer a schema from."""
        out = self.spark.read.parquet(path)
        for d in deltas:
            out = out.unionByName(self.spark.read.schema(out.schema).parquet(d))
        return out

    def _compact_one(
        self,
        path: str,
        exclude: str | None = None,
        census_keys: tuple[str, ...] | None = None,
        partition_by: str | None = None,
    ) -> int:
        """Fold one artifact's deltas into its base with the marker
        protocol (see :meth:`compact`). Returns #deltas folded."""
        # a base parked mid-swap by a crashed earlier compact must be
        # recovered BEFORE the completeness gate, or this pass would
        # misread "crashed maintenance" as "never materialized" and
        # silently skip the artifact (crash-fuzz finding)
        self._recover_parked_base(path)
        if not self._is_complete(path):
            return 0  # derived artifact never materialized — skip
        jvm, fs, _ = _hadoop_fs(self.spark, path)
        hp = jvm.org.apache.hadoop.fs.Path
        droot = self._delta_root(path)
        # sweep leftovers of a crashed earlier GC first (dirs whose
        # names are already markered as folded, including a parked
        # ``__old`` copy of one): reads were already skipping them,
        # this just reclaims the space
        for nm in self._folded_names(path):
            for leftover in (nm, nm + "__old"):
                left = hp(os.path.join(droot, leftover))
                if fs.exists(left):
                    fs.delete(left, True)
        deltas = self._delta_paths(path, exclude=exclude)
        if not deltas:
            return 0
        names = {self._batch_name(d) for d in deltas}
        # the marker set is a persistent ledger: carry every
        # previously-folded name forward into the new base, or the
        # _append_delta replay refusal would only survive ONE
        # compaction — a batch folded two compactions ago could be
        # re-committed and double-count against the base undetected.
        # Cost: O(total batches ever folded) empty marker files per
        # compact — bounded by epoch count, reclaimed only by a base
        # refresh (which legitimately resets replay history).
        ledger = names | self._folded_names(path)
        if partition_by is None:
            merged = self.spark.read.parquet(path, *deltas)
        else:
            merged = self._read_roots(path, deltas)
        if census_keys is not None:
            merged = self._sum_cnt(merged, census_keys)
        # markers ride the staging dir into the atomic swap: the
        # folded rows and the folded-ness of their deltas publish
        # together or not at all (ledger = newly folded ∪ all prior);
        # rescale provenance markers ride the same swap or ivf_orphans
        # and the rescale re-run guard lose their record. The GC then
        # deletes the ACTUAL folded directories (a parked
        # ``<batch>__old`` stand-in lives under its physical name)
        self._publish(
            self._stage(merged, path, partition_by=partition_by,
                        markers=self._ledger_markers(path, ledger)),
            path,
            deltas,
        )
        return len(names)

    # ------------------------------------------- IVF vector index
    # The embedding twin of the MinHash artifacts: train the coarse
    # quantizer ONCE, persist (cell, id, v) PARTITIONED BY CELL, and
    # let every probe read only its nprobe cells via Spark partition
    # pruning — the inverted-file read, expressed as a lake layout.
    # At 100 TB the per-query cost is O(cells probed), never
    # O(corpus); daily embedding batches append as cell-partitioned
    # deltas (no retrain — standard IVF; refresh=True retrains).

    def ivf_centroids_path(
        self, corpus: str, n_centroids: int = 16, iters: int = 3
    ) -> str:
        return os.path.join(
            self.root, "ivf_centroids", corpus,
            f"c={n_centroids}", f"iters={iters}",
        )

    def ivf_index_path(
        self, corpus: str, n_centroids: int = 16, iters: int = 3
    ) -> str:
        return os.path.join(
            self.root, "ivf_index", corpus,
            f"c={n_centroids}", f"iters={iters}",
        )

    def ivf_active_path(self, corpus: str) -> str:
        return os.path.join(self.root, "ivf_active", corpus)

    @_with_lease
    def ivf_set_active(self, corpus: str, n_centroids: int, iters: int) -> None:
        """Record the corpus's ACTIVE IVF family key. The IVF artifact
        paths key by (n_centroids, iters), so a rescale publishes a
        SIBLING family — without a shared pointer every consumer would
        have to learn the new cell count out of band. This one-row
        marker (written with the same staged-atomic machinery as every
        artifact) is that pointer: :meth:`ivf_active` resolves it, and
        callers that pass ``n_centroids=None`` (the streaming ingest,
        the indexed probe) follow the rescale automatically on their
        next epoch/call. Written on first index build (if absent) and
        bumped by :meth:`ivf_rescale` BEFORE the old family is GC'd.

        Lease-guarded (r14 advice #2): :meth:`ivf_rescale`'s
        exclude-epoch guard resolves copy authority from the active
        marker and assumes it cannot move mid-run; an unguarded
        concurrent ``ivf_set_active`` could flip that authority after
        the guard resolved it and the wrong copy would be swept. The
        lease is re-entrant (``_lease_depth``), so the internal calls
        from ivf_rescale / the first-build stamp — which already hold
        it — are unaffected."""
        self._write_atomic(
            self.spark.createDataFrame(
                [(int(n_centroids), int(iters))],
                "n_centroids int, iters int",
            ).coalesce(1),
            self.ivf_active_path(corpus),
        )

    def ivf_active(self, corpus: str) -> tuple[int, int] | None:
        """The active (n_centroids, iters) family key, or None if no
        marker exists (pre-marker stores keep working: every consumer
        falls back to its explicit/default key)."""
        path = self.ivf_active_path(corpus)
        if not self._is_complete(path):
            # a marker parked by a crashed ivf_set_active swap still
            # names the active family — answering "no marker" here
            # would silently redirect n_centroids=None consumers to
            # the DEFAULT key mid-crash. Pure read, no lease: the
            # parked copy stands in until a writer recovers it.
            parked = path.rstrip("/") + "__old"
            if not self._is_complete(parked):
                return None
            path = parked
        r = self.spark.read.parquet(path).first()
        return (int(r["n_centroids"]), int(r["iters"]))

    def ivf_resolve(
        self, corpus: str, n_centroids: int | None, iters: int | None,
        default_n: int = 16, default_iters: int = 3,
    ) -> tuple[int, int]:
        """Resolve a caller's (possibly None) family key: explicit
        values win, else the active marker, else the defaults."""
        if n_centroids is not None and iters is not None:
            return (n_centroids, iters)
        active = self.ivf_active(corpus)
        if active is not None:
            return (
                n_centroids if n_centroids is not None else active[0],
                iters if iters is not None else active[1],
            )
        return (
            n_centroids if n_centroids is not None else default_n,
            iters if iters is not None else default_iters,
        )

    def ivf_families(self, corpus: str) -> list[tuple[int, int]]:
        """Every COMPLETED IVF family key for the corpus, discovered
        from the artifact layout (``c=<n>/iters=<i>`` directories
        whose index bears ``_SUCCESS``). Used by the first-build
        active-marker stamp: on a pre-marker store (family built
        before the marker existed) the stamp must NOT let a later
        explicit sibling build steal the active key from the
        original family — "first family becomes active" means first
        ON DISK, not first to run under marker-aware code."""
        base = os.path.join(self.root, "ivf_index", corpus)
        jvm, fs, _ = _hadoop_fs(self.spark, base)
        hp = jvm.org.apache.hadoop.fs.Path
        if not fs.exists(hp(base)):
            return []
        fams = set()
        for st in fs.listStatus(hp(base)):
            nm = st.getPath().getName()
            if not (
                st.isDirectory() and re.fullmatch(r"c=\d+", nm)
            ):
                continue
            # the swap machinery's sibling dirs live at the iters
            # level (``iters=<i>__delta`` trees, ``__staging`` writes,
            # and ``__old`` parking — mid-swap when the bare dir is
            # missing, stale when a crash skipped the post-swap
            # sweep): ``__delta``/``__staging`` are never committed
            # state, and a COMPLETE parked copy stands in for its
            # bare name, exactly as ``_delta_paths`` treats batch
            # parking — the int parse crashed on ``iters=1__old``
            # before this (found by the ivf_compact crash fuzz).
            live: set[int] = set()
            parked: set[int] = set()
            for st2 in fs.listStatus(st.getPath()):
                nm2 = st2.getPath().getName()
                if not st2.isDirectory():
                    continue
                if re.fullmatch(r"iters=\d+", nm2):
                    if self._is_complete(st2.getPath().toString()):
                        live.add(int(nm2[6:]))
                    continue
                m = re.fullmatch(r"iters=(\d+)__old", nm2)
                if m and self._is_complete(st2.getPath().toString()):
                    parked.add(int(m.group(1)))
            for it in live | parked:
                fams.add((int(nm[2:]), it))
        return sorted(fams)

    def ivf_orphans(self, corpus: str) -> list[tuple[int, int]]:
        """Families that look like RESCALE LEFTOVERS: a completed
        family A whose key appears in another completed family's
        ``_rescaled_from_<n>-<iters>`` provenance marker — i.e. the
        rescale that produced the product family finished publishing
        but (per the crash contract) may not have reached the
        old-family GC. :meth:`ivf_rescale` documents that such an
        orphan is harmless to readers and deleted manually; this is
        the report that manual step starts from. A REPORT, not an
        auto-GC: the same on-disk shape also arises when an operator
        deliberately REBUILT the source family after a completed
        rescale (the re-run path the provenance marker permits), and
        only the operator knows which family current jobs read —
        verify against the active marker (:meth:`ivf_active`) and
        pinned consumer configs before deleting."""
        fams = set(self.ivf_families(corpus))
        sources: set[tuple[int, int]] = set()
        for n, it in fams:
            for nm in self._rescale_markers(
                self.ivf_index_path(corpus, n, it)
            ):
                m = re.fullmatch(
                    r"_rescaled_(?:from|ancestor)_(\d+)-(\d+)", nm
                )
                sources.add((int(m.group(1)), int(m.group(2))))
        return sorted(fams & sources)

    def ivf_centroids(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        iters: int = 3,
        refresh: bool = False,
    ):
        """The trained coarse-quantizer centroids as an ``ndarray``
        ordered by cell id — computed from ``df`` once
        (:func:`..operators.similarity.kmeans_centroids`: bounded
        hash-sample + driver Lloyd, deterministic) and persisted as a
        tiny ``(cell, v)`` Parquet. ``n_centroids × dim`` doubles —
        always driver-safe to collect."""
        from .operators.similarity import kmeans_centroids

        import numpy as np

        path = self.ivf_centroids_path(corpus, n_centroids, iters)
        self._build(
            path, corpus, refresh,
            lambda: self._write_centroids(
                kmeans_centroids(df, n_centroids, id_col=id_col,
                                 vec_col=vec_col, iters=iters),
                path,
            ),
            missing=None if df is not None else (
                f"corpus {corpus!r} has no IVF centroids at {path} "
                "and no df given to train them — check that "
                "n_centroids/iters match the index you built"
            ),
        )
        got = sorted(
            self.spark.read.parquet(path).collect(), key=lambda r: r["cell"]
        )
        return np.asarray([r["v"] for r in got], dtype=np.float64)

    @staticmethod
    def _no_index(corpus: str, path: str) -> ValueError:
        """The refusal of an IVF maintenance call with no index built."""
        return ValueError(
            f"corpus {corpus!r} has no IVF index at {path}; build it "
            "first (ivf_index with the corpus frame)"
        )

    def _write_centroids(self, C, path: str) -> None:
        """Publish a trained quantizer as the tiny ``(cell, v)`` table."""
        self._write_atomic(
            self.spark.createDataFrame(
                [(i, [float(x) for x in C[i]]) for i in range(len(C))],
                "cell int, v array<double>",
            ).coalesce(1),
            path,
        )

    def _ivf_rows(
        self, df: DataFrame, centroids, id_col: str, vec_col: str
    ) -> DataFrame:
        from .operators.similarity import _dbl, ivf_assignments

        assigned = ivf_assignments(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v")),
            centroids, "id", "_v", nprobe=1,
        )
        vecs = df.select(
            F.col(id_col).alias("id"), _dbl(F.col(vec_col)).alias("v")
        )
        return assigned.join(vecs, "id").select("cell", "id", "v")

    def _reassign_delta(self, src: str, base: str, C, batch: str) -> None:
        """Re-assign the vectors of the delta dir ``src`` under the
        quantizer ``C`` and commit them as ``batch`` of the index at
        ``base``. Explicit base schema: the delta may be EMPTY (an
        epoch where everything deduped away)."""
        vecs = self.spark.read.schema(
            self.spark.read.parquet(base).schema
        ).parquet(src)
        self._append_delta(
            self._ivf_rows(vecs.select("id", "v"), C, "id", "v"),
            base, batch, "cell",
        )

    def ivf_index(
        self,
        df: DataFrame,
        corpus: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        iters: int = 3,
        refresh: bool = False,
        exclude_batch: str | None = None,
    ) -> DataFrame:
        """The ``(cell, id, v)`` inverted file, PARTITIONED BY CELL —
        one corpus scan to build (assign + join, Arrow matmul per
        batch), then every probe filters ``cell IN (probed)`` and
        Spark's partition pruning reads only those directories, base
        and deltas alike. Vectors are stored cast to double so scores
        are bit-stable."""
        path = self.ivf_index_path(corpus, n_centroids, iters)

        def write():
            C = self.ivf_centroids(
                df, corpus, id_col, vec_col, n_centroids, iters,
                refresh=refresh,
            )
            self._write_atomic(self._ivf_rows(df, C, id_col, vec_col), path,
                               "cell")
            # first family for this corpus becomes the active key; an
            # explicit sibling build never steals it. "First" is
            # checked ON DISK (ivf_families), not just by marker
            # absence: a pre-marker store has families but no marker,
            # and stamping a sibling build there would silently
            # redirect n_centroids=None consumers away from the
            # original family.
            if self.ivf_active(corpus) is None and all(
                fam == (n_centroids, iters)
                for fam in self.ivf_families(corpus)
            ):
                self.ivf_set_active(corpus, n_centroids, iters)

        self._build(
            path, corpus, refresh, write,
            missing=None if df is not None else (
                f"corpus {corpus!r} has no IVF index at {path} and no "
                "df given to build it — check that n_centroids/iters "
                "match the index you built"
            ),
        )
        return self._read_roots(
            path, self._delta_paths(path, exclude=exclude_batch)
        ).select("cell", "id", "v")

    @_with_lease
    def ivf_append(
        self,
        new_df: DataFrame,
        corpus: str,
        batch: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        iters: int = 3,
    ) -> None:
        """Commit a batch of NEW vectors into the index as an
        O(batch), cell-partitioned delta: assign against the EXISTING
        centroids (no retrain — the standard IVF append; cell quality
        degrades only if the distribution drifts, at which point
        ``ivf_index(refresh=True)`` retrains). Same ``__delta/<batch>``
        mechanics as the MinHash artifacts: atomic, idempotent on
        re-commit, folded-name refusal, ``exclude_batch``-hideable."""
        # the name check runs before any recovery, the folded check
        # before the centroid read; the commit itself (_append_delta)
        # repeats both
        self._validate_batch_name(batch)
        path = self.ivf_index_path(corpus, n_centroids, iters)
        self._recover_if_parked(path, corpus)
        self._recover_if_parked(
            self.ivf_centroids_path(corpus, n_centroids, iters), corpus
        )
        if not self._is_complete(path):
            raise self._no_index(corpus, path)
        if batch in self._folded_names(path):
            raise ValueError(
                f"batch {batch!r} was already folded into the base of "
                f"{path} by compact(); use a new batch name"
            )
        C = self.ivf_centroids(
            None, corpus, id_col, vec_col, n_centroids, iters
        )
        self._append_delta(
            self._ivf_rows(new_df, C, id_col, vec_col), path, batch, "cell"
        )

    @_with_lease
    def ivf_compact(
        self,
        corpus: str,
        n_centroids: int = 16,
        iters: int = 3,
        exclude: str | None = None,
    ) -> int:
        """:meth:`compact` for the IVF index: fold appended vector
        deltas into the cell-partitioned base (same marker protocol,
        same quiescent-window and ``exclude`` contracts), preserving
        the partition layout probes prune on."""
        return self._compact_one(
            self.ivf_index_path(corpus, n_centroids, iters),
            exclude=exclude,
            partition_by="cell",
        )

    def ivf_cell_stats(
        self, corpus: str, n_centroids: int = 16, iters: int = 3
    ) -> dict:
        """Per-cell occupancy of the LIVE index view (base + deltas) —
        the drift signal an embedding ingestion watches. One narrow
        scan, at most ``n_centroids`` count rows back to the driver,
        never vectors.

        ``balance`` = max cell count / mean occupied-cell count (1.0
        is perfectly even). :meth:`ivf_append` assigns against frozen
        centroids, so a drifting vector distribution shows up here as
        a few cells absorbing most new rows — and probe cost is
        per-cell scan cost, so a hot cell is a hot probe."""
        idx = self.ivf_index(
            None, corpus, n_centroids=n_centroids, iters=iters
        )
        per = {
            int(r["cell"]): int(r["n"])
            for r in idx.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        total = sum(per.values())
        occupied = len(per)
        mx = max(per.values(), default=0)
        mean = (total / occupied) if occupied else 0.0
        return {
            "cells": per,
            "total": total,
            "occupied": occupied,
            "empty": max(n_centroids - occupied, 0),
            "max": mx,
            "balance": (mx / mean) if mean else 0.0,
        }

    @_with_lease
    def ivf_retrain(
        self,
        corpus: str,
        n_centroids: int = 16,
        iters: int = 3,
        exclude: str | None = None,
    ) -> int:
        """Retrain the coarse quantizer FROM THE INDEX'S OWN VECTORS
        and rebuild the cell layout — the drift-repair path.
        :meth:`ivf_append` deliberately never retrains (O(batch),
        frozen centroids); once the distribution has drifted far
        enough that a few cells absorb most traffic (see
        :meth:`ivf_cell_stats`), this folds base + deltas through a
        fresh k-means and rewrites both artifacts. The original
        corpus frame is NOT needed: the index stores ``(cell, id,
        v)`` with ``v`` already double, so rebuilds are schedulable
        from the maintenance loop without re-reading the source lake.
        Returns the number of deltas folded into the rebuilt base.

        Replay ledger: every live delta name plus every previously
        folded name rides into the new base's ``_folded`` markers, so
        an at-least-once re-commit of an old batch is still refused
        after any number of retrains (same contract as
        :meth:`compact`).

        ``exclude``: leave that delta LIVE through the rebuild (the
        in-epoch contract :meth:`compact` has — a streaming ingest
        retrains with ``exclude=`` the current epoch so an
        at-least-once replay can still wholesale-replace it). Because
        the quantizer changes, the excluded delta is re-assigned
        under the new centroids and rewritten in place after the
        swap; its name is NOT ledgered.

        Crash contract: the reassigned index is fully staged first,
        then centroids swap, then the index swaps, then the excluded
        delta (if any) is rewritten. A crash between the swaps leaves
        rows assigned under the OLD quantizer with NEW centroids
        persisted — :meth:`validate_ivf` flags the misassignment, and
        the recovery is to re-run ``ivf_retrain`` (every write is a
        wholesale replace, so the re-run is idempotent).

        Live-reader window: readers never take the lease, so a probe
        that loads centroids and the index while the two swaps are in
        flight can pair the NEW quantizer with the OLD cell layout
        (or, having cached old centroids, the old quantizer with the
        new layout) — a transient, silent recall dip for exactly the
        queries in flight during the swap, self-healing on the next
        read. Swap order cannot remove the window (either order pairs
        one stale artifact with one fresh one); a deployment that
        cannot tolerate it should schedule retrains in the same
        maintenance slot as :meth:`compact`, when no probes run."""
        from .operators.similarity import kmeans_centroids

        ipath = self.ivf_index_path(corpus, n_centroids, iters)
        cpath = self.ivf_centroids_path(corpus, n_centroids, iters)
        # a crashed earlier retrain can park EITHER base mid-swap
        # (centroids swap first, index second); recover both before
        # the completeness gate, or the documented recovery — re-run
        # ivf_retrain — refuses with the dead-end "no IVF index;
        # build it first" (crash-fuzz finding)
        self._recover_parked_base(cpath)
        self._recover_parked_base(ipath)
        if not self._is_complete(ipath):
            raise self._no_index(corpus, ipath)
        jvm, fs, _ = _hadoop_fs(self.spark, ipath)
        hp = jvm.org.apache.hadoop.fs.Path
        droot = self._delta_root(ipath)
        # the exclude epoch may be parked mid-swap at '<epoch>__old'
        # (a crashed re-assign or epoch-commit swap); recover it
        # first so the post-retrain re-assign below finds and
        # re-bins it — a parked stand-in left in place would keep
        # OLD-quantizer cell assignments after the retrain
        self._recover_parked_delta(droot, exclude)
        deltas = self._delta_paths(ipath, exclude=exclude)
        names = {self._batch_name(d) for d in deltas}
        ledger = names | self._folded_names(ipath)

        live = self.ivf_index(
            None, corpus, n_centroids=n_centroids, iters=iters,
            exclude_batch=exclude,
        )
        # new quantizer from the index's own vectors: bounded
        # hash-sample + driver Lloyd, collected BEFORE any swap.
        # Farthest-first seeding: the whole point of a retrain is that
        # the distribution MOVED, so seeds must be able to land where
        # it lives now — first-ids seeding starts every centroid in
        # the base region and bounded repair depth in the r11 A/B
        C = kmeans_centroids(
            live, n_centroids, id_col="id", vec_col="v", iters=iters,
            seeding="spread",
        )
        # full reassignment, staged from the still-live old view; the
        # staging job completes before either artifact swaps. The
        # ledger and the rescale provenance ride the index swap
        tmp = self._stage(
            self._ivf_rows(live.select("id", "v"), C, "id", "v"), ipath,
            "__retrain_staging", "cell", self._ledger_markers(ipath, ledger),
        )
        # centroids first, index second (see crash contract above);
        # then GC the ACTUAL folded directories (a parked
        # '<batch>__old' stand-in lives under its physical name)
        self._write_centroids(C, cpath)
        self._publish(tmp, ipath, deltas)
        # re-assign the still-live exclude delta under the NEW
        # quantizer (its cells are stale otherwise), committed in place
        # under the same batch name so the replay contract is
        # untouched. A folded name's surviving dir is a GC leftover
        # that reads already skip
        if exclude is not None and exclude not in ledger:
            dst = os.path.join(droot, exclude)
            if fs.exists(hp(dst)):
                self._reassign_delta(dst, ipath, C, exclude)
        return len(names)

    def ivf_maybe_retrain(
        self,
        corpus: str,
        n_centroids: int = 16,
        iters: int = 3,
        max_balance: float = 4.0,
        exclude: str | None = None,
        rescale_balance: float | None = None,
        rescale_factor: int = 4,
        rescale_occupancy: float | None = None,
    ) -> int:
        """Threshold-triggered :meth:`ivf_retrain` — the
        self-scheduling form an embedding ingestion calls beside
        :meth:`maybe_compact`: retrain only when the occupancy skew
        (``ivf_cell_stats``'s ``balance``) exceeds ``max_balance``.
        Returns -1 without mutating when under threshold, else the
        fold count of the repair performed (the retrain's, or the
        rescale's when growth escalates straight past it). The stats
        read costs one narrow index scan (cell is a partition column,
        so the scan reads listings + footers, not vectors), no lease;
        if epochs are tiny relative to the index, schedule this on
        the compaction cadence rather than every epoch. ``exclude``
        is the in-epoch replay contract, forwarded to the retrain
        (and the rescale).

        ``rescale_balance``: the SKEW escalation threshold. A retrain
        re-places centroids, so if the post-retrain balance is STILL
        above this, the skew is structural — escalate to
        :meth:`ivf_rescale` at ``rescale_factor`` × the cell count.

        ``rescale_occupancy``: the GROWTH escalation threshold — the
        mean rows-per-occupied-cell target. Balance is
        scale-invariant: uniform corpus growth leaves it near 1.0
        while every probe's per-cell scan cost climbs at
        O(total / n_centroids), so a balance gate alone never fires
        on pure growth. When mean occupancy exceeds this target the
        loop escalates DIRECTLY to a rescale (no retrain first — no
        centroid placement can reduce mean occupancy), sized
        ``max(rescale_factor × n_centroids, total / target)`` so one
        rescale brings occupancy back under target even after a
        large influx.

        Either escalation bumps the active-family marker, so a
        streaming ingest running with ``n_centroids=None`` adopts the
        new cell count on its NEXT epoch without stopping — the full
        grow-without-downtime maintenance loop. None (default)
        disables each. If the escalation's target key is already held
        by an INDEPENDENT family (an operator built a sibling at
        exactly the auto-sized cell count), :meth:`ivf_rescale`
        raises rather than merging into it — a maintenance/operator
        collision is a configuration error to surface, not to route
        around silently."""
        stats = self.ivf_cell_stats(corpus, n_centroids, iters)
        occupancy = (
            stats["total"] / stats["occupied"] if stats["occupied"] else 0.0
        )
        if rescale_occupancy is not None and occupancy > rescale_occupancy:
            new_n = int(max(
                n_centroids * rescale_factor,
                math.ceil(stats["total"] / rescale_occupancy),
            ))
            if new_n > n_centroids:
                return self.ivf_rescale(
                    corpus, n_centroids, iters,
                    new_n_centroids=new_n, exclude=exclude,
                )
            # occupancy is high but the corpus fits the current cell
            # count (many EMPTY cells => skew, not growth): fall
            # through to the retrain/balance path below
        if stats["balance"] <= max_balance:
            return -1
        folded = self.ivf_retrain(corpus, n_centroids, iters, exclude=exclude)
        if rescale_balance is not None:
            after = self.ivf_cell_stats(corpus, n_centroids, iters)
            if after["balance"] > rescale_balance:
                self.ivf_rescale(
                    corpus, n_centroids, iters,
                    new_n_centroids=n_centroids * rescale_factor,
                    exclude=exclude,
                )
        return folded

    @_with_lease
    def ivf_rescale(
        self,
        corpus: str,
        n_centroids: int = 16,
        iters: int = 3,
        new_n_centroids: int = 64,
        exclude: str | None = None,
    ) -> int:
        """Rebuild the corpus's IVF family at a NEW cell count from
        the index's own ``(cell, id, v)`` rows — the repair for the
        limit :meth:`ivf_retrain` cannot fix: a large influx that
        multiplied the corpus leaves per-cell occupancy at
        O(new_total / n_centroids) no matter how well the quantizer is
        placed, so probe cost only returns to target by growing the
        cell count itself (the drift A/B's "retrain + rescale" story,
        `git show 51ee644:tools/retrain_ab.py` phase 3 — previously a hand-rolled
        sibling corpus, now first-class).

        Same sourcing contract as the retrain: NO source-lake re-read,
        centroids trained with spread seeding from a bounded hash
        sample of the index rows. Live deltas (minus ``exclude``) fold
        into the new base; the replay ledger (their names plus every
        previously folded name) rides into the new family, so an
        at-least-once re-commit of an old batch is refused AFTER the
        rescale too. The ``exclude`` epoch's delta is re-assigned
        under the new quantizer into the NEW family's delta root under
        the same batch name — the in-flight epoch's wholesale-replace
        replay lands on the family that now serves reads.

        The target key must be FREE (or hold only a crashed prior run
        of this same rescale, identified by a ``_rescaled_from``
        provenance marker inside the base): an independent completed
        sibling family there raises, because replacing its base while
        its delta tree survives would merge stale deltas into every
        read of the rebuilt family. A marker-bearing family holding
        epochs this rebuild cannot reproduce ALSO raises, before any
        mutation — whether those epochs are live delta dirs beyond
        the current ``exclude`` or were already folded into the
        target's base by a later compact/retrain (detected via its
        ``_folded`` ledger minus everything this rebuild re-folds
        from the source). If the prior run reached activation,
        recovery is GC'ing the leftover source family
        (:meth:`ivf_orphans`), not re-running; if it never
        activated, re-run with ``exclude=`` naming the crashed run's
        in-flight epoch. The exclude epoch's AUTHORITATIVE copy is
        resolved by the active marker (at-least-once replays follow
        it): with the target family active, its live copy is
        preserved by re-assignment (and a conflicting stale copy
        folded into the source base, or an authoritative copy folded
        into the target base, refuses); with the source active, its
        copy — a live delta (re-assigned) or folded into its base
        (rides the rebuild) — is used and the target's stale copy is
        swept, while an epoch with NO source counterpart refuses. A
        target base parked mid-swap by any crashed rewrite (present
        without ``_SUCCESS``, or at ``__old``) also refuses —
        rename the ``__old`` copy back first. The exclude epoch's
        DELTA dir parked mid-swap (``<epoch>__old`` with the live
        dir missing — a crash inside a prior re-assign's swap) is
        recovered automatically by renaming it back before authority
        resolution; a FOREIGN epoch's ``__old`` refuses like any
        foreign delta, with the rename-back recovery named.

        The OLD family (index, centroids, delta tree) is GC'd last:
        readers key probes by (corpus, n_centroids, iters), so a crash
        before the GC leaves both families intact and readable, and
        re-running the rescale is idempotent (every write is a staged
        wholesale replace) — EXCEPT for the refusal states above
        (post-activation epochs live or folded on the target,
        source-less exclude, mid-swap target base), each of which
        names its own recovery rather than self-healing.
        Callers that pinned the old cell count must switch to
        ``new_n_centroids`` — that is the point.

        Recall at the new cell count: with nprobe held, each probe
        covers a ``n_centroids/new_n_centroids`` smaller corpus
        fraction. For the uniform-growth case the occupancy gate
        targets, measured recall@5 at nprobe=1 HELD through a 16→96
        rescale (`git show 51ee644:tools/growth_ab.py`): in-distribution queries'
        neighbors co-locate with them under the finer quantizer too.
        Recall-sensitive consumers should still scale nprobe with the
        cell count (hold nprobe/cells constant); the rescale keeps
        per-cell occupancy at target, so probe cost stays
        O(nprobe × occupancy target) either way.

        Returns the number of deltas folded into the new base."""
        from .operators.similarity import kmeans_centroids

        if new_n_centroids == n_centroids:
            raise ValueError(
                "new_n_centroids equals the current cell count; use "
                "ivf_retrain to re-place centroids at the same scale"
            )
        ipath = self.ivf_index_path(corpus, n_centroids, iters)
        cpath = self.ivf_centroids_path(corpus, n_centroids, iters)
        npath = self.ivf_index_path(corpus, new_n_centroids, iters)
        ncpath = self.ivf_centroids_path(corpus, new_n_centroids, iters)
        jvm, fs, _ = _hadoop_fs(self.spark, ipath)
        hp = jvm.org.apache.hadoop.fs.Path
        # SOURCE bases parked mid-swap by a crashed rewrite
        # (compact/retrain) are recovered like ivf_retrain recovers
        # its own — a rescale entered on that state would otherwise
        # refuse "no IVF index" on a recoverable store
        self._recover_parked_base(cpath)
        self._recover_parked_base(ipath)
        if not self._is_complete(ipath):
            # distinguish "never built" from "a prior run of THIS
            # rescale completed through activation and crashed inside
            # the old-family GC" (source index gone or partial, target
            # complete + provenance-markered + active) — the re-run
            # must name the GC recovery, not tell the operator to
            # rebuild a source index the rescale already replaced
            # (every-prefix crash-fuzz finding, r16)
            if (
                self._is_complete(npath)
                and fs.exists(hp(os.path.join(
                    npath, f"_rescaled_from_{n_centroids}-{iters}")))
                and self.ivf_active(corpus) == (new_n_centroids, iters)
            ):
                raise ValueError(
                    f"source IVF family n_centroids={n_centroids}, "
                    f"iters={iters} for corpus {corpus!r} is gone or "
                    "partial, and the target family is published, "
                    "provenance-marked and ACTIVE — a prior run of "
                    "this rescale completed through activation and "
                    "crashed inside the old-family GC. GC the "
                    "leftover source dirs instead (see ivf_orphans) "
                    "and keep serving from the published family."
                )
            raise self._no_index(corpus, ipath)
        # an INDEPENDENT completed family already living at the target
        # key must not be wholesale-replaced: its live delta tree
        # would survive the base swap and union into every read of
        # the rebuilt family (duplicate ids / misassigned cells). A
        # `_rescaled_from_<n>-<iters>` marker (published inside the
        # base by the staging swap below) identifies a family THIS
        # rescale produced, so re-running after a crash between
        # publish and old-family GC stays idempotent.
        rescale_marker = f"_rescaled_from_{n_centroids}-{iters}"
        npath_complete = self._is_complete(npath)
        if npath_complete and not fs.exists(
            hp(os.path.join(npath, rescale_marker))
        ):
            raise ValueError(
                f"corpus {corpus!r} already has an independent IVF "
                f"family at n_centroids={new_n_centroids}, "
                f"iters={iters} ({npath}); rescaling onto it would "
                "merge its live delta tree into the rebuilt base — "
                "delete that family first or pick a different cell "
                "count"
            )
        # A target base parked mid-swap (present without _SUCCESS, or
        # at replace_directory's __old) means a base rewrite crashed
        # there: its _folded ledger and markers are partly
        # unreachable, so every provenance check below would run on
        # incomplete evidence — refuse FIRST, with the mid-swap
        # recovery, before any epoch diagnosis can give wrong advice.
        if not npath_complete and (
            fs.exists(hp(npath))
            or fs.exists(hp(npath.rstrip("/") + "__old"))
        ):
            raise ValueError(
                f"target IVF index base {npath} is mid-swap (an "
                "incomplete base or a parked __old copy exists) — a "
                "base rewrite (ivf_compact/ivf_retrain, or a prior "
                "rescale's own publish) crashed there; recover that "
                "family first — rename the __old copy back (works "
                "for any crashed rewrite), or delete the family if "
                "abandoned — before rescaling onto its key"
            )
        src_folded = self._folded_names(ipath)
        deltas = self._delta_paths(ipath, exclude=exclude, folded=src_folded)
        names = {self._batch_name(d) for d in deltas}
        ledger = names | src_folded
        # Post-activation data-loss guard — BEFORE any mutation (a
        # refusal must leave the already-serving family untouched;
        # raising after the centroid publish would pair the live
        # index with clobbered centroids). At-least-once replays
        # follow the ACTIVE marker, so whichever family is active
        # holds the authoritative copy of any epoch present on both:
        #   - foreign epochs (live delta dirs, or names in the
        #     target's _folded ledger beyond what this rebuild
        #     re-folds from the source) always refuse — the rebuild
        #     cannot reproduce them;
        #   - the exclude epoch itself resolves by authority: if the
        #     TARGET family is active and holds a live copy, that
        #     copy (a possible post-activation wholesale-replace
        #     replay) is preserved by re-assigning IT — unless the
        #     source also folded a stale copy into its base, which
        #     the rebuilt base would duplicate (refuse); if the
        #     target is active and FOLDED the epoch, the
        #     authoritative copy is inseparable from the base being
        #     replaced (refuse); otherwise the source's copy is
        #     authoritative — a live source delta is re-assigned, a
        #     source-folded epoch rides the rebuilt base, and a
        #     target copy with NO source counterpart refuses (a
        #     post-activation commit mislabeled as the exclude; a
        #     real crashed run always leaves a source copy, because
        #     family GC is the rescale's last step).
        # The live-delta checks run even when the target BASE is
        # absent (crashed first-publish): surviving epochs would
        # otherwise ride into the rebuilt family with stale cell
        # assignments — the old whole-root delete is gone.
        # one marker read serves both the guard and the post-publish
        # bump: this method holds the write lease, so the marker
        # cannot move mid-run
        active = self.ivf_active(corpus)
        activated = active == (new_n_centroids, iters)
        tgt_folded = self._folded_names(npath)
        ndroot = self._delta_root(npath)

        # mid-swap recovery for the exclude epoch's DELTA dir (r14
        # advice #1): a crash inside replace_directory — a prior
        # re-assign's swap on the TARGET root, or a crashed epoch
        # commit's swap on the SOURCE root — parks the last-committed
        # copy at '<epoch>__old' with the live dir missing. Without
        # recovery the target side would refuse the name as a FOREIGN
        # live epoch with dead-end advice (exclude='<epoch>__old' has
        # no source twin), and a parked source copy would misresolve
        # src_live_twin to False ("no source-family twin" on a
        # recoverable store). Rename it back — replace_directory's
        # own documented recovery, restoring the last-committed
        # state, so it is safe ahead of the refusals below (which
        # must otherwise precede any mutation). With the live dir
        # PRESENT the __old is a post-swap leftover (crash after the
        # second rename, before cleanup): the live dir is the newer
        # complete copy, so the stale parking is dropped, exactly as
        # the next swap's own stale-__old sweep would. Applies ONLY
        # to the exclude epoch's name — a FOREIGN epoch's __old
        # refuses below like any foreign delta, advice naming the
        # rename-back. Runs under this method's write lease.
        self._recover_parked_delta(self._delta_root(ipath), exclude)
        self._recover_parked_delta(ndroot, exclude)
        src_live_twin = exclude is not None and fs.exists(
            hp(os.path.join(self._delta_root(ipath), exclude))
        )
        target_live = sorted(
            st.getPath().getName()
            for st in fs.listStatus(hp(ndroot))
            if st.isDirectory()
            and not st.getPath().getName().endswith("__staging")
        ) if fs.exists(hp(ndroot)) else []

        _GC_SOURCE_ADVICE = (
            "This family is the ACTIVE one — a prior run of this "
            "rescale completed through activation; GC the leftover "
            "source family instead (see ivf_orphans) and keep "
            "serving from the published one."
        )

        def _refuse(detail: str, advice: str) -> None:
            raise ValueError(
                f"target IVF family n_centroids={new_n_centroids}, "
                f"iters={iters} for corpus {corpus!r}: {detail}. "
                f"{advice}"
            )

        use_target_copy = False
        if exclude is not None:
            tgt_has_live = exclude in target_live
            if activated and tgt_has_live:
                if exclude in src_folded:
                    _refuse(
                        f"the active family's live copy of epoch "
                        f"{exclude!r} is authoritative, but the "
                        "source family folded a stale copy of the "
                        "same epoch into its base — the rebuilt base "
                        "would duplicate it",
                        _GC_SOURCE_ADVICE,
                    )
                use_target_copy = True
            elif activated and exclude in tgt_folded:
                _refuse(
                    f"epoch {exclude!r} was folded into the ACTIVE "
                    "family's base — its authoritative rows are "
                    "inseparable from the base this rebuild would "
                    "replace",
                    _GC_SOURCE_ADVICE,
                )
            elif (
                not src_live_twin
                and exclude not in src_folded
                and (tgt_has_live or exclude in tgt_folded)
            ):
                _refuse(
                    f"epoch {exclude!r} exists only on the target "
                    "(no source-family twin) — a post-activation "
                    "commit mislabeled as the exclude; exempting it "
                    "would discard its vectors",
                    "This family is NOT active, so nothing "
                    "authoritative can rebuild that epoch: inspect "
                    "before deleting anything. If the epoch should "
                    "survive, activate this family (ivf_set_active) "
                    "so a re-run preserves its copy; if the family "
                    "is an abandoned crashed product, delete it.",
                )
        exempt = {exclude} if exclude is not None else set()
        foreign_live = [nm for nm in target_live if nm not in exempt]
        foreign_folded = sorted(tgt_folded - ledger - exempt)
        if foreign_live or foreign_folded:
            # a foreign '<name>__old' is a parked copy of a COMMITTED
            # foreign epoch: its rows are as unreproducible as any
            # foreign delta's, so it refuses like one — but the advice
            # must name the RIGHT recovery per dir, not suggest the
            # dead-end exclude='<name>__old'. Two distinct crash
            # states (same split as _recover_parked_delta): bare dir
            # MISSING → mid-swap parking, the __old is the epoch's
            # only copy, rename it back; bare dir PRESENT → post-swap
            # stale parking (crash after the second rename, before
            # cleanup), the live dir is the NEWER complete copy, so
            # renaming back would REGRESS the epoch — delete the
            # stale parking instead.
            tgt_set = set(target_live)
            old_park = [
                nm for nm in foreign_live
                if nm.endswith("__old")
                and nm[: -len("__old")] not in tgt_set
            ]
            old_stale = [
                nm for nm in foreign_live
                if nm.endswith("__old") and nm[: -len("__old")] in tgt_set
            ]
            old_advice = (
                (
                    f" Of these, {old_park} are mid-swap parked copies "
                    "of their epoch (live dir missing) — rename each "
                    "back to the bare epoch name first, then re-run."
                    if old_park
                    else ""
                )
                + (
                    f" Of these, {old_stale} are post-swap STALE "
                    "parkings (their live dir exists and is newer) — "
                    "delete each '__old' dir (do NOT rename it back "
                    "over the live copy), then re-run."
                    if old_stale
                    else ""
                )
            )
            _refuse(
                "holds epochs this rebuild from the source family "
                f"would discard (live deltas {foreign_live}, "
                f"folded-into-base {foreign_folded})",
                (_GC_SOURCE_ADVICE
                 if activated
                 else "This family is NOT active; if an epoch listed "
                 "here was the crashed run's in-flight epoch, re-run "
                 "with exclude=<that epoch> (the source must still "
                 "hold a copy); otherwise inspect before deleting.")
                + old_advice,
            )

        live = self.ivf_index(
            None, corpus, n_centroids=n_centroids, iters=iters,
            exclude_batch=exclude,
        )
        C = kmeans_centroids(
            live, new_n_centroids, id_col="id", vec_col="v", iters=iters,
            seeding="spread",
        )
        # stage the new family fully, then publish centroids → index
        # (the same order + crash contract as ivf_retrain). The
        # provenance marker rides the swap: marks the family as this
        # rescale's own product (see the sibling guard above). The
        # SOURCE family's provenance rides along too — a chained
        # rescale (A→B→C) that dropped B's record of A on B's GC
        # would blind ivf_orphans to a still-orphaned A forever — but
        # DEMOTED to `_rescaled_ancestor_*`: only the direct-parent
        # `_rescaled_from_*` satisfies the sibling guard, so a
        # chained product never passes as the "own product" of an
        # ancestor key someone may later rebuild independently. A
        # marker naming the product's OWN key is skipped outright
        # (a round-trip rescale A→B→A' would otherwise stamp A' as
        # its own orphan, and ivf_orphans would report the live
        # serving family forever).
        ancestors = [
            re.fullmatch(r"_rescaled_(?:from|ancestor)_(\d+-\d+)", nm).group(1)
            for nm in self._rescale_markers(ipath)
        ]
        tmp = self._stage(
            self._ivf_rows(live.select("id", "v"), C, "id", "v"), npath,
            "__rescale_staging", "cell",
            [os.path.join("_folded", nm) for nm in ledger]
            + [rescale_marker]
            + [f"_rescaled_ancestor_{key}" for key in ancestors
               if key != f"{new_n_centroids}-{iters}"],
        )
        self._write_centroids(C, ncpath)
        # a crashed PRIOR run of this same rescale may have published
        # the base and an exclude-epoch delta already; when the
        # SOURCE's copy is authoritative that target delta is stale
        # and must not union into reads of the rebuilt family. The
        # sweep is SURGICAL — only the current exclude epoch (and
        # never when the target's copy is the authoritative one —
        # it is wholesale-replaced below instead) plus staging
        # leftovers; the guard above has already refused anything
        # else, and writers are lease-serialized, so nothing new can
        # have landed since it ran:
        if fs.exists(hp(ndroot)):
            for st in fs.listStatus(hp(ndroot)):
                nm = st.getPath().getName()
                if (nm == exclude and not use_target_copy) or nm.endswith(
                    "__staging"
                ):
                    fs.delete(st.getPath(), True)
        self._publish(tmp, npath)
        if exclude is not None:
            # the in-flight epoch moves families WITH its name so its
            # replay wholesale-replaces where reads now happen. The
            # AUTHORITATIVE copy is re-assigned: the target's own
            # (a post-activation replay landed there) when the
            # target is active, else the source's — UNLESS the
            # source already folded the epoch (its rows rode the
            # rebuilt base; a surviving delta dir there is a
            # compact-crash GC leftover whose re-assign would only
            # publish a dead, ledger-skipped directory)
            src = (
                os.path.join(ndroot, exclude)
                if use_target_copy
                else os.path.join(self._delta_root(ipath), exclude)
            )
            if fs.exists(hp(src)) and (
                use_target_copy or exclude not in src_folded
            ):
                self._reassign_delta(src, npath, C, exclude)
        # bump the active-family marker so n_centroids=None consumers
        # (streaming ingest, indexed probe) follow the rescale on
        # their next epoch/call — but only if the OLD family was the
        # active one (an explicit sibling rescale must not steal it)
        if active in (None, (n_centroids, iters)):
            self.ivf_set_active(corpus, new_n_centroids, iters)
        # GC the old family last — a crash above leaves both families
        # readable (a crash between marker and GC leaves the old one
        # orphaned on disk, harmless to readers; delete it manually)
        for p in (ipath, cpath, self._delta_root(ipath)):
            if fs.exists(hp(p)):
                fs.delete(hp(p), True)
        return len(names)

    # ------------------------------------------------ batch commit
    @_with_lease
    def append_batch(
        self,
        survivors: DataFrame,
        corpus: str,
        batch: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
    ) -> None:
        """Commit a deduplicated batch's documents into the corpus
        snapshot: append their fingerprint, postings, and signature
        rows as delta-batch directories, so the NEXT incremental batch
        sees corpus+batch without any O(corpus) rewrite.

        All three artifact bases must already exist (they do after one
        ``corpus_dedup``/``incremental_dedup`` pass with this store) —
        appending a delta to a non-existent base would silently become
        the whole artifact. Each delta directory lands atomically;
        across the three artifacts the commit is sequential, so a
        crash mid-commit can leave the LATER artifacts without this
        batch — re-running ``append_batch`` with the same batch name
        is idempotent (each delta is replaced wholesale), which is the
        recovery path.
        """
        for path in (
            self.fingerprints_path(corpus),
            self.postings_path(corpus, n, portable),
            self.signatures_path(corpus, n, portable, num_hashes, seed),
        ):
            self._recover_if_parked(path, corpus)
            if not self._is_complete(path):
                raise ValueError(
                    f"corpus {corpus!r} has no base artifact at {path}; "
                    "build the snapshot first (corpus_dedup with store=...)"
                )
        fps = survivors.select(
            F.col(id_col).alias("id"), fingerprint(text_col).alias("fp")
        )
        self._append_delta(fps, self.fingerprints_path(corpus), batch)
        # four delta writes derive from the batch postings — cache once
        # (O(batch)) and release before returning
        posts = hashed_postings(survivors, id_col, text_col, n, portable).persist()
        self._append_delta(posts, self.postings_path(corpus, n, portable), batch)
        sig = _signatures_from_hashed(posts, num_hashes, seed)
        self._append_delta(
            sig,
            self.signatures_path(corpus, n, portable, num_hashes, seed),
            batch,
        )
        # derived aggregates ride along when their bases exist (they
        # are created lazily by sizes()/band_census(); _sync_deltas
        # backfills any batch committed before that)
        szp = self.sizes_path(corpus, n, portable)
        if self._is_complete(szp):
            self._append_delta(self._sizes_from_posts(posts), szp, batch)
        bcp = self.band_census_path(corpus, n, portable, num_hashes, seed)
        if self._is_complete(bcp):
            self._append_delta(
                self._band_census_rows(sig, num_hashes, 16), bcp, batch
            )
        posts.unpersist()
        # simhash (and its census) ride along when their bases exist —
        # they CANNOT be backfilled later (token-level, derived from
        # text the store does not keep), so build the simhash base
        # before the first commit if the workflow consumes it;
        # validate() flags the id-set gap otherwise. Every
        # materialized nbits/portable variant rides, not just the
        # nbits=64 default — an un-appended variant would silently
        # diverge from the corpus on the very next cross probe.
        for nbits, sh_portable in self._simhash_variants(corpus):
            shp = self.simhash_path(corpus, nbits, sh_portable)
            sh = simhash_signatures(
                survivors, id_col, text_col, nbits, sh_portable
            ).persist()
            self._append_delta(sh, shp, batch)
            shcp = self.simhash_census_path(corpus, nbits, sh_portable)
            if self._is_complete(shcp):
                self._append_delta(
                    self._simhash_census_rows(sh, nbits), shcp, batch
                )
            sh.unpersist()

    # ----------------------------------------------------------- fsck
    def validate(
        self,
        corpus: str,
        n: int = 3,
        portable: bool = False,
        num_hashes: int = 64,
        seed: int = 42,
    ) -> dict:
        """Cross-artifact consistency check — the fsck a long-running
        ingestion schedules beside :meth:`compact`. Verifies, over the
        FULL base+deltas view of each artifact:

        - every postings id has a fingerprint row and vice versa for
          non-NULL-fingerprint ids (NULL-text documents legitimately
          have a fingerprint row but no postings);
        - signature ids == postings ids (signatures derive 1:1);
        - sizes ids == postings ids and each ``sz`` equals that id's
          postings row count;
        - the band census re-aggregated over (band, bh) equals a
          census recomputed from the signature view.

        Derived artifacts that were never materialized are reported
        as ``"absent"`` and not checked. Returns ``{"ok": bool,
        "errors": [..], "warnings": [..], "counts": {...}}`` rather
        than raising, so a scheduler can alert on it. ``warnings``
        carries the reserved-suffix migration check
        (:meth:`_reserved_suffix_batches`): committed delta dirs
        whose names end in ``__old`` / ``__staging`` — either a
        pre-reservation store whose literally-named batch the new
        crash-suffix semantics silently reinterpret, or genuine swap
        parking awaiting recovery; only the operator can tell which,
        so the fsck surfaces them without failing. Cost: a few
        narrow-artifact scans — never touches corpus text.
        """
        errors: list[str] = []
        warnings: list[str] = []
        counts: dict[str, object] = {}
        for label, apath in (
            ("fingerprints", self.fingerprints_path(corpus)),
            ("postings", self.postings_path(corpus, n, portable)),
            ("signatures", self.signatures_path(
                corpus, n, portable, num_hashes, seed)),
            ("sizes", self.sizes_path(corpus, n, portable)),
            ("band_census", self.band_census_path(
                corpus, n, portable, num_hashes, seed)),
            ("simhash", self.simhash_path(corpus, 64, portable)),
        ):
            legacy = self._reserved_suffix_batches(apath)
            if legacy:
                warnings.append(
                    f"{label}: committed delta dirs with reserved "
                    f"suffix {legacy} — if these predate the "
                    "__old/__staging reservation they are literal "
                    "batch names now reinterpreted as swap parking/"
                    "staging (rows silently skipped or folded under "
                    "the bare name); recommit each under an "
                    "unreserved name. If they are crash leftovers, "
                    "recover per the swap protocol instead."
                )
        fps = self.fingerprints(None, corpus).select("id", "fp")
        posts = self.postings(None, corpus, n=n, portable=portable)
        sig = self.signatures(
            None, corpus, n=n, portable=portable,
            num_hashes=num_hashes, seed=seed,
        )
        post_ids = posts.select("id").distinct()
        counts["fingerprints"] = fps.count()
        counts["postings_ids"] = post_ids.count()
        counts["signatures"] = sig.count()

        orphan_posts = post_ids.join(fps, "id", "left_anti").count()
        if orphan_posts:
            errors.append(f"{orphan_posts} postings ids lack a fingerprint")
        # a non-NULL-fp doc must tokenize to >=1 shingle -> postings
        missing_posts = (
            fps.filter(F.col("fp").isNotNull())
            .join(post_ids, "id", "left_anti")
            .count()
        )
        if missing_posts:
            errors.append(
                f"{missing_posts} fingerprinted ids have no postings"
            )
        sig_only = sig.select("id").join(post_ids, "id", "left_anti").count()
        posts_only = post_ids.join(sig.select("id"), "id", "left_anti").count()
        if sig_only or posts_only:
            errors.append(
                f"signature/postings id mismatch: {sig_only} signature-only,"
                f" {posts_only} postings-only"
            )

        if self._is_complete(self.sizes_path(corpus, n, portable)):
            sz = self.sizes(None, corpus, n=n, portable=portable)
            counts["sizes"] = sz.count()
            bad_sz = (
                sz.join(self._sizes_from_posts(posts).withColumnRenamed(
                    "sz", "_want"), "id", "full")
                .filter(
                    F.col("sz").isNull()
                    | F.col("_want").isNull()
                    | (F.col("sz") != F.col("_want"))
                )
                .count()
            )
            if bad_sz:
                errors.append(f"{bad_sz} size rows disagree with postings")
        else:
            counts["sizes"] = "absent"

        if self._is_complete(
            self.band_census_path(corpus, n, portable, num_hashes, seed)
        ):
            census = self.band_census(
                None, corpus, n=n, portable=portable,
                num_hashes=num_hashes, seed=seed,
            )
            want = self._band_census_rows(
                sig, num_hashes, 16
            ).withColumnRenamed("cnt", "_want")
            bad_census = (
                census.join(want, list(_BAND_KEYS), "full")
                .filter(
                    F.col("cnt").isNull()
                    | F.col("_want").isNull()
                    | (F.col("cnt") != F.col("_want"))
                )
                .count()
            )
            counts["census_buckets"] = census.count()
            if bad_census:
                errors.append(
                    f"{bad_census} census buckets disagree with signatures"
                )
        else:
            counts["census_buckets"] = "absent"

        if self._is_complete(self.simhash_path(corpus, 64, portable)):
            sh = self.simhash(None, corpus, nbits=64, portable=portable)
            counts["simhash"] = sh.count()
            # token-level artifact: must cover exactly the ids with
            # non-empty text — the fingerprinted-and-tokenizable set,
            # which equals the postings id set (≥1 token ⇔ ≥1 shingle
            # under the padded shingler). A gap means batches were
            # committed before the simhash base existed.
            sh_only = sh.select("id").join(post_ids, "id", "left_anti").count()
            missing_sh = post_ids.join(
                sh.select("id"), "id", "left_anti"
            ).count()
            if sh_only or missing_sh:
                errors.append(
                    f"simhash/postings id mismatch: {sh_only} simhash-only,"
                    f" {missing_sh} postings-only (simhash base likely "
                    "built after commits)"
                )
        else:
            counts["simhash"] = "absent"

        return {
            "ok": not errors,
            "errors": errors,
            "warnings": warnings,
            "counts": counts,
        }

    def validate_ivf(
        self,
        corpus: str,
        n_centroids: int = 16,
        iters: int = 3,
    ) -> dict:
        """:meth:`validate` for the IVF index — the fsck an embedding
        ingestion schedules beside :meth:`ivf_compact`. Verifies, over
        the full base+deltas view:

        - the persisted centroid table has exactly ``n_centroids``
          rows with a consistent vector dimension;
        - every index row's ``cell`` is a valid centroid id;
        - index vectors share the centroid dimension;
        - ids are unique (an id in two cells would double-serve
          probes; a re-assign after drift must replace, not add);
        - every index row's cell IS its nearest centroid under the
          current quantizer (spot contract: appends assigned against
          stale/foreign centroids — e.g. params mismatched between
          build and append — surface here rather than as silent
          recall loss).

        Same return contract as :meth:`validate` plus a ``warnings``
        list: rescale-leftover families (:meth:`ivf_orphans`) are
        reported there — a WARNING, not a failure, because the same
        on-disk shape also arises from a deliberate source-family
        rebuild after a completed rescale (see the ivf_orphans
        docstring); only the operator knows which family current jobs
        read, so the fsck surfaces the leftover rather than failing
        on it. Cost is one scan of the (narrow) index plus an Arrow
        re-assign, never a probe fan-out."""
        errors: list[str] = []
        warnings: list[str] = []
        counts: dict[str, object] = {}
        orphans = self.ivf_orphans(corpus)
        counts["rescale_orphans"] = orphans
        if orphans:
            warnings.append(
                f"rescale-leftover IVF families for corpus {corpus!r}: "
                + ", ".join(
                    f"n_centroids={n}, iters={i}" for n, i in orphans
                )
                + " — each appears as a _rescaled_from source of a "
                "completed family. Harmless to readers; verify against "
                "ivf_active() and pinned consumer configs, then GC "
                "manually (see ivf_orphans)."
            )
        cpath = self.ivf_centroids_path(corpus, n_centroids, iters)
        ipath = self.ivf_index_path(corpus, n_centroids, iters)
        legacy = self._reserved_suffix_batches(ipath)
        if legacy:
            warnings.append(
                f"ivf_index: committed epoch delta dirs with reserved "
                f"suffix {legacy} — pre-reservation literal epoch "
                "names are now reinterpreted as swap parking/staging "
                "(rows silently skipped or folded under the bare "
                "name); recommit each under an unreserved name, or "
                "recover per the swap protocol if they are crash "
                "leftovers."
            )
        if not self._is_complete(cpath) or not self._is_complete(ipath):
            counts["centroids"] = "absent"
            counts["index"] = "absent"
            return {
                "ok": False,
                "errors": [f"IVF artifacts absent for corpus {corpus!r}"],
                "warnings": warnings,
                "counts": counts,
            }
        C = self.ivf_centroids(None, corpus, n_centroids=n_centroids,
                               iters=iters)
        counts["centroids"] = int(C.shape[0])
        if C.shape[0] != n_centroids:
            errors.append(
                f"{C.shape[0]} centroids persisted, expected {n_centroids}"
            )
        dim = int(C.shape[1])
        idx = self.ivf_index(None, corpus, n_centroids=n_centroids,
                             iters=iters)
        counts["index_rows"] = idx.count()
        bad_cell = idx.filter(
            (F.col("cell") < 0) | (F.col("cell") >= C.shape[0])
        ).count()
        if bad_cell:
            errors.append(f"{bad_cell} index rows in nonexistent cells")
        bad_dim = idx.filter(F.size("v") != dim).count()
        if bad_dim:
            errors.append(
                f"{bad_dim} index vectors with dim != centroid dim {dim}"
            )
        dup_ids = (
            idx.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
        if dup_ids:
            errors.append(f"{dup_ids} ids appear in more than one row")
        from .operators.similarity import ivf_assignments

        want = ivf_assignments(
            idx.select("id", F.col("v").alias("_v")), C, "id", "_v", nprobe=1
        ).withColumnRenamed("cell", "_want")
        misassigned = (
            idx.select("cell", "id")
            .join(want.select("id", "_want"), "id")
            .filter(F.col("cell") != F.col("_want"))
            .count()
        )
        if misassigned:
            errors.append(
                f"{misassigned} rows not in their nearest cell under the "
                "current quantizer (stale/foreign-centroid append?)"
            )
        return {
            "ok": not errors,
            "errors": errors,
            "warnings": warnings,
            "counts": counts,
        }
