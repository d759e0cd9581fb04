"""View registry: design docs, content-hash signatures, storage layout,
checkpoints, build serialization.

Reference parity (SURVEY.md §2 S5/S6, X6, M3; upstream
``pouchdb-abstract-mapreduce/src/create-view.js#createView``,
``#viewCleanup``, ``taskqueue.js``):

- view identity = md5 of the map+reduce definition, so identical
  definitions share one index (upstream ``createView`` signature);
- a per-view lock serializes builds (upstream TaskQueue) — here a
  driver-side mutex, since the engine is single-driver;
- ``_local/lastSeq`` checkpoint → ``last_seq`` in the registry JSON;
- ``viewCleanup()`` deletes storage of signatures no longer referenced
  by any design doc.

Storage layout (no ACID table format assumed — plain Parquet with
versioned directories; a writer never mutates files a reader may hold
open, so lazy DataFrames stay valid across refreshes):

    <storage>/registry.json
    <storage>/views/<sig>/base-v<N>/        sorted by (key_enc, id)
    <storage>/views/<sig>/counts-base-v<N>/ (id, n) per doc of base-v<N>,
                                            id-sorted, written by the
                                            same job as the base
    <storage>/views/<sig>/delta-<B>/        incremental emits, batch B
    <storage>/views/<sig>/lcounts-<B>/      (id, n) per changed doc,
                                            batch B — doubles as the
                                            tombstone id set (readers
                                            project id only)

The effective view is the LSM-style fold
``((base ⊖ t1) ⊕ d1) ⊖ t2 ⊕ d2 …`` — see engine._assemble_view.
Compaction folds layers back into a new base-v<N+1> (with its
counts-base-v<N+1>); old versions are garbage-collected on cleanup,
never in-place.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import threading
import time
import uuid
from typing import Any

def definition_repr(map_def: Any, reduce_def: Any) -> str:
    """Stable textual identity of a view definition (md5'd for the sig)."""
    if callable(map_def):
        try:
            m = inspect.getsource(map_def)
        except (OSError, TypeError):
            m = repr(map_def)
    else:
        m = repr(map_def)
    if callable(reduce_def):
        try:
            r = inspect.getsource(reduce_def)
        except (OSError, TypeError):
            r = repr(reduce_def)
    else:
        r = repr(reduce_def)
    return m + "\n--reduce--\n" + r


def signature(map_def: Any, reduce_def: Any) -> str:
    return hashlib.md5(definition_repr(map_def, reduce_def).encode()).hexdigest()


try:  # POSIX advisory locks; absent on some platforms → _leased
    import fcntl as _fcntl
except ImportError:  # pragma: no cover
    _fcntl = None


from contextlib import contextmanager

# Lease heartbeat/staleness horizon for the no-fcntl fallback.  A
# holder refreshes the lease mtime every TTL/3 from a daemon thread,
# so a LIVE holder (however long its build runs) is never stolen from;
# a crashed holder's lease goes stale after one full TTL and is
# recovered by the next waiter.
_LEASE_TTL = 30.0


def _restore_lease(stolen: str, lease: str) -> None:
    """Put a mistakenly renamed LIVE lease back at its path.

    ``os.link`` never overwrites: if a third waiter won the name
    meanwhile, the rival's token-verifying heartbeat detects the loss.
    Filesystems without hardlinks (exFAT, some FUSE/SMB) fall back to
    a best-effort non-clobber rename-back; a live lease that could not
    be restored is NEVER unlinked — it stays as ``.stale.`` debris for
    the construction-time sweep."""
    try:
        os.link(stolen, lease)
        os.unlink(stolen)
    except FileExistsError:
        os.unlink(stolen)
    except OSError:
        if not os.path.exists(lease):
            try:
                os.rename(stolen, lease)
            except OSError:
                pass


@contextmanager
def _leased(path: str):
    """O_EXCL lease-file mutual exclusion (VERDICT r13 #6) — the
    fallback for platforms without ``fcntl`` and filesystems whose
    advisory locks are lossy (NFS, FUSE, object-store gateways), where
    exclusive-create is typically the one primitive that IS atomic.

    Protocol: the lock is ``<path>.lease``, acquired by
    ``O_CREAT|O_EXCL`` (exactly one creator wins); the holder writes an
    owner token and heartbeats the file's mtime from a daemon thread.
    Waiters poll; a lease whose mtime is a full TTL old belongs to a
    dead holder and is STOLEN BY RENAME to a waiter-unique name —
    rename is the arbitration point (exactly one stealer succeeds; the
    loser's rename raises and it goes back to polling), closing the
    unlink-steal race where a slow second stealer would unlink the
    first stealer's brand-new lease.  A rename can still land AFTER a
    rival completed a full steal+recreate cycle (the stat→rename
    TOCTOU), so the stealer re-reads the renamed file: a token other
    than the one it judged stale means it grabbed a LIVE lease, which
    it restores via ``os.link`` (atomic, never clobbers a newer lease)
    and goes back to polling — shrinking the unprotected window from
    an unbounded stall to the instants between rename and restore.
    Release unlinks only if the file still holds our token (a stealer
    may have replaced a lease whose heartbeat thread stalled past the
    TTL — e.g. a driver paused at a breakpoint; the build work itself
    is then unprotected, which is the documented TTL trade every lease
    scheme carries)."""
    lease = path + ".lease"
    os.makedirs(os.path.dirname(lease), exist_ok=True)
    # '-'-separated: the token doubles as a filename suffix in the
    # steal rename, and ':' is reserved on NTFS — the primary
    # no-fcntl platform this fallback exists for
    token = f"{os.getpid()}-{threading.get_ident()}-{os.urandom(8).hex()}"
    while True:
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, token.encode())
            finally:
                os.close(fd)
            break
        except FileExistsError:
            try:
                if time.time() - os.stat(lease).st_mtime <= _LEASE_TTL:
                    time.sleep(0.05)
                    continue
                with open(lease) as fh:
                    seen = fh.read()
                # re-stat AFTER reading the token: a rival may have
                # stolen+recreated between the first stat and the
                # read, in which case `seen` is its LIVE token and
                # the got==seen check below would wave the unlink
                # through — a fresh mtime here sends us back to
                # polling instead (a just-created lease is always
                # fresh, so token `seen` + stale mtime can only
                # belong to a dead holder's file)
                if time.time() - os.stat(lease).st_mtime <= _LEASE_TTL:
                    time.sleep(0.05)
                    continue
                stolen = f"{lease}.stale.{token}"
                os.rename(lease, stolen)
                # verify the STOLEN file is the dead lease we judged:
                # same token AND stale mtime.  A rival that completed
                # steal+recreate between our re-stat and our rename
                # shows a foreign token OR a fresh mtime — including
                # the window where its O_EXCL create succeeded but its
                # token write hasn't landed (empty file, fresh mtime).
                # Unreadable/vanished → assume live and restore.
                try:
                    st_mt = os.stat(stolen).st_mtime
                    with open(stolen) as fh:
                        got = fh.read()
                    dead = (got == seen
                            and time.time() - st_mt > _LEASE_TTL)
                except OSError:
                    dead = False
                if not dead:
                    _restore_lease(stolen, lease)
                    time.sleep(0.05)
                    continue
                os.unlink(stolen)
                continue  # stale lease cleared: race the O_EXCL
            except OSError:
                continue  # lost the steal race / holder released
    stop = threading.Event()

    def _beat() -> None:
        misses = 0
        while not stop.wait(_LEASE_TTL / 3.0):
            try:
                with open(lease) as fh:
                    if fh.read() != token:
                        return  # replaced by a rival: ours is gone
                os.utime(lease)
                misses = 0
            except FileNotFoundError:
                # possibly mid-steal-verification (renamed away and
                # about to be restored): confirm on the next tick;
                # two consecutive misses = genuinely stolen/released
                misses += 1
                if misses >= 2:
                    return
            except OSError:
                # transient filesystem error (ESTALE after an NFS
                # failover, EINTR): keep beating — a single hiccup
                # must not let a live holder's lease go stale
                continue

    beater = threading.Thread(target=_beat, daemon=True)
    beater.start()
    try:
        yield
    finally:
        stop.set()
        beater.join(timeout=_LEASE_TTL)
        # release by rename-then-verify, not read-then-unlink: between
        # a read of our own token and the unlink, a stealer (we may
        # have stalled past the TTL) can replace the lease with a NEW
        # holder's — the unverified unlink would delete the rival's
        # live lease.  After the rename we exclusively own the moved
        # file, so the verdict cannot be invalidated.
        moved = f"{lease}.stale.{token}"
        try:
            os.rename(lease, moved)
        except OSError:
            pass  # stolen after a stall: nothing of ours to remove
        else:
            try:
                with open(moved) as fh:
                    mine = fh.read() == token
            except OSError:
                mine = False
            if mine:
                os.unlink(moved)
            else:
                _restore_lease(moved, lease)


@contextmanager
def _flocked(path: str):
    """Exclusive OS advisory lock on ``path``; O_EXCL lease fallback
    (:func:`_leased`) where ``fcntl`` does not exist.

    The fd is closed on every exit path — including ``flock`` itself
    raising (ENOLCK on some network filesystems, EINTR) — so a failed
    acquisition never leaks a descriptor."""
    if _fcntl is None:  # platform without fcntl → lease protocol
        with _leased(path):
            yield
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fh = open(path, "a+")
    try:
        _fcntl.flock(fh, _fcntl.LOCK_EX)
        try:
            yield
        finally:
            _fcntl.flock(fh, _fcntl.LOCK_UN)
    finally:
        fh.close()


class Registry:
    """Driver-side view catalog persisted as JSON.

    Concurrency contract (VERDICT r11 #4 — M3 beyond one driver):

    - every WRITE is write-temp + ``os.replace`` — readers always see
      a complete, valid checkpoint, never a torn file;
    - every read-modify-write (:meth:`update`) holds BOTH the
      in-process mutex and an OS advisory flock on
      ``<storage>/locks/registry.lock`` — two Engine instances (same
      or different processes) sharing one warehouse serialize their
      registry mutations, so a concurrent build of view A and refresh
      of view B cannot lose each other's entries;
    - plain reads take no lock: ``os.replace`` atomicity makes any
      read a consistent snapshot (possibly one mutation stale — the
      same staleness a CouchDB client sees between two requests);
    - build WORK on one view is serialized by the per-sig
      :meth:`view_lock` (also flock-backed); the registry lock is
      strictly inner (only held inside :meth:`update`, never while
      running Spark jobs), so lock order view→registry is acyclic.

    Filesystem contract (VERDICT r12 #5, r13 #6): the cross-PROCESS
    half of this guarantee rests on ``fcntl.flock`` on local POSIX
    filesystems; on platforms without ``fcntl`` the layer now falls
    back to the :func:`_leased` O_EXCL lease protocol
    (exclusive-create + heartbeat + TTL steal-by-rename) instead of
    silently not locking.  On filesystems whose ADVISORY locks are
    lossy but whose exclusive-create is atomic (NFSv3 O_EXCL via
    lockfile emulation, most FUSE mounts), the lease protocol is also
    the right choice — import-block ``fcntl`` or monkeypatch
    ``registry._fcntl = None`` to select it explicitly.  On stores
    with NO atomic create-or-fail (bare object stores), run ONE driver
    per warehouse; the atomic write-temp + rename checkpoints (with
    per-writer-unique temp names, so even unlocked concurrent writers
    cannot tear each other's bytes — last rename wins whole) still
    protect readers, but concurrent read-modify-write mutations may
    be lost.
    """

    def __init__(self, storage_dir: str) -> None:
        self.storage_dir = storage_dir
        self.path = os.path.join(storage_dir, "registry.json")
        self._lock = threading.Lock()
        self._view_locks: dict[str, threading.Lock] = {}
        os.makedirs(os.path.join(storage_dir, "views"), exist_ok=True)
        self._sweep_stale_temps()
        if not os.path.exists(self.path):
            # exclusive creation: two Engines racing __init__ on a
            # fresh warehouse must not let the loser's empty initial
            # state clobber designs the winner already registered
            # (os.replace would).  Write a unique temp, then hardlink
            # it into place — link(2) fails with EEXIST if anyone got
            # there first.
            # a unique name, not a pid-derived one: two Registry
            # instances in ONE process would share a pid suffix, and
            # the winner's cleanup unlink makes the loser's os.link
            # raise FileNotFoundError (ADVICE r12).  Mode 0o666 lets
            # the kernel apply the current umask, as a plain open()
            # would, so a shared-warehouse reader under another uid
            # keeps read access (review r13).
            tmp = os.path.join(
                storage_dir, f"registry.json.init.{uuid.uuid4().hex}"
            )
            fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                         0o666)
            with os.fdopen(fd, "w") as f:
                json.dump({"designs": {}, "views": {}}, f, indent=1)
            try:
                os.link(tmp, self.path)
            except FileExistsError:
                pass  # the other engine's init (or real state) wins
            except OSError:
                # filesystem without hardlinks: best-effort
                # non-clobbering fallback (the exists() re-check
                # shrinks the race window to the rename itself)
                if not os.path.exists(self.path):
                    os.replace(tmp, self.path)
                    tmp = None
            finally:
                if tmp is not None:
                    try:
                        os.unlink(tmp)
                    except FileNotFoundError:
                        pass  # a racing instance already swept it

    def _sweep_stale_temps(self, min_age_sec: float = 60.0) -> None:
        """GC write-temps orphaned by crashed writers (ADVICE r13).

        Per-writer-unique temp names (``registry.json.tmp.<pid>.<tid>``,
        ``registry.json.init.*``) fixed the torn-write hazard but —
        unlike the old fixed name, which the next writer overwrote — a
        writer that dies between ``json.dump`` and ``os.replace``
        orphans its temp forever.  Swept on construction, mirroring
        ``_sweep_gens``' handling of crashed ``centroids-*.json.tmp``
        files.  The age floor keeps a concurrent LIVE writer's temp
        (which exists for microseconds between dump and rename) out of
        reach — unlinking it mid-write would turn that writer's
        ``os.replace`` into FileNotFoundError."""
        now = time.time()
        try:
            names = os.listdir(self.storage_dir)
        except OSError:
            return
        for name in names:
            if not (name.startswith("registry.json.tmp.")
                    or name.startswith("registry.json.init.")):
                continue
            p = os.path.join(self.storage_dir, name)
            try:
                if now - os.path.getmtime(p) > min_age_sec:
                    os.unlink(p)
            except OSError:
                pass  # a racing sweeper won, or the writer renamed it
        # lease-protocol debris: a stealer that crashed between its
        # steal-rename and the unlink leaves `<lock>.lease.stale.<tok>`
        # behind (vanishing window, but append-only without this)
        locks_dir = os.path.join(self.storage_dir, "locks")
        try:
            lock_names = os.listdir(locks_dir)
        except OSError:
            return
        for name in lock_names:
            if ".lease.stale." not in name:
                continue
            p = os.path.join(locks_dir, name)
            try:
                if now - os.path.getmtime(p) > min_age_sec:
                    os.unlink(p)
            except OSError:
                pass

    # -- state ---------------------------------------------------------

    def _read(self) -> dict:
        with open(self.path) as f:
            return json.load(f)

    def _write(self, state: dict) -> None:
        # per-writer-unique temp: where _flocked is a no-op (no fcntl,
        # or a filesystem that drops advisory locks) two concurrent
        # writers must not open/truncate ONE temp file and os.replace
        # a torn interleaving of both into registry.json (ADVICE r12)
        tmp = f"{self.path}.tmp.{os.getpid()}.{threading.get_ident()}"
        try:
            with open(tmp, "w") as f:
                json.dump(state, f, indent=1)
            # atomic checkpoint (M1 exactly-once)
            os.replace(tmp, self.path)
        except BaseException:
            # exception paths unlink their own temp; process death is
            # covered by _sweep_stale_temps on the next construction
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    def update(self, fn) -> dict:
        """Atomically read-modify-write the registry state.

        Cross-instance/cross-process safe: the in-process mutex only
        covers threads of ONE Registry object, so the flock is what
        stops two Engines on the same warehouse from interleaving
        read→write and losing a mutation (the fn runs driver-side in
        microseconds — contention is negligible next to any build)."""
        with self._lock:
            with _flocked(self._registry_lock_path()):
                state = self._read()
                fn(state)
                self._write(state)
                return state

    def _registry_lock_path(self) -> str:
        return os.path.join(self.storage_dir, "locks", "registry.lock")

    @contextmanager
    def view_lock(self, sig: str):
        """Per-view build serialization (upstream TaskQueue parity).

        Two layers: an in-process mutex (threads of one driver), plus
        an OS advisory file lock (``<storage>/locks/<sig>.lock``) so
        SEVERAL drivers sharing one view store — notebook users against
        a common warehouse — serialize builds too.  Registry state was
        already multi-process-safe (atomic rename); this closes the
        build-work race.  The file lock is :func:`_flocked`, so it
        takes the lease protocol where ``fcntl`` does not exist.
        Non-reentrant, like the mutex it wraps."""
        with self._lock:
            t = self._view_locks.setdefault(sig, threading.Lock())
        with t, _flocked(
            os.path.join(self.storage_dir, "locks", f"{sig}.lock")
        ):
            yield

    # -- designs -------------------------------------------------------

    def put_design(self, ddoc: str, views: dict[str, dict]) -> None:
        def mut(state: dict) -> None:
            state["designs"][ddoc] = {
                "views": {
                    name: {"sig": v["sig"]} for name, v in views.items()
                }
            }

        self.update(mut)

    def resolve(self, ddoc: str, view: str) -> str | None:
        state = self._read()
        d = state["designs"].get(ddoc)
        if not d or view not in d["views"]:
            return None
        return d["views"][view]["sig"]

    def design_views(self, ddoc: str) -> dict[str, str]:
        """All views of a design doc: {view name: signature}."""
        d = self._read()["designs"].get(ddoc)
        return {} if not d else {
            name: v["sig"] for name, v in d["views"].items()
        }

    # -- view storage entries -------------------------------------------

    def view_dir(self, sig: str) -> str:
        return os.path.join(self.storage_dir, "views", sig)

    def get_view(self, sig: str) -> dict | None:
        return self._read()["views"].get(sig)

    def ensure_view(self, sig: str) -> dict:
        def mut(state: dict) -> None:
            state["views"].setdefault(
                sig,
                {
                    "last_seq": 0,
                    "base": None,
                    "base_version": 0,
                    "layers": [],
                    "next_batch": 1,
                },
            )

        return self.update(mut)["views"][sig]

    def set_view(self, sig: str, entry: dict) -> None:
        self.update(lambda s: s["views"].__setitem__(sig, entry))

    # -- cleanup (S6) ----------------------------------------------------

    def view_cleanup(self) -> dict:
        """Delete storage for signatures not referenced by any design.

        Orphan DECISION and registry removal happen in one atomic
        update (a concurrent put_design re-adding the sig either lands
        before — sig stays live — or after — the design points at a
        sig whose storage is gone, the same as registering a brand-new
        view: the next build recreates it).  Each directory deletion
        then runs under the per-sig VIEW lock with a registry
        re-check: a concurrent engine that re-registered AND rebuilt
        the sig between our update and the rmtree would otherwise
        lose its fresh storage while its registry entry survived
        (builds hold the view lock, so once we hold it the re-check
        is authoritative)."""
        removed: list[str] = []

        def mut(s: dict) -> None:
            live = {
                v["sig"]
                for d in s["designs"].values()
                for v in d["views"].values()
            }
            for sig in list(s["views"]):
                if sig not in live:
                    removed.append(sig)
                    s["views"].pop(sig, None)

        self.update(mut)
        deleted = []
        for sig in removed:
            with self.view_lock(sig):
                if self.get_view(sig) is None:  # not resurrected
                    shutil.rmtree(self.view_dir(sig),
                                  ignore_errors=True)
                    deleted.append(sig)
        return {"ok": True, "removed": deleted}
