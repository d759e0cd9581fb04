"""Multi-engine registry safety (VERDICT r11 #4).

Upstream's TaskQueue assumed one process; a shared warehouse (two
notebook drivers, or two Engine objects in one process) must not lose
registry mutations.  The contract (plans/registry.py Registry
docstring): atomic rename on every write, flock-serialized
read-modify-write, per-view flock for build work, lock order
view -> registry.

The in-PROCESS two-instance case is the strongest local probe: two
Registry objects have distinct threading.Locks, so only the flock
serializes them -- exactly the cross-process failure mode, minus the
fork overhead (flock is per open-file-description, so two fds in one
process contend the same way two processes do).
"""

import threading
import time

import pytest
from pyspark.sql import functions as F

from mapreduce_spark.engine import Engine
from mapreduce_spark.operators.mapphase import MapSpec
from mapreduce_spark.plans.registry import Registry

VIEW_A = {
    "map": MapSpec(
        "lineitem",
        [("str", "l_returnflag"), ("str", "l_linestatus")],
        ("num", "l_quantity"),
    ),
    "reduce": "_sum",
}
VIEW_B = {
    "map": MapSpec("customer", ("str", "c_mktsegment")),
    "reduce": "_count",
}


def test_update_rmw_atomic_across_instances(tmp_path):
    """Two Registry INSTANCES interleaving update(): without the
    registry flock, B reads before A writes and A's key is lost."""
    d = str(tmp_path / "reg")
    r1 = Registry(d)
    r2 = Registry(d)
    started = threading.Event()

    def slow_a(state):
        state["views"]["sig-a"] = {"last_seq": 1}
        started.set()
        # hold the lock across the window where the lost-update race
        # would bite: B's update() must block until A's write lands
        time.sleep(0.4)

    t = threading.Thread(target=lambda: r1.update(slow_a))
    t.start()
    assert started.wait(5)
    r2.update(
        lambda s: s["views"].__setitem__("sig-b", {"last_seq": 2})
    )
    t.join()
    final = r1.get_view("sig-a"), r2.get_view("sig-b")
    assert final == ({"last_seq": 1}, {"last_seq": 2}), (
        f"lost registry update across instances: {final}"
    )


def test_two_engines_concurrent_build_converges(
    spark, sf_dir, tmp_path
):
    """Two Engines on one warehouse build DIFFERENT views of the same
    design concurrently; both entries must survive with exact stats,
    and a third engine must read both."""
    store = str(tmp_path / "wh")
    ea = Engine(spark, sf_dir, store)
    eb = Engine(spark, sf_dir, store)
    design = {"a": VIEW_A, "b": VIEW_B}
    ea.put_design("d", design)
    eb.put_design("d", design)

    errs = []

    def build(eng, name):
        try:
            eng.update_view(f"d/{name}")
        except Exception as e:  # pragma: no cover - failure detail
            errs.append((name, e))

    ta = threading.Thread(target=build, args=(ea, "a"))
    tb = threading.Thread(target=build, args=(eb, "b"))
    ta.start()
    tb.start()
    ta.join()
    tb.join()
    assert not errs, errs

    lineitem_n = spark.read.parquet(
        f"{sf_dir}/lineitem.parquet"
    ).count()
    customer_n = spark.read.parquet(
        f"{sf_dir}/customer.parquet"
    ).count()
    # fixture lineitem duplicates ~20% of pk pairs -> collapsed rows
    ec = Engine(spark, sf_dir, store)
    ec.put_design("d", design)
    for name, src_n, exact_rows in (
        ("a", lineitem_n, None),
        ("b", customer_n, customer_n),
    ):
        sig = ec.registry.resolve("d", name)
        entry = ec.registry.get_view(sig)
        assert entry is not None and entry["base"] is not None, (
            f"view {name} lost by the concurrent build"
        )
        got = ec._assemble_view(sig).count()
        assert entry["stats"]["rows"] == got
        if exact_rows is not None:
            assert got == exact_rows
        res = ec.query(f"d/{name}", group=True, stale="ok")
        assert len(res.rows()) > 0


def test_two_engines_same_view_refresh_serializes(
    spark, sf_dir, tmp_path
):
    """Two Engines refresh the SAME view with disjoint batches
    concurrently: the per-view flock serializes the builds, the
    second engine layers on top of the first's entry, and the result
    equals a single-engine build of everything."""
    store = str(tmp_path / "wh2")
    ea = Engine(spark, sf_dir, store)
    eb = Engine(spark, sf_dir, store)
    ea.put_design("d", {"v": VIEW_A})
    eb.put_design("d", {"v": VIEW_A})

    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seq = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
        "long"
    )
    hi = raw.agg(F.max(seq)).collect()[0][0]
    mid = hi // 2
    b1 = raw.filter(seq <= mid)
    b2 = raw.filter(seq > mid)

    errs = []

    def refresh(eng, batch):
        try:
            eng.update_view("d/v", changes=batch)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=refresh, args=(ea, b1))
    t2 = threading.Thread(target=refresh, args=(eb, b2))
    t1.start()
    t2.start()
    t1.join()
    t2.join()
    assert not errs, errs

    ec = Engine(spark, sf_dir, store)
    ec.put_design("d", {"v": VIEW_A})
    got = sorted(
        (tuple(r["key"]), round(r["value"], 6))
        for r in ec.query("d/v", group_level=2, stale="ok").rows()
    )
    want = sorted(
        (tuple(r["key"]), round(r["value"], 6))
        for r in ec.query(VIEW_A, group_level=2).rows()
    )
    assert got == want
    sig = ec.registry.resolve("d", "v")
    entry = ec.registry.get_view(sig)
    assert entry["stats"]["rows"] == ec._assemble_view(sig).count()


def test_registry_init_never_clobbers_existing_state(
    tmp_path, monkeypatch
):
    """Review r12: two Engines racing __init__ on a fresh warehouse —
    the loser's exists() check already passed (file 'missing') when
    the winner wrote state.  The exclusive-create (hardlink) init must
    leave the winner's state untouched."""
    import os

    import mapreduce_spark.plans.registry as R

    d = str(tmp_path / "reg")
    r1 = Registry(d)
    r1.update(
        lambda s: s["views"].__setitem__("sig-a", {"last_seq": 9})
    )
    real_exists = os.path.exists
    monkeypatch.setattr(
        R.os.path, "exists",
        lambda p: False if str(p).endswith("registry.json")
        else real_exists(p),
    )
    r2 = R.Registry(d)  # believes the file is missing — race window
    monkeypatch.undo()
    assert r2.get_view("sig-a") == {"last_seq": 9}, (
        "registry init clobbered existing state"
    )


def test_registry_init_two_instances_one_process(tmp_path):
    """ADVICE r12: a pid-derived init temp name collides for two
    Registry instances in ONE process — the winner's cleanup unlink
    made the loser's os.link raise FileNotFoundError out of
    __init__.  With per-instance mkstemp temps, any number of
    concurrent constructors on a fresh warehouse succeed."""
    import json
    import os

    d = str(tmp_path / "reg")
    os.makedirs(d, exist_ok=True)
    errs = []
    barrier = threading.Barrier(8)

    def construct():
        try:
            barrier.wait()
            Registry(d)
        except BaseException as e:  # noqa: BLE001 - recording for assert
            errs.append(e)

    ts = [threading.Thread(target=construct) for _ in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    with open(os.path.join(d, "registry.json")) as f:
        assert json.load(f) == {"designs": {}, "views": {}}
    # no leaked init temps
    assert [n for n in os.listdir(d)
            if n.startswith("registry.json.init.")] == []


def test_registry_init_tolerates_swept_temp(tmp_path, monkeypatch):
    """ADVICE r12 (deterministic form): if a racing instance sweeps
    this instance's temp while it loses the os.link race, the cleanup
    unlink must not raise FileNotFoundError out of __init__."""
    import os

    import mapreduce_spark.plans.registry as R

    d = str(tmp_path / "reg")
    os.makedirs(d, exist_ok=True)
    real_link = os.link

    def losing_link(src, dst, **kw):
        os.unlink(src)  # the "winner" swept our temp
        raise FileExistsError(dst)

    monkeypatch.setattr(R.os, "link", losing_link)
    R.Registry(d)  # must not raise
    monkeypatch.undo()
    # and a normal re-open still works
    r = Registry(d)
    r.update(lambda s: s["views"].__setitem__("s", {"last_seq": 1}))
    assert r.get_view("s") == {"last_seq": 1}


def test_view_cleanup_spares_resurrected_view(tmp_path):
    """Review r12: a sig popped as orphan, then re-registered AND
    rebuilt by another engine before cleanup reaches the rmtree, must
    keep its fresh storage (cleanup re-checks under the view lock)."""
    import os

    d = str(tmp_path / "reg")
    r = Registry(d)
    r.update(
        lambda s: s["views"].__setitem__("sig-x", {"base": "base-v1"})
    )
    vdir = r.view_dir("sig-x")
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(vdir, "data"), "w") as f:
        f.write("fresh build")

    orig = r.view_lock

    def lock_after_resurrection(sig):
        # simulate the concurrent engine winning the window between
        # cleanup's registry update and its rmtree
        other = Registry(d)

        def mut(s):
            s["designs"]["d"] = {"views": {"v": {"sig": sig}}}
            s["views"][sig] = {"base": "base-v1"}

        other.update(mut)
        return orig(sig)

    r.view_lock = lock_after_resurrection
    res = r.view_cleanup()
    assert res["removed"] == []
    assert os.path.exists(os.path.join(vdir, "data")), (
        "cleanup deleted a resurrected view's storage"
    )


def test_registry_init_leaves_process_umask_alone(tmp_path):
    """ADVICE r13: the old per-__init__ umask probe (set 0 / restore)
    was a process-wide RMW race under concurrent constructors.  The
    init temp is now created with mode 0o666 and the kernel applies the
    umask, so __init__ never touches the process umask, and the created
    registry.json carries the CURRENT umask-derived mode on every
    platform."""
    import os

    prev = os.umask(0o027)
    try:
        errs = []

        def mk(i):
            try:
                Registry(str(tmp_path / f"w{i}"))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [threading.Thread(target=mk, args=(i,)) for i in range(8)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert not errs
        now = os.umask(0)
        os.umask(now)
        assert now == 0o027, (
            f"Registry.__init__ perturbed the process umask: {oct(now)}"
        )
        mode = os.stat(tmp_path / "w0" / "registry.json").st_mode & 0o777
        # the umask set ABOVE (0o027), though the module was imported
        # under a different one
        assert mode == 0o666 & ~0o027, oct(mode)
    finally:
        os.umask(prev)


def test_registry_init_sweeps_orphaned_write_temps(tmp_path):
    """ADVICE r13: per-writer-unique temps orphaned by a crashed writer
    (between json.dump and os.replace) accumulate forever unless swept;
    a FRESH temp (a live concurrent writer's) must survive the sweep so
    its os.replace is not yanked out from under it."""
    import os

    d = tmp_path / "reg"
    d.mkdir()
    Registry(str(d))  # lays down registry.json
    stale = [d / "registry.json.tmp.999.888",
             d / "registry.json.init.abc123"]
    for p in stale:
        p.write_text("{}")
        os.utime(p, (time.time() - 300, time.time() - 300))
    fresh = d / "registry.json.tmp.111.222"
    fresh.write_text("{}")

    Registry(str(d))
    assert not any(p.exists() for p in stale), "stale temps must be GCd"
    assert fresh.exists(), "a live writer's fresh temp must survive"
    assert (d / "registry.json").exists()


def test_registry_write_unlinks_temp_on_exception(tmp_path, monkeypatch):
    """A _write that raises mid-dump must not leave its unique temp
    behind (the non-crash half of the orphan fix)."""
    import json as _json
    import os

    r = Registry(str(tmp_path / "reg"))

    def boom(*a, **k):
        raise RuntimeError("disk full")

    monkeypatch.setattr(_json, "dump", boom)
    with pytest.raises(RuntimeError):
        r.update(lambda s: s["views"].__setitem__("x", {}))
    leftovers = [n for n in os.listdir(tmp_path / "reg")
                 if n.startswith("registry.json.tmp.")]
    assert leftovers == []


# ---------------------------------------------------------------------------
# O_EXCL lease fallback (VERDICT r13 #6): the no-fcntl path must give
# the same mutual-exclusion guarantees the flock path does.
# ---------------------------------------------------------------------------

@pytest.fixture()
def lease_mode(monkeypatch):
    """Force _flocked onto the lease protocol, as on a no-fcntl
    platform or a lossy-advisory-lock filesystem."""
    from mapreduce_spark.plans import registry as R

    monkeypatch.setattr(R, "_fcntl", None)
    return R


def test_update_rmw_atomic_across_instances_lease(tmp_path, lease_mode):
    """The existing two-instance lost-update probe, through the lease
    path: B's update must block until A's write lands."""
    d = str(tmp_path / "reg")
    r1 = Registry(d)
    r2 = Registry(d)
    started = threading.Event()

    def slow_a(state):
        state["views"]["sig-a"] = {"last_seq": 1}
        started.set()
        time.sleep(0.4)

    t = threading.Thread(target=lambda: r1.update(slow_a))
    t.start()
    assert started.wait(5)
    r2.update(
        lambda s: s["views"].__setitem__("sig-b", {"last_seq": 2})
    )
    t.join()
    final = r1.get_view("sig-a"), r2.get_view("sig-b")
    assert final == ({"last_seq": 1}, {"last_seq": 2}), (
        f"lost registry update across instances (lease path): {final}"
    )
    # released cleanly: no lease file left behind
    import os
    locks = os.listdir(os.path.join(d, "locks"))
    assert not [n for n in locks if n.endswith(".lease")], locks


def test_lease_mutual_exclusion_hammer(tmp_path, lease_mode):
    """8 threads × 30 increments through _leased: a lost update means
    the lease let two holders in at once."""
    from mapreduce_spark.plans.registry import _leased

    path = str(tmp_path / "locks" / "hammer.lock")
    counter = {"n": 0}

    def work():
        for _ in range(30):
            with _leased(path):
                v = counter["n"]
                time.sleep(0.0005)
                counter["n"] = v + 1

    ts = [threading.Thread(target=work) for _ in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert counter["n"] == 240


def test_lease_steals_stale_but_not_heartbeating(tmp_path, lease_mode,
                                                 monkeypatch):
    """A lease whose holder died (old mtime, no heartbeat) is stolen
    after the TTL; a FRESH lease is waited on, not stolen."""
    import os

    from mapreduce_spark.plans import registry as R

    monkeypatch.setattr(R, "_LEASE_TTL", 0.4)
    path = str(tmp_path / "locks" / "x.lock")
    lease = path + ".lease"
    os.makedirs(os.path.dirname(lease), exist_ok=True)

    # stale: mtime far in the past -> acquired within ~TTL
    with open(lease, "w") as f:
        f.write("dead-holder")
    past = time.time() - 10
    os.utime(lease, (past, past))
    t0 = time.time()
    with R._leased(path):
        took = time.time() - t0
    assert took < 5, f"stale lease not stolen promptly ({took:.1f}s)"

    # fresh: a live holder's lease blocks a waiter for at least ~TTL
    with open(lease, "w") as f:
        f.write("live-holder")
    got = threading.Event()

    def waiter():
        with R._leased(path):
            got.set()

    t = threading.Thread(target=waiter, daemon=True)
    t.start()
    assert not got.wait(0.2), "fresh lease must not be stolen instantly"
    os.unlink(lease)  # holder releases
    assert got.wait(5), "waiter must acquire after release"
    t.join(timeout=5)


@pytest.mark.parametrize("rival_token,link_works", [
    ("rival-live", True),   # full recreate, hardlink restore
    ("rival-live", False),  # same, on a no-hardlink filesystem
    ("", True),             # rival's O_EXCL landed, token write hasn't
])
def test_lease_steal_toctou_restores_live_rival(tmp_path, lease_mode,
                                                monkeypatch,
                                                rival_token, link_works):
    """The stat→rename TOCTOU: a rival completes a steal+recreate
    between our staleness stat and our rename, so our rename grabs its
    fresh, live lease.  The stealer must detect it is NOT the dead
    lease it judged (foreign token, fresh mtime, or an empty
    not-yet-written token) and restore it — via hardlink, or
    non-clobber rename-back where links are unsupported — instead of
    unlinking it, which would let two holders in at once."""
    import errno
    import os as _os

    from mapreduce_spark.plans import registry as R

    monkeypatch.setattr(R, "_LEASE_TTL", 0.4)
    path = str(tmp_path / "locks" / "x.lock")
    lease = path + ".lease"
    _os.makedirs(_os.path.dirname(lease), exist_ok=True)
    with open(lease, "w") as f:
        f.write("dead-holder")
    past = time.time() - 10
    _os.utime(lease, (past, past))

    real_rename = _os.rename
    state = {"intercepted": False, "restored_seen": False}

    def rename_hook(src, dst, *a, **kw):
        if src == lease and not state["intercepted"]:
            state["intercepted"] = True
            # the rival's cycle lands first: stale lease gone, fresh
            # live lease (possibly token-less yet) in its place
            _os.unlink(lease)
            with open(lease, "w") as f:
                f.write(rival_token)
        return real_rename(src, dst, *a, **kw)

    if not link_works:
        def no_link(*a, **kw):
            raise OSError(errno.ENOTSUP, "no hardlinks here")

        monkeypatch.setattr(_os, "link", no_link)

    real_sleep = time.sleep

    def sleep_hook(s):
        # after the restore, observe the rival's lease back in place,
        # then let the rival release so the test can finish
        if state["intercepted"] and _os.path.exists(lease):
            try:
                with open(lease) as f:
                    if f.read() == rival_token:
                        state["restored_seen"] = True
                        _os.unlink(lease)
            except OSError:
                pass
        real_sleep(min(s, 0.01))

    monkeypatch.setattr(_os, "rename", rename_hook)
    monkeypatch.setattr(R.time, "sleep", sleep_hook)
    with R._leased(path):
        pass
    assert state["intercepted"], "steal rename never fired"
    assert state["restored_seen"], (
        "rival's live lease was not restored after the mistaken steal"
    )
    # no stolen-lease debris, and our own lease released
    left = _os.listdir(_os.path.dirname(lease))
    assert not [n for n in left if ".lease" in n], left


def test_lease_release_never_unlinks_rival(tmp_path, lease_mode,
                                           monkeypatch):
    """Release must verify ownership AFTER taking exclusive custody
    (rename), not before unlink: a holder that stalled past the TTL
    and was stolen from would otherwise read its own token, then
    unlink the NEW holder's lease that a stealer put there in
    between.  Simulated: the lease is replaced by a rival's while the
    context is held; exit must restore it untouched."""
    import os as _os

    from mapreduce_spark.plans import registry as R

    monkeypatch.setattr(R, "_LEASE_TTL", 0.4)
    path = str(tmp_path / "locks" / "x.lock")
    lease = path + ".lease"
    with R._leased(path):
        _os.unlink(lease)  # stealer's rename+recreate, compressed
        with open(lease, "w") as f:
            f.write("rival-live")
    with open(lease) as f:
        assert f.read() == "rival-live", "release ate the rival's lease"
    debris = [n for n in _os.listdir(_os.path.dirname(lease))
              if ".stale." in n]
    assert not debris, debris
    _os.unlink(lease)


def test_two_engines_concurrent_build_converges_lease(
    spark, sf_dir, tmp_path, lease_mode
):
    """The flock-path two-engine build test, through the lease path:
    two Engines sharing one warehouse build the same view
    concurrently and converge to one correct index."""
    test_two_engines_concurrent_build_converges(spark, sf_dir, tmp_path)


def test_two_engines_same_view_refresh_serializes_lease(
    spark, sf_dir, tmp_path, lease_mode
):
    """The flock-path same-view refresh test, through the lease path:
    the per-view build lock serializes two Engines without fcntl too."""
    test_two_engines_same_view_refresh_serializes(spark, sf_dir, tmp_path)


def test_sweep_clears_crashed_stealer_debris(tmp_path):
    """A stealer that died between steal-rename and unlink leaves
    <lock>.lease.stale.<token>; construction sweeps aged ones and
    keeps fresh ones (a steal in progress)."""
    import os

    d = tmp_path / "reg"
    locks = d / "locks"
    locks.mkdir(parents=True)
    old = locks / "x.lock.lease.stale.123:456:abcd"
    old.write_text("dead")
    os.utime(old, (time.time() - 300, time.time() - 300))
    fresh = locks / "y.lock.lease.stale.789:012:ef01"
    fresh.write_text("live")
    Registry(str(d))
    assert not old.exists()
    assert fresh.exists()
