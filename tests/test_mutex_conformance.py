"""Mutex backend conformance kit (VERDICT r13 item 4).

fs.py documents the five-clause contract a mutex backend owes
`ArbitratedFileIO` (exclusion, no-return-without-lock, release on
exit, crash liveness, non-reentrancy scope). This suite enforces it
against every registered backend with the SAME parameterized races, so
a future DynamoDB/etcd/Nessie-endpoint conditional-put backend is a
proven drop-in: add its spec to BACKENDS (and LEASE_BACKENDS if it
steals by TTL) and the whole contract re-runs.

Backends under test here:
- endpoint-sqlite: EndpointMutex, the conditional-put stand-in for the
  DynamoDB/Nessie commit-arbiter role (reference stack:
  spark/conf/spark-defaults.conf Nessie catalog; docker-compose
  delegates commit arbitration to the Nessie service);
- flock-shared-dir: FlockMutex on the resource's shared directory —
  the host-scope arbiter LocalFileIO itself uses (two processes on one
  kernel), which must satisfy the same contract at its documented
  scope.

Workers are forked processes sharing nothing but the backend's own
medium (db file / directory inode) plus the data files the races
target.
"""

from __future__ import annotations

import multiprocessing
import os
import time

import pytest

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    EndpointMutex,
    FlockMutex,
    LocalFileIO,
    LockStolenError,
)

_MP = multiprocessing.get_context("fork")

# spec -> constructible INSIDE a forked worker (picklable tuple)
BACKENDS = [
    pytest.param(("endpoint", "endpoint.db"), id="endpoint-sqlite"),
    pytest.param(("flock", None), id="flock-shared-dir"),
]
# backends whose crash-liveness mechanism is a TTL steal on the holder
# record (clause 4's lease half; flock releases via the kernel instead)
LEASE_BACKENDS = [
    pytest.param(("endpoint", "endpoint.db"), id="endpoint-sqlite"),
]
_LEASE_KINDS = ("endpoint",)


def _make_mutex(spec, **kw):
    kind, arg = spec
    if kind == "endpoint":
        return EndpointMutex(arg, **kw)
    if kind == "flock":
        return FlockMutex()
    raise ValueError(kind)


def _spec(request, tmp_path):
    kind, rel = request.param
    return (kind, rel and str(tmp_path / rel))


@pytest.fixture(params=BACKENDS)
def backend(request, tmp_path):
    return _spec(request, tmp_path)


@pytest.fixture(params=LEASE_BACKENDS)
def lease_backend(request, tmp_path):
    return _spec(request, tmp_path)


def _join(*procs, timeout=60):
    for p in procs:
        p.join(timeout)
        assert p.exitcode == 0, f"worker exit {p.exitcode}"


# ---- clause 1+3: exclusion & release (lost-update counter) ----------


def _counter_worker(spec, lock_path, counter_path, n):
    mutex = _make_mutex(spec)
    for _ in range(n):
        with mutex(lock_path):
            v = int(open(counter_path).read())
            time.sleep(0.001)  # widen the read-modify-write window
            with open(counter_path, "w") as f:
                f.write(str(v + 1))


def test_exclusion_no_lost_updates(backend, tmp_path):
    """Two nodes read-modify-write one counter 50x each under the
    mutex: any exclusion gap loses an increment."""
    counter = str(tmp_path / "counter")
    open(counter, "w").write("0")
    lock_target = str(tmp_path / "the_resource")
    ps = [
        _MP.Process(target=_counter_worker, args=(backend, lock_target, counter, 50))
        for _ in range(2)
    ]
    [p.start() for p in ps]
    _join(*ps)
    assert open(counter).read() == "100"


# ---- clause 1 via the real consumer: one winner per exclusive create


def _create_worker(spec, target, tag, out_dir, barrier):
    mutex = _make_mutex(spec)
    io = ArbitratedFileIO(LocalFileIO(), mutex=mutex)
    barrier.wait()  # maximal simultaneity
    won = io.create_exclusive(target, tag)
    with open(os.path.join(out_dir, tag), "w") as f:
        f.write("won" if won else "lost")


def test_exclusive_create_single_winner(backend, tmp_path):
    """The txn-marker/commit-slot shape through ArbitratedFileIO:
    exactly one of two simultaneous create_exclusive calls wins."""
    target = str(tmp_path / "marker.json")
    out = str(tmp_path / "out")
    os.makedirs(out)
    barrier = _MP.Barrier(2)
    ps = [
        _MP.Process(target=_create_worker, args=(backend, target, t, out, barrier))
        for t in ("a", "b")
    ]
    [p.start() for p in ps]
    _join(*ps)
    results = {t: open(os.path.join(out, t)).read() for t in ("a", "b")}
    assert sorted(results.values()) == ["lost", "won"]
    assert open(target).read() == [t for t, r in results.items() if r == "won"][0]


# ---- clause 4a: crashed holder does not wedge the path --------------


def _hold_and_die(spec, lock_path, held_evt):
    mutex = _make_mutex(spec)
    mutex(lock_path).__enter__()  # acquire, then die without __exit__
    held_evt.set()
    os._exit(0)


def _acquire_after_crash(spec, lock_path, out_path):
    if spec[0] in _LEASE_KINDS:
        from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

        lh_log.LOCK_STEAL_SECONDS = 0.2  # this worker's own module copy
    mutex = _make_mutex(
        spec, **({"timeout_s": 20.0} if spec[0] in _LEASE_KINDS else {})
    )
    t0 = time.monotonic()
    with mutex(lock_path):
        pass
    with open(out_path, "w") as f:
        f.write(str(time.monotonic() - t0))


def test_crashed_holder_releases(backend, tmp_path):
    """Kill a holder mid-hold: the next waiter must acquire —
    kernel-released (flock) or TTL-stolen (endpoint)."""
    lock_target = str(tmp_path / "res")
    held = _MP.Event()
    holder = _MP.Process(target=_hold_and_die, args=(backend, lock_target, held))
    holder.start()
    assert held.wait(10)
    holder.join(10)
    out = str(tmp_path / "t")
    waiter = _MP.Process(target=_acquire_after_crash, args=(backend, lock_target, out))
    waiter.start()
    _join(waiter)
    assert float(open(out).read()) < 10.0  # acquired, didn't time out


# ---- clause 4b (lease only): a LIVE holder is never stolen ----------


def _hold_for(spec, lock_path, seconds, held_evt):
    mutex = _make_mutex(spec)
    with mutex(lock_path):
        held_evt.set()
        time.sleep(seconds)


def test_live_holder_not_stolen(lease_backend, tmp_path):
    """A fresh holder (well under LOCK_STEAL_SECONDS) must make a
    short-timeout waiter TIME OUT, not hand over the lock."""
    lock_target = str(tmp_path / "res")
    held = _MP.Event()
    holder = _MP.Process(target=_hold_for, args=(lease_backend, lock_target, 3.0, held))
    holder.start()
    assert held.wait(10)
    mutex = _make_mutex(lease_backend, timeout_s=0.4)
    with pytest.raises(RuntimeError, match="timed out"):
        with mutex(lock_target):
            pass
    _join(holder)


# ---- clause 4c (lease only): concurrent thieves, one survivor -------


def _seed_stale_row(spec, lock_path):
    mutex = _make_mutex(spec)
    canon = os.path.realpath(lock_path)
    if spec[0] != "endpoint":
        raise ValueError(spec[0])
    con = mutex._connect()
    con.execute(
        "INSERT INTO locks VALUES (?, ?, ?)",
        (canon, "dead-proc", time.time() - 3600.0),
    )
    con.close()


def _thief_worker(spec, lock_path, counter_path, n):
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

    lh_log.LOCK_STEAL_SECONDS = 0.2
    _counter_worker(spec, lock_path, counter_path, n)


def test_concurrent_thieves_exclude(lease_backend, tmp_path):
    """Two waiters racing to steal one stale holder row: the
    conditional owner-match UPDATE admits exactly one at a time —
    counter stays exact through the steal and the contention after."""
    lock_target = str(tmp_path / "res")
    _seed_stale_row(lease_backend, lock_target)
    counter = str(tmp_path / "counter")
    open(counter, "w").write("0")
    ps = [
        _MP.Process(
            target=_thief_worker, args=(lease_backend, lock_target, counter, 25)
        )
        for _ in range(2)
    ]
    [p.start() for p in ps]
    _join(*ps)
    assert open(counter).read() == "50"


# ---- clause 4d (fencing, lease backends): stolen holder learns loudly


def _stall_past_ttl(db, lock_path, held_evt, stolen_evt, out_path):
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

    lh_log.LOCK_STEAL_SECONDS = 0.3
    mutex = EndpointMutex(db, timeout_s=20.0)
    try:
        with mutex(lock_path):
            held_evt.set()
            assert stolen_evt.wait(20)  # stall until the thief took it
    except LockStolenError:
        with open(out_path, "w") as f:
            f.write("stolen-detected")
    else:
        with open(out_path, "w") as f:
            f.write("silent")


def test_fence_reports_stolen_holder(tmp_path):
    """The stalled-holder-past-TTL caveat, made LOUD by the fence
    token: a holder that stalls past LOCK_STEAL_SECONDS while a thief
    acquires must get LockStolenError at release — never a silent
    normal exit."""
    db = str(tmp_path / "endpoint.db")
    lock_target = str(tmp_path / "res")
    out = str(tmp_path / "verdict")
    held, stolen = _MP.Event(), _MP.Event()
    victim = _MP.Process(
        target=_stall_past_ttl, args=(db, lock_target, held, stolen, out)
    )
    victim.start()
    assert held.wait(10)
    time.sleep(0.4)  # age the holder row past the lowered TTL
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

    old = lh_log.LOCK_STEAL_SECONDS
    lh_log.LOCK_STEAL_SECONDS = 0.3
    try:
        thief = EndpointMutex(db, timeout_s=10.0)
        with thief(lock_target):
            pass  # thief holds and releases cleanly (its fence is newest)
    finally:
        lh_log.LOCK_STEAL_SECONDS = old
    stolen.set()
    _join(victim)
    assert open(out).read() == "stolen-detected"


def test_fence_monotone_across_steal(tmp_path):
    """Fence tokens are per-path monotone across insert, steal and
    re-acquire — the property a fencing-capable medium relies on —
    and the robbed holder's release sees the advanced fence."""
    mutex = EndpointMutex(str(tmp_path / "endpoint.db"))
    target = str(tmp_path / "res")
    victim = mutex(target)
    f1 = victim.__enter__().fence
    # age the victim's row past the steal horizon, then steal it
    con = mutex._connect()
    con.execute(
        "UPDATE locks SET acquired_at = ? WHERE path = ?",
        (time.time() - 3600.0, os.path.realpath(target)),
    )
    con.close()
    with mutex(target) as thief:
        f2 = thief.fence
    with mutex(target) as later:
        f3 = later.fence
    assert f1 < f2 < f3
    with pytest.raises(LockStolenError):
        victim.__exit__(None, None, None)


# ---- clause 4e (fencing at WRITE, lease backends): stalled holder's
# commit is REJECTED, not merely flagged (r16, VERDICT item 1)


def _stalled_fenced_writer(spec, target, held_evt, resume_evt, out_path):
    """Victim: acquire through ArbitratedFileIO's fence-checked path,
    stall past the TTL INSIDE the hold (the GC-pause shape: after
    acquire, before the protected write), then attempt the write."""
    from contextlib import contextmanager

    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        LocalFileIO,
        LockStolenError,
        StaleFenceError,
    )

    lh_log.LOCK_STEAL_SECONDS = 0.3
    inner = _make_mutex(spec, timeout_s=20.0)

    @contextmanager
    def stalling_mutex(path):
        with inner(path) as handle:
            held_evt.set()
            assert resume_evt.wait(20)  # the stall, lock held
            yield handle

    io = ArbitratedFileIO(LocalFileIO(), mutex=stalling_mutex)
    try:
        won = io.create_exclusive(target, "victim")
    except StaleFenceError:
        verdict = "rejected-at-write"
    except LockStolenError:
        verdict = "flagged-at-release-only"
    else:
        verdict = "wrote" if won else "lost-quietly"
    with open(out_path, "w") as f:
        f.write(verdict)


def _fenced_thief_commit(spec, target, done_evt):
    """Thief: steal the aged hold and commit through the SAME
    fence-checked path, then release cleanly."""
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        LocalFileIO,
    )

    lh_log.LOCK_STEAL_SECONDS = 0.3
    io = ArbitratedFileIO(LocalFileIO(), mutex=_make_mutex(spec, timeout_s=20.0))
    assert io.create_exclusive(target, "thief")
    done_evt.set()


def test_fenced_write_rejects_stalled_holder(lease_backend, tmp_path):
    """Three processes (victim, thief, arbiter endpoint/db): the victim
    acquires, stalls past LOCK_STEAL_SECONDS while holding, the thief
    steals the path and COMMITS; the victim's late write must bounce
    with StaleFenceError BEFORE reaching the medium — the thief's
    bytes stand and the victim learns at the write, not the release.
    This closes the clause-4 lease caveat release-time LockStolenError
    (clause 4d above) only reports."""
    target = str(tmp_path / "res.json")
    held, resume, thief_done = _MP.Event(), _MP.Event(), _MP.Event()
    out = str(tmp_path / "verdict")
    victim = _MP.Process(
        target=_stalled_fenced_writer,
        args=(lease_backend, target, held, resume, out),
    )
    victim.start()
    assert held.wait(10)
    time.sleep(0.4)  # age the victim's holder row past the lowered TTL
    thief = _MP.Process(
        target=_fenced_thief_commit, args=(lease_backend, target, thief_done)
    )
    thief.start()
    assert thief_done.wait(10)
    _join(thief)
    resume.set()
    _join(victim)
    assert open(out).read() == "rejected-at-write"
    assert open(target).read() == "thief"  # the thief's commit survived


def test_fenced_write_passes_live_holder(lease_backend, tmp_path):
    """The fence check must be invisible to the healthy path: a live
    holder's validate renews the lease and the write proceeds."""
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        LocalFileIO,
    )

    target = str(tmp_path / "ok.json")
    io = ArbitratedFileIO(LocalFileIO(), mutex=_make_mutex(lease_backend))
    assert io.create_exclusive(target, "healthy")
    assert open(target).read() == "healthy"
    # second writer loses by O_EXCL, not by fence (its own fence is fresh)
    assert io.create_exclusive(target, "late") is False
