"""The create_exclusive CAS seam under object-store semantics.

On raw S3, create-no-overwrite is check-then-put: two racers can both
pass the existence check, both PUT, and both believe they won — the
exact failure Iceberg's pair-S3-with-a-catalog guidance exists for.
`RacyFileIO` simulates that store (a barrier forces both racers into
the check-to-put gap); each test first DEMONSTRATES the lost-update on
the naive store, then proves `ArbitratedFileIO` (the injectable mutex
seam a DynamoDB/ZooKeeper/catalog backend would implement; here
`FlockMutex`, which also excludes threads) restores the
at-most-one-winner contract for all three consumers of the primitive:
log-entry commits, per-ref advisory locks, and multi-table
transaction markers.

No Spark involvement: this layer is pure metadata IO.
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    FileIO,
    FlockMutex,
    LocalFileIO,
)
from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry, TransactionLog


class RacyFileIO(LocalFileIO):
    """S3-style create_exclusive: existence check, an open race window
    (optionally synchronized by a Barrier so two threads deterministically
    both pass the check), then a plain overwriting PUT."""

    def __init__(
        self,
        barrier: threading.Barrier | None = None,
        stall_put_containing: str | None = None,
        stall_s: float = 0.15,
    ):
        self.barrier = barrier
        # Make the racy last-writer-wins outcome DETERMINISTIC: the PUT
        # whose payload contains this substring sleeps after the check,
        # so it always lands last. Without it the winner is a coin flip
        # and an assert on a specific lost decision is flaky.
        self.stall_put_containing = stall_put_containing
        self.stall_s = stall_s

    def arm(self) -> threading.Barrier:
        """Install a FRESH 2-party barrier just before a race.

        Seeding fixtures through this io with a barrier already armed
        would make the single-threaded seed write time out the wait —
        and a timed-out Barrier is broken permanently, silently turning
        the later "deterministic" race into an unsynchronized one (the
        round-9 suite-red root cause). Arm after seeding, race, and
        assert the barrier never broke mid-demonstration.
        """
        self.barrier = threading.Barrier(2)
        return self.barrier

    # An object store has no kernel lock: the floor-checked commit and
    # the entry free are the unguarded base versions, not LocalFileIO's
    # directory-locked ones.
    create_exclusive_guarded = FileIO.create_exclusive_guarded
    remove_arbitrated = FileIO.remove_arbitrated

    def create_exclusive(self, path: str, data: str) -> bool:
        if os.path.exists(path):  # the CHECK
            return False
        if self.barrier is not None:
            try:
                self.barrier.wait(timeout=0.5)
            except threading.BrokenBarrierError:
                pass
        if self.stall_put_containing and self.stall_put_containing in data:
            time.sleep(self.stall_s)
        # The PUT: atomic whole-object replace, last writer wins — S3
        # semantics. (A plain truncating open() would let two racing
        # different-length payloads interleave into invalid JSON, which
        # is NOT how an object store loses an update.)
        tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.put"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)
        return True


def _race(fn_a, fn_b):
    out: dict = {}

    def run(key, fn):
        try:
            out[key] = fn()
        except Exception as e:  # surfaced to the asserting test
            out[key] = e

    ta = threading.Thread(target=run, args=("a", fn_a))
    tb = threading.Thread(target=run, args=("b", fn_b))
    ta.start(), tb.start()
    ta.join(10), tb.join(10)
    return out["a"], out["b"]


def _mk_log(tmp_path, io, name):
    return TransactionLog(str(tmp_path / name / "metadata"), io=io)


def _entry_maker(tag):
    def make(version):
        return LogEntry(
            version=version,
            snapshot_id=version,
            committed_at=time.time(),
            operation="append",
            extra={"writer": tag},
        )

    return make


def test_commit_race_naive_loses_then_arbiter_fixes(tmp_path):
    # NAIVE: both writers pass the check for version 1, both PUT the
    # same entry path, both return — one commit silently vanishes.
    io = RacyFileIO()
    log = _mk_log(tmp_path, io, "naive")
    log.append(_entry_maker("seed"))  # seeded un-armed: must not break the barrier
    barrier = io.arm()
    a, b = _race(
        lambda: log.append(_entry_maker("a")), lambda: log.append(_entry_maker("b"))
    )
    assert not barrier.broken  # the demonstration actually synchronized
    assert not isinstance(a, Exception) and not isinstance(b, Exception)
    assert len(log.versions()) == 2  # 3 commits made, 2 entries exist: LOST

    # ARBITRATED: same racy store under the mutex seam — check-then-put
    # becomes CAS, the loser retries at the next version, nothing lost.
    io2 = RacyFileIO()
    log2 = _mk_log(tmp_path, ArbitratedFileIO(io2, FlockMutex()), "locked")
    log2.append(_entry_maker("seed"))
    io2.arm()  # under the mutex the waits time out (serialized) — by design
    a, b = _race(
        lambda: log2.append(_entry_maker("a")), lambda: log2.append(_entry_maker("b"))
    )
    assert not isinstance(a, Exception) and not isinstance(b, Exception)
    assert len(log2.versions()) == 3
    writers = {(log2.read_entry(v).extra or {}).get("writer") for v in log2.versions()}
    assert writers == {"seed", "a", "b"}


def test_ref_lock_race_naive_overlaps_then_arbiter_excludes(tmp_path):
    """The per-ref advisory lock rides the same primitive: on the racy
    store two branch committers can both 'hold' the lock (their
    read-modify-write of the ref file then loses an update); under the
    arbiter the critical sections never overlap."""

    def run_pair(io, name, racy):
        log = _mk_log(tmp_path, io, name)
        log.append(_entry_maker("seed"))
        log.create_ref("dev", 0, kind="branch")
        racy.arm()  # fresh barrier AFTER seeding (a timed-out one is broken)
        inside = []
        overlap = []

        def critical(tag):
            def fn():
                inside.append(tag)
                if len(inside) > 1:
                    overlap.append(tuple(inside))
                time.sleep(0.05)
                inside.remove(tag)
                return tag

            return lambda: log._with_ref_lock("dev", fn)

        _race(critical("a"), critical("b"))
        return overlap

    racy_naive = RacyFileIO()
    assert run_pair(racy_naive, "reflock_naive", racy_naive)
    assert not racy_naive.barrier.broken
    racy_locked = RacyFileIO()
    assert not run_pair(ArbitratedFileIO(racy_locked, FlockMutex()), "reflock_locked", racy_locked)


def test_txn_marker_race_naive_contradicts_then_arbiter_decides(tmp_path, spark):
    """A committer racing an abort janitor (e.g. a cleanup sweep
    deciding a stuck transaction) on the marker: naively both believe
    they decided — commit() reports success while the marker says
    aborted, so the staged rows never surface. Under the arbiter
    exactly one decision exists and the loser observes the winner's."""
    from local_datalakehouse_phase2_spark.lakehouse import Lakehouse, TransactionError

    def run_pair(io, name, racy):
        lake = Lakehouse(spark, str(tmp_path / name), io=io)
        lake.create_namespace("lab")
        t = lake.create_table("lab.t", schema="k bigint, v string")
        t.append(spark.createDataFrame([(1, "a")], "k bigint, v string"))
        txn = lake.transaction()
        txn.append("lab.t", spark.createDataFrame([(2, "b")], "k bigint, v string"))

        janitor = lake.transaction(txn_id=txn.txn_id)
        janitor._staged = list(txn._staged)  # the sweep knows the members

        # Arm only now: every fixture write above went through the same
        # io, and a single-threaded create_exclusive waiting out an
        # armed 2-party barrier breaks it permanently (r9 suite-red).
        # The race itself is exactly two create_exclusive calls — the
        # commit marker vs the abort marker — so the barrier pairs them.
        racy.arm()
        res_commit, res_abort = _race(txn.commit, janitor.abort)
        final = t.log.txn_status(txn.txn_id)
        committed_reported = (
            isinstance(res_commit, dict) and res_commit["status"] == "committed"
        )
        rows = {tuple(r) for r in t.read().collect()}
        return committed_reported, final, rows, res_commit

    # NAIVE: force both through the check, demand the contradiction —
    # commit() claimed success but the janitor's PUT landed last, so
    # the committed rows are invisible (or vice versa: marker says
    # committed while abort() believed it won). Either direction is a
    # lost decision; with the barrier both PUT, last writer wins, and
    # at least one caller's belief contradicts the marker.
    # Stall the abort marker's PUT so it deterministically lands last:
    # commit() has already returned success when the janitor's payload
    # overwrites the marker — the canonical lost decision.
    racy = RacyFileIO(stall_put_containing='"status": "aborted"')
    committed_reported, final, rows, res = run_pair(racy, "naive", racy)
    assert not racy.barrier.broken  # the check-to-put overlap really happened
    believed = {"committed"} if committed_reported else set()
    if isinstance(res, TransactionError):
        believed = set()  # commit observed the abort: no contradiction path
    contradiction = (committed_reported and final == "aborted") or (
        not committed_reported and final == "committed"
    )
    assert contradiction, (committed_reported, final, rows)

    # ARBITRATED: one winner; every observer agrees with the marker.
    racy2 = RacyFileIO()
    committed_reported, final, rows, res = run_pair(
        ArbitratedFileIO(racy2, FlockMutex()), "locked", racy2
    )
    if final == "committed":
        assert committed_reported and (2, "b") in rows
    else:
        assert final == "aborted"
        assert not committed_reported and (2, "b") not in rows
