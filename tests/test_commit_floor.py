"""Commit floor: a log-entry commit never lands at or below the newest
checkpoint.

Snapshot expiry frees old entry-file NAMES (remove_entries), and a
commit that chose its version from a stale listing — e.g. it stalled
while the maintenance process committed, checkpointed, and expired —
could win O_EXCL on a freed slot and land BELOW the table head, where
every checkpoint-anchored fold silently skips it. Observed as a
~1-in-5 failure of test_flock_mutex.py::test_maintenance_under_live_
ingest_stress[endpoint] on a loaded host (row total 190 != 200, the
forensic event log showing `append-committed v=1` seconds after
maintenance had committed v1-v6 and expired v1).

The closure (log.append + fs.create_exclusive_guarded/remove_
arbitrated): expiry checkpoints BEFORE dropping entries and checkpoints
are never deleted, so "slot freed" implies "newest checkpoint >= slot"
from the moment of the free, forever. The commit's write is gated on
`version > newest checkpoint` evaluated INSIDE the arbiter's hold, and
entry removal takes the same hold — so the floor check and the free
serialize, and a stale claim retries above the head instead of
resurrecting the slot. The default LocalFileIO holds a flock(2) on the
log directory for this; ArbitratedFileIO holds its mutex."""

from __future__ import annotations

import json
import multiprocessing
import os
import time

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    EndpointMutex,
)
from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry, TransactionLog

from .test_cas_seam import RacyFileIO

_MP = multiprocessing.get_context("fork")


def _mk(op="append", files=(), extra=None):
    def make(version):
        return LogEntry(
            version=version,
            snapshot_id=version,
            committed_at=time.time(),
            operation=op,
            added_files=tuple(files),
            extra=extra,
        )

    return make


def test_stale_claim_never_reclaims_expired_slot(tmp_path):
    meta = str(tmp_path / "t" / "metadata")
    db = str(tmp_path / "locks.db")
    io = ArbitratedFileIO(RacyFileIO(), mutex=EndpointMutex(db))
    log = TransactionLog(meta, io=io)
    for _ in range(5):  # v0..v4
        log.append(_mk())
    log.write_checkpoint(4)
    log.remove_entries([1, 2])  # expiry's free: slots 1,2 reclaimable pre-r17

    # a writer whose first listing predates everything above: its claim
    # must be REJECTED by the checkpoint-floor precondition and retried
    # against a fresh listing — never written into the freed slot
    calls = {"n": 0}
    real = log.latest_version

    def stale_once():
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real()

    log.latest_version = stale_once
    entry = log.append(_mk())
    assert entry.version == 5, entry
    assert not os.path.exists(os.path.join(meta, "0000000001.json")), (
        "the stale claim resurrected an expired slot below the head"
    )
    assert calls["n"] >= 2  # the stale first claim really was exercised


def test_guarded_create_precondition_blocks_write(tmp_path):
    """Contract of the new seam on the plain (non-arbitrated) base:
    a False precondition means no write and a False return."""
    io = RacyFileIO()
    p = str(tmp_path / "x.json")
    assert io.create_exclusive_guarded(p, "data", lambda: False) is False
    assert not os.path.exists(p)
    assert io.create_exclusive_guarded(p, "data", lambda: True) is True
    assert open(p).read() == "data"


def test_remove_arbitrated_serializes_with_guarded_create(tmp_path):
    """remove_arbitrated takes the same per-path mutex the guarded
    create holds, so a free and a claim on one slot cannot interleave:
    with the claim's precondition waiting on an armed barrier-free
    sequence, the ordering is free-then-claim or claim-then-free, and
    in both orders the slot cannot be silently resurrected below a
    checkpoint floor (the floor read happens under the same hold)."""
    db = str(tmp_path / "locks.db")
    io = ArbitratedFileIO(RacyFileIO(), mutex=EndpointMutex(db))
    p = str(tmp_path / "0000000001.json")
    io.write_text_atomic(p, "old")
    io.remove_arbitrated(p)
    assert not os.path.exists(p)
    # floor says no -> stays free; floor says yes -> claimed exactly once
    assert io.create_exclusive_guarded(p, "new", lambda: False) is False
    assert not os.path.exists(p)
    assert io.create_exclusive_guarded(p, "new", lambda: True) is True
    assert io.create_exclusive_guarded(p, "newer", lambda: True) is False
    assert open(p).read() == "new"


def _stalled_stale_writer(meta, in_check, maint_done, out_path):
    """Claims v1 from a listing that predates v2..v4, reads the
    checkpoint floor (none yet), then stalls before its create — the
    window in which maintenance checkpoints and frees v1."""
    log = TransactionLog(meta)
    real_latest = log.latest_version
    real_floor = log.latest_checkpoint_version
    calls = {"latest": 0, "floor": 0}

    def stale_latest():
        calls["latest"] += 1
        return 0 if calls["latest"] == 1 else real_latest()

    def stalled_floor(*args, **kwargs):
        cp = real_floor(*args, **kwargs)
        calls["floor"] += 1
        if calls["floor"] == 1:
            in_check.set()
            maint_done.wait(1.0)
        return cp

    log.latest_version = stale_latest
    log.latest_checkpoint_version = stalled_floor
    entry = log.append(_mk(extra={"writer": "stale"}))
    with open(out_path, "w") as f:
        json.dump({"version": entry.version}, f)


def _expiring_maintenance(meta, in_check, maint_done):
    log = TransactionLog(meta)
    assert in_check.wait(10)
    log.write_checkpoint(4)
    log.remove_entries([1, 2])
    maint_done.set()


def test_default_io_stalled_writer_lands_above_checkpoint(tmp_path):
    """Two processes on the plain default LocalFileIO, no wrapper: a
    writer stalls between its checkpoint-floor check and its create
    while maintenance writes checkpoint 4 and frees entries 1 and 2.
    The writer's commit must land above the checkpoint, never in a
    freed slot where no fold would see it."""
    meta = str(tmp_path / "t" / "metadata")
    log = TransactionLog(meta)
    for _ in range(5):  # v0..v4
        log.append(_mk())
    out = str(tmp_path / "writer.json")
    in_check, maint_done = _MP.Event(), _MP.Event()
    pw = _MP.Process(
        target=_stalled_stale_writer, args=(meta, in_check, maint_done, out)
    )
    pm = _MP.Process(target=_expiring_maintenance, args=(meta, in_check, maint_done))
    pw.start(), pm.start()
    pw.join(30), pm.join(30)
    assert pw.exitcode == 0 and pm.exitcode == 0

    landed = json.load(open(out))["version"]
    cold = TransactionLog(meta)
    assert cold.latest_checkpoint_version() == 4
    assert landed > 4, f"the stalled commit landed at v{landed}, below checkpoint 4"
    below = [
        v for v in cold.versions()
        if v <= 4 and (cold.read_entry(v).extra or {}).get("writer") == "stale"
    ]
    assert not below, f"the stalled writer's entry sits at or below the checkpoint: {below}"
    assert not os.path.exists(os.path.join(meta, "0000000001.json"))
    assert not os.path.exists(os.path.join(meta, "0000000002.json"))
    assert (cold.read_entry(landed).extra or {}).get("writer") == "stale"
