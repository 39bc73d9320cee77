"""Multi-HOST CAS arbitration via EndpointMutex (VERDICT r10 task #8).

tests/test_flock_mutex.py proves host-wide arbitration; its docstring
(fs.py FlockMutex) names the remaining gap: two DIFFERENT hosts share
no kernel, so flock cannot arbitrate them — the reference stack
delegates that role to a catalog endpoint (Nessie,
docker-compose.yml:6). This file simulates two nodes as two forked
processes over the racy S3-style store that share nothing but the
endpoint, and proves:

- the naive store loses a commit (both pass the version check);
- EndpointMutex over one shared sqlite endpoint (the conditional-put
  pattern of a DynamoDB lock table / Nessie commit endpoint) loses
  nothing — with zero changes to any consumer, which is the seam's
  whole claim.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import time

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    EndpointMutex,
)
from local_datalakehouse_phase2_spark.lakehouse.log import TransactionLog

from .test_cas_seam import RacyFileIO, _entry_maker

_MP = multiprocessing.get_context("fork")


def _mk_io(barrier, db):
    io = RacyFileIO(barrier)
    return io if db is None else ArbitratedFileIO(io, mutex=EndpointMutex(db))


def _append_worker(meta_dir, barrier, tag, db):
    log = TransactionLog(meta_dir, io=_mk_io(barrier, db))
    log.append(_entry_maker(tag))


def _race(meta_dir, db):
    barrier = _MP.Barrier(2)
    pa = _MP.Process(target=_append_worker, args=(meta_dir, barrier, "a", db))
    pb = _MP.Process(target=_append_worker, args=(meta_dir, barrier, "b", db))
    pa.start(), pb.start()
    pa.join(20), pb.join(20)
    assert pa.exitcode == 0 and pb.exitcode == 0


def _seeded(tmp_path, name):
    meta = str(tmp_path / name / "metadata")
    log = TransactionLog(meta, io=RacyFileIO())  # seed un-armed
    log.append(_entry_maker("seed"))
    return meta


def _writers(meta):
    log = TransactionLog(meta, io=RacyFileIO())
    return {(log.read_entry(v).extra or {}).get("writer") for v in log.versions()}


def test_two_nodes_naive_store_loses(tmp_path):
    meta = _seeded(tmp_path, "naive")
    _race(meta, None)
    assert len(_writers(meta)) == 2  # 3 commits made, 2 survive: LOST


def test_two_nodes_endpoint_mutex_loses_nothing(tmp_path):
    meta = _seeded(tmp_path, "endpoint")
    db = str(tmp_path / "endpoint.db")  # the shared 'catalog service'
    _race(meta, db)
    assert _writers(meta) == {"seed", "a", "b"}  # all three survive


def test_endpoint_mutex_steals_crashed_holder(tmp_path, monkeypatch):
    """A holder row left by a crashed process must not wedge the
    endpoint forever: past LOCK_STEAL_SECONDS the next waiter takes
    over (the DynamoDB-TTL presumption)."""
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

    monkeypatch.setattr(lh_log, "LOCK_STEAL_SECONDS", 0.05)
    db = str(tmp_path / "endpoint.db")
    mutex = EndpointMutex(db)
    con = mutex._connect()
    con.execute(
        "INSERT INTO locks VALUES (?, ?, ?)",
        (os.path.realpath(str(tmp_path / "p")), "dead-proc", time.time() - 1.0),
    )
    con.close()
    t0 = time.monotonic()
    with mutex(str(tmp_path / "p")):
        pass
    assert time.monotonic() - t0 < 5.0  # stolen, not timed out


def test_endpoint_mutex_contention_loop(tmp_path):
    """20 interleaved appends from two nodes through the endpoint:
    every commit survives, versions stay dense."""

    def worker(meta, db, tag, n, out_dir):
        log = TransactionLog(meta, io=_mk_io(None, db))
        for i in range(n):
            log.append(_entry_maker(f"{tag}{i}"))
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump({"done": n}, f)

    meta = _seeded(tmp_path, "loop")
    db = str(tmp_path / "loop.db")
    out = str(tmp_path / "loop_out")
    os.makedirs(out)
    pa = _MP.Process(target=worker, args=(meta, db, "a", 10, out))
    pb = _MP.Process(target=worker, args=(meta, db, "b", 10, out))
    pa.start(), pb.start()
    pa.join(60), pb.join(60)
    assert pa.exitcode == 0 and pb.exitcode == 0
    log = TransactionLog(meta, io=RacyFileIO())
    versions = log.versions()
    assert len(versions) == 21  # seed + 20, none lost
    assert versions == list(range(21))  # dense: every CAS loser retried
