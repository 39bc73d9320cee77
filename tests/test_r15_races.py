"""Round-15 race hunt (VERDICT r14 item 8) + guards for the r15
intent-sentinel short-circuit.

Seams this round:
- `decide_txn` abort racing the txn's OWN marker flip from a THIRD
  process (two overlapping writers both deciding while the txn
  commits): every decision routes through one O_EXCL create, so all
  parties must CONVERGE on whatever the marker says — never two
  different beliefs about the same txn.
- `_check_pending_txn_claims` interleaving with a concurrent
  checkpoint writer under ArbitratedFileIO: checkpoints refuse to
  freeze past a pending txn, so however the scan's
  latest_checkpoint_version() read interleaves with checkpoint
  creation, the staged claim must never fall below the scan bound.
- The r15 intent sentinels themselves: staged-pending implies
  intent-present (so the short-circuit may only skip entry reads when
  NO txn is in flight), stale intents (crash between intent and
  stage) are harmless, and the no-txn fast path provably performs
  ZERO entry reads — the guard against the O(n^2) per-commit rescan
  ever regressing.
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from local_datalakehouse_phase2_spark.lakehouse import Lakehouse
from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    FlockMutex,
    LocalFileIO,
)
from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry


def _df(spark, *rows):
    return spark.createDataFrame(list(rows), "k bigint, v string")


def _lake(spark, tmp_path, name="w", io=None):
    lake = Lakehouse(spark, str(tmp_path / name), io=io)
    lake.create_namespace("lab")
    t = lake.create_table("lab.t1", schema="k bigint, v string")
    t.append(_df(spark, (1, "m1"), (2, "m2")).coalesce(1))
    return lake


def _stage_pending_txn(t, txn_id):
    """Stage a pending txn entry through log.append (the production
    chokepoint — so the intent sentinel is created exactly as a real
    transaction's first staged write would)."""
    path = sorted(p for p, fi in t.log.state_at().items() if fi.content == 0)[0]

    def make(version: int) -> LogEntry:
        return LogEntry(
            version=version,
            snapshot_id=version,
            committed_at=time.time(),
            operation="delete",
            removed_files=(path,),
            extra={"txn": txn_id},
        )

    t.log.append(make)
    return path


def test_third_party_deciders_converge(spark, tmp_path):
    """Two overlapping writers decide 'aborted' while the txn's own
    flip decides 'committed', all simultaneously from SEPARATE log
    instances: exactly one marker lands, every decider's return value
    equals what the marker says, and the staged entry's main-lineage
    status agrees in every instance."""
    lake = _lake(spark, tmp_path)
    wh = lake.warehouse_dir
    t = lake.table("lab.t1")
    _stage_pending_txn(t, "race-3way")
    barrier = threading.Barrier(3)
    results: dict[str, str] = {}

    def decide(key, status):
        log = Lakehouse(spark, wh).table("lab.t1").log  # cold instance
        barrier.wait()
        results[key] = log.decide_txn("race-3way", status)

    ths = [
        threading.Thread(target=decide, args=(k, s))
        for k, s in (("w1", "aborted"), ("w2", "aborted"), ("flip", "committed"))
    ]
    [th.start() for th in ths]
    [th.join(30) for th in ths]
    assert len(results) == 3
    import json as _json

    marker_path = os.path.join(wh, ".txns", "race-3way.json")
    marker = _json.loads(open(marker_path).read())["status"]
    assert set(results.values()) == {marker}
    # every cold reader agrees on lineage: committed -> entry folds in,
    # aborted -> it never does
    log2 = Lakehouse(spark, wh).table("lab.t1").log
    entry = log2.read_entry(log2.versions()[-1])
    assert log2.in_main_lineage(entry) == (marker == "committed")
    # the intent sentinel is retired whichever side won
    assert not os.path.exists(os.path.join(wh, ".txns", "race-3way.intent"))


def test_claims_scan_survives_concurrent_checkpointing(spark, tmp_path):
    """A checkpoint writer hammering write_checkpoint (which clamps
    below the pending entry) must never make the claims scan miss the
    staged removal — however latest_checkpoint_version() interleaves
    with checkpoint creation. Run under ArbitratedFileIO so the
    arbited create path is the one exercised."""
    io = ArbitratedFileIO(LocalFileIO(), mutex=FlockMutex())
    lake = _lake(spark, tmp_path, io=io)
    t = lake.table("lab.t1")
    # a few plain commits below the txn so checkpoints have room
    for i in range(3):
        t.append(_df(spark, (10 + i, "x")).coalesce(1))
    claimed = _stage_pending_txn(t, "cp-race")
    stop = threading.Event()
    errs: list[Exception] = []

    def churn():
        log2 = Lakehouse(spark, lake.warehouse_dir, io=io).table("lab.t1").log
        while not stop.is_set():
            try:
                log2.write_checkpoint()
            except Exception as e:  # pragma: no cover - fail loudly below
                errs.append(e)
                return

    th = threading.Thread(target=churn)
    th.start()
    try:
        for _ in range(60):
            claims = t.log.pending_txn_removed_claims()
            assert claims.get(claimed) == "cp-race", claims
    finally:
        stop.set()
        th.join(30)
    assert not errs, errs
    # the checkpoint writer must have been clamped BELOW the pending
    # entry every time (a checkpoint past it would freeze the txn out)
    cp = t.log.latest_checkpoint_version()
    pending_v = t.log.versions()[-1]
    assert cp is not None and cp < pending_v


def test_no_txn_fast_path_reads_zero_entries(spark, tmp_path, monkeypatch):
    """THE r15 perf contract: with no txn in flight, the per-commit
    claims guard must answer from one dir listing with ZERO entry
    reads — guarded here by making read_entry explode."""
    lake = _lake(spark, tmp_path)
    t = lake.table("lab.t1")
    for i in range(3):
        t.append(_df(spark, (20 + i, "y")).coalesce(1))

    def boom(version):  # any entry read on this path is the regression
        raise AssertionError("pending_txn_removed_claims read an entry with no txns")

    monkeypatch.setattr(type(t.log), "read_entry", staticmethod(boom))
    assert t.log.pending_txn_removed_claims() == {}


def test_stale_intent_is_harmless_and_self_heals(spark, tmp_path):
    """Crash window: an intent created whose txn never staged (or never
    decided) — the scan runs, finds no staged claims, commits proceed;
    once the ghost txn is decided, the sentinel is retired and the
    zero-read fast path is restored."""
    lake = _lake(spark, tmp_path)
    t = lake.table("lab.t1")
    t.log._ensure_txn_intent("ghost")
    assert t.log.pending_txn_removed_claims() == {}
    t.append(_df(spark, (30, "z")).coalesce(1))  # commits still flow
    t.log.decide_txn("ghost", "aborted")
    assert not os.path.exists(os.path.join(t.log.txn_dir, "ghost.intent"))
    # fresh instance: decided-marker discovery also clears leftovers
    t.log._ensure_txn_intent("ghost2")
    log2 = Lakehouse(spark, lake.warehouse_dir).table("lab.t1").log
    log2.decide_txn("ghost2", "aborted")
    t2 = Lakehouse(spark, lake.warehouse_dir).table("lab.t1")
    assert t2.log.pending_txn_removed_claims() == {}
    assert not os.path.exists(os.path.join(t.log.txn_dir, "ghost2.intent"))


def test_staged_pending_implies_intent_present(spark, tmp_path):
    """The structural invariant the short-circuit rests on: any entry
    staged through log.append with extra.txn has its intent sentinel
    on disk BEFORE the entry — so a claims scan that sees the entry
    necessarily sees the intent. Checked across a cold instance."""
    lake = _lake(spark, tmp_path)
    t = lake.table("lab.t1")
    claimed = _stage_pending_txn(t, "inv-txn")
    assert os.path.exists(os.path.join(t.log.txn_dir, "inv-txn.intent"))
    cold = Lakehouse(spark, lake.warehouse_dir).table("lab.t1")
    assert cold.log.pending_txn_removed_claims() == {claimed: "inv-txn"}


def test_full_lifecycle_through_remote_cas_arbiter(spark, tmp_path):
    """End-to-end: a Lakehouse whose every create_exclusive routes
    through the lease-and-fence conditional-put endpoint (EndpointMutex,
    the object-store arbiter) runs a real lifecycle — appends, a COW
    delete, a merge, a multi-table txn with a conflicting direct write
    — and the conflict semantics come out identical to the default
    local runs. The conformance kit proves the mutex contract in
    isolation; this proves the seam carries production traffic."""
    from local_datalakehouse_phase2_spark.lakehouse.fs import EndpointMutex

    io = ArbitratedFileIO(
        LocalFileIO(), mutex=EndpointMutex(str(tmp_path / "endpoint.db"))
    )
    lake = _lake(spark, tmp_path, io=io)
    t = lake.table("lab.t1")
    t.delete_where("k = 1")
    assert {tuple(r) for r in t.read().collect()} == {(2, "m2")}
    t.merge(_df(spark, (2, "M2"), (3, "m3")), key_cols=["k"])
    assert {tuple(r) for r in t.read().collect()} == {(2, "M2"), (3, "m3")}
    # multi-table txn losing to a direct writer, arbitrated remotely
    lake.create_table("lab.t2", schema="k bigint, v string")
    txn = lake.transaction()
    txn.append("lab.t2", _df(spark, (10, "x")))
    txn.overwrite("lab.t1", _df(spark, (9, "ow")))
    t.overwrite(_df(spark, (5, "direct")))  # direct writer wins
    from local_datalakehouse_phase2_spark.lakehouse import CommitConflictError

    with pytest.raises(CommitConflictError):
        txn.commit()
    assert {tuple(r) for r in t.read().collect()} == {(5, "direct")}
    assert lake.table("lab.t2").read().count() == 0  # nothing leaked
    # and a clean txn commits atomically through the same endpoint
    txn2 = lake.transaction()
    txn2.append("lab.t1", _df(spark, (7, "t7")))
    txn2.append("lab.t2", _df(spark, (8, "t8")))
    assert txn2.commit()["status"] == "committed"
    assert {tuple(r) for r in t.read().collect()} == {(5, "direct"), (7, "t7")}
    assert lake.table("lab.t2").read().count() == 1


# r17 (VERDICT item 2a): heavy suite — excluded from the default
# driver-contract run by pytest.ini's `-m "not slow"`; the builder
# gate runs `pytest -m slow` so coverage is unchanged, only WHERE
# it runs moved.
import pytest as _pytest_r17

pytestmark = _pytest_r17.mark.slow
