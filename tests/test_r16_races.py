"""r16 directed races: the seam hunt (standing item) — intent-sentinel
creation racing a checkpoint clamp (log.py txn intents vs
write_checkpoint), and a fast-write append racing a distribution-mode
change.
"""

from __future__ import annotations

import time


# ---- seam hunt (VERDICT r15 item 8) ---------------------------------


def _mk_entry(version, *, op="append", adds=(), removes=(), extra=None):
    from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry

    return LogEntry(
        version=version,
        snapshot_id=version,
        committed_at=time.time(),
        operation=op,
        added_files=tuple(adds),
        removed_files=tuple(removes),
        extra=extra,
    )


def test_checkpoint_in_intent_stage_gap_keeps_claims_visible(tmp_path):
    """Seam: log.append creates the txn intent sentinel BEFORE the
    staged entry lands (intent-before-stage). A checkpoint taken by
    another writer INSIDE that gap must not hide the subsequently
    staged claim: the staged entry necessarily lands above the
    checkpoint (versions are allocated above latest), so the
    pending-claims scan — which skips v <= checkpoint — still sees it,
    and a later checkpoint still clamps below the pending entry."""
    from local_datalakehouse_phase2_spark.lakehouse.log import (
        FileInfo,
        TransactionLog,
    )

    md = str(tmp_path / "w" / "lab" / "t" / "metadata")
    writer = TransactionLog(md)
    writer.append(
        lambda v: _mk_entry(v, adds=[FileInfo("data/f0.parquet", 1, 1)])
    )

    # the gap: intent exists, staged entry does not (a writer paused
    # between _ensure_txn_intent and create_exclusive inside append)
    writer._ensure_txn_intent("t-race")

    checkpointer = TransactionLog(md)
    cpv = checkpointer.write_checkpoint()
    assert cpv == 0  # froze the pre-stage state, nothing pending yet

    # the writer resumes: staged entry lands ABOVE the checkpoint
    staged = writer.append(
        lambda v: _mk_entry(
            v, op="overwrite", removes=["data/f0.parquet"], extra={"txn": "t-race"}
        )
    )
    assert staged.version > cpv

    # a cold reader (fresh caches) still surfaces the pending claim
    reader = TransactionLog(md)
    assert reader.pending_txn_removed_claims() == {"data/f0.parquet": "t-race"}
    # and a checkpoint taken NOW clamps below the pending entry
    assert reader.write_checkpoint() == staged.version - 1


def test_stale_intent_without_stage_is_inert(tmp_path):
    """The other half of the gap: the writer CRASHES between intent and
    stage. The leftover sentinel must cost one bounded scan, never a
    phantom claim, and a decided marker retires it."""
    from local_datalakehouse_phase2_spark.lakehouse.log import (
        FileInfo,
        TransactionLog,
    )

    md = str(tmp_path / "w" / "lab" / "t" / "metadata")
    writer = TransactionLog(md)
    writer.append(lambda v: _mk_entry(v, adds=[FileInfo("data/f0.parquet", 1, 1)]))
    writer._ensure_txn_intent("t-crashed")

    reader = TransactionLog(md)
    assert reader.pending_txn_removed_claims() == {}  # no staged entry, no claims
    import os

    intent = os.path.join(reader.txn_dir, "t-crashed.intent")
    assert os.path.exists(intent)  # undecided: kept (the txn may still stage)
    # once decided, the sentinel retires on next discovery
    reader.decide_txn("t-crashed", "aborted")
    reader.pending_txn_removed_claims()
    assert not os.path.exists(intent)


def test_fastwrite_append_racing_distribution_mode_change(spark, tmp_path):
    """Seam (r16 hunt, half 2): an append whose fastwrite eligibility
    was decided under mode=none races a concurrent ALTER to
    write.distribution-mode=hash, landing in the window between the
    append's file write and its entry commit. Distribution mode is
    write-time LAYOUT only (no reader consumes it — grep:
    PROP_DISTRIBUTION_MODE is read in _write_files and the fastwrite
    gate alone), so the benign outcome to pin is: both commits land,
    no rows lost, the final property map reflects the ALTER, and the
    NEXT append honors the new mode."""
    from local_datalakehouse_phase2_spark.lakehouse import Lakehouse
    from local_datalakehouse_phase2_spark.localrows import local_df

    wh = str(tmp_path / "w")
    lake = Lakehouse(spark, wh)
    lake.create_namespace("lab")
    t = lake.create_table("lab.t", schema="k bigint, v string")
    t2 = Lakehouse(spark, wh).table("lab.t")  # the concurrent ALTER-er

    real_append = t.log.append
    fired = []

    def hooked(make_entry, **kw):
        if not fired:
            fired.append(True)
            t2.set_properties(
                {"write.distribution-mode": "hash", "write.hash-columns": "k"}
            )
        return real_append(make_entry, **kw)

    t.log.append = hooked
    t.append(local_df(spark, [(i, f"v{i}") for i in range(6)], "k bigint, v string"))
    t.log.append = real_append

    assert fired  # the ALTER really landed inside the window
    assert t.read().count() == 6
    props = t.log.properties_at()
    assert props.get("write.distribution-mode") == "hash"
    # the next append sees the new mode (fastwrite gate requires
    # mode=none, so this one must take the Spark writer) and data stays
    # complete
    t.append(local_df(spark, [(10, "x")], "k bigint, v string"))
    assert t.read().count() == 7


# r17 (VERDICT item 2a): heavy suite — excluded from the default
# driver-contract run by pytest.ini's `-m "not slow"`; the builder
# gate runs `pytest -m slow` so coverage is unchanged, only WHERE
# it runs moved.
import pytest as _pytest_r17

pytestmark = _pytest_r17.mark.slow
