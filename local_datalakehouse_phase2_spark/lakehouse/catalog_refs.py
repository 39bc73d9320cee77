"""Catalog-wide refs — the actual Nessie model (SURVEY.md §2.9).

In the reference stack a ref spans the ENTIRE catalog: Spark pins
`spark.sql.catalog.nessie.ref=main`
(/root/reference/spark/conf/spark-defaults.conf:9) and Trino pins
`iceberg.nessie-catalog.ref=main`
(/root/reference/trino/catalog/iceberg.properties:5), so a Nessie
branch lets a pipeline write MANY tables over MANY commits and publish
all of them atomically with one merge — git semantics over the whole
warehouse, not one table.

This module composes the two primitives this repo already has into
that behavior:

- **per-table branch refs** (log.py create_ref / state_at_branch /
  branch commits tagged `extra.branch`) carry the branch's own commits
  on each touched table, invisible to main until merged;
- **the multi-table transaction marker** (transaction.py `.txns/`
  O_EXCL create) provides the single atomic visibility flip that turns
  N per-table merge entries into ONE publish.

Model
-----
A catalog branch `R` is a JSON record `<warehouse>/.catalog_refs/R.json`:

    {"name": R, "created_at": ...,
     "pins": {"<ns>.<table>": <main head version at fork>, ...},
     "pending_merge": null | {"txn": ..., "reanchor": {...}}}

`pins` snapshots the fork point: every table committed at
create-time maps to its then-current main head. Reads of a table the
branch never wrote are time-travel reads at the pin — exactly Nessie's
semantics, where main commits made AFTER the fork are invisible on the
branch. A table absent from `pins` (created on main after the fork)
does not exist on the branch.

The first branch write to a table lazily creates a per-table branch
ref named `catalog.R` forked AT THE PIN (not at current main head), so
the branch's read of its own writes layers them over the fork-point
state. Names under the `catalog.` prefix are reserved: managed by the
Lakehouse, not for direct merge_branch/drop_ref calls.

Atomic merge
------------
`merge_catalog_branch(R)` publishes every member table's chain with
one atomic point:

1. take the catalog-ref merge lock (O_EXCL lock file, 60 s crash
   steal — the `_with_ref_lock` discipline) so catalog merges on R
   serialize;
2. record intent: rewrite the record with `pending_merge = {txn}`
   BEFORE staging, so a crash anywhere later is recoverable by the
   next lock holder;
3. per member table, stage ONE merge entry carrying the chain's net
   file effect (branch-internal churn cancels, exactly
   maintenance.merge_branch's fold), tagged `extra.txn = <id>` —
   outside every main-lineage fold while the marker is undecided, and
   validated against live main state (removed-still-live, no-clash)
   exactly as the per-table merge is;
4. re-validate every staged entry against the now-current state (a
   main writer may have raced between stages), then create the marker
   `.txns/<id>.json` status=committed with O_EXCL. That single create
   is the atomic point: every table's merge entry joins its main
   lineage in the same instant. Any conflict before the marker
   decides the txn as `aborted` instead — nothing on ANY table
   publishes. The validate->flip gap is CLOSED (r14): staged entries
   already own version slots, so a main commit claiming a later slot
   re-validates against a log containing them, and on file overlap it
   decides THIS txn aborted through the same O_EXCL marker create
   (first committer wins — log.decide_txn,
   table._check_pending_txn_claims; compaction included). Either the
   writer's abort or the merge's commit lands, never both; writers
   that landed BEFORE staging are what the re-validate pass catches.
   Directed races: tests/test_r14_races.py.
5. bookkeeping after the flip: re-anchor each per-table branch at its
   merge version (dropping exactly the merged chain, keeping racers —
   log.reanchor_branch) and advance the record's pins for merged
   tables.

Crash windows (all covered by tests/test_crash_atomicity.py):
- after intent, before marker: the txn is undecided; recovery (next
  lock holder) decides it ABORTED — staged entries stay invisible
  forever, branch chains untouched, the merge simply didn't happen.
- after marker, before/during re-anchor: the merge IS published
  (marker committed = visible on main) and branch reads remain
  correct in the gap — state_at_branch folds pin + chain, which has
  the same content the merge published — so the only thing recovery
  must finish is bookkeeping, replayed idempotently from the marker
  payload's reanchor plan.

Sequence semantics: merge entries re-stamp added files' data sequence
numbers to the merge entry's version (rows enter main lineage at the
merge, same as maintenance.merge_branch / publish_changes), with
name_epoch pinned to the write-time value first (log.py rule). The
visibility instant is the marker flip, which can trail the stamped
version by the staging of later tables — the same stage-time-seq
stance transaction.py documents.

Scale note: one catalog merge costs O(member tables) metadata commits
+ one marker create; data files never move. Fork costs O(tables)
metadata READS (one head lookup per table) and the record holds one
pin per table — fine to ~10^5 tables as a JSON record; past that, the
record wants the catalog service a real Nessie deployment already is
(a commit DAG in a database), which slots in behind this same module
boundary. The lock + marker live in the warehouse root — on raw S3
both are check-then-put, the same documented caveat as every other
arbitration point (fs.py), resolved by wrapping the store in
ArbitratedFileIO with EndpointMutex; a local warehouse arbitrates
itself host-wide.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame

from .log import CommitConflictError, FileInfo, LogEntry, _dc_replace

_CATALOG_REFS_DIR = ".catalog_refs"
_TABLE_BRANCH_PREFIX = "catalog."


class CatalogRefError(RuntimeError):
    pass


def _table_branch(name: str) -> str:
    return _TABLE_BRANCH_PREFIX + name


class CatalogRefs:
    """Catalog-wide branch manager for one Lakehouse. Stateless between
    calls — every operation re-reads the record, so any process on the
    warehouse sees the same refs."""

    def __init__(self, lake):
        self.lake = lake
        self.io = lake.io
        self.refs_dir = os.path.join(lake.warehouse_dir, _CATALOG_REFS_DIR)

    # ---- record plumbing ------------------------------------------------

    def _record_path(self, name: str) -> str:
        import re

        if not re.fullmatch(r"[A-Za-z0-9_-]+", name):
            raise CatalogRefError(f"invalid catalog ref name {name!r}")
        return os.path.join(self.refs_dir, f"{name}.json")

    def _read_record(self, name: str) -> dict:
        path = self._record_path(name)
        try:
            return json.loads(self.io.read_text(path))
        except OSError:
            raise CatalogRefError(f"catalog ref {name!r} does not exist") from None

    def _write_record(self, record: dict) -> None:
        self.io.write_text_atomic(
            self._record_path(record["name"]), json.dumps(record, indent=1)
        )

    def _with_lock_file(self, lock: str, what: str, fn):
        """O_EXCL lock file with a 60 s crashed-holder steal — the same
        discipline as log._with_ref_lock, at catalog scope."""
        from . import log as _log

        deadline = time.monotonic() + 30.0
        while not self.io.create_exclusive(lock, str(os.getpid())):
            try:
                if time.time() - self.io.mtime(lock) > _log.LOCK_STEAL_SECONDS:
                    self.io.remove(lock)
                    continue
            except OSError:
                continue
            if time.monotonic() >= deadline:
                raise CatalogRefError(f"timed out waiting for {what}")
            time.sleep(0.01)
        try:
            return fn()
        finally:
            try:
                self.io.remove(lock)
            except OSError:
                pass

    def _with_merge_lock(self, name: str, fn):
        """Serialize catalog merges (and drop) on one ref."""
        return self._with_lock_file(
            self._record_path(name) + ".lock",
            f"catalog merge lock on {name!r}",
            fn,
        )

    def with_registry_lock(self, fn):
        """Serialize ref CREATION against table drops (r13): create()
        collects pins with a tables walk and then writes the record —
        a drop_table whose pin-guard ran before that write but whose
        rmtree ran after the walk would leave the new ref pinning a
        vanished table (the check-then-act window drop_table's r12
        docstring documented). One warehouse-level lock around
        {pin walk + record write} on the create side and {pin guard +
        rmtree} on the drop side makes the two check-then-act spans
        mutually atomic. Lock ordering: merge lock -> registry lock
        (drop() and _apply_reanchor hold a merge lock when they reach
        drop_table); nothing takes them in the other order."""
        self.io.makedirs(self.refs_dir)
        return self._with_lock_file(
            os.path.join(self.refs_dir, "_registry.lock"),
            "the catalog-refs registry lock",
            fn,
        )

    # ---- lifecycle ------------------------------------------------------

    def create(self, name: str, kind: str = "branch") -> dict:
        """Fork a catalog-wide ref at the current state: pin every
        committed table's main head. kind='branch' is Nessie's `CREATE
        BRANCH etl` (writable, mergeable); kind='tag' is Nessie's
        immutable whole-warehouse tag — the reproducible-training-run
        pin: `read(catalog_ref=tag)` resolves every table at its
        pinned version forever, expire_snapshots refuses to break the
        pins (maintenance._catalog_ref_pins reads this same record),
        and every write/merge/rebase path refuses the ref."""
        if kind not in ("branch", "tag"):
            raise CatalogRefError(f"catalog ref kind must be branch or tag, got {kind!r}")

        def run():
            # pin walk + record write under the registry lock: a
            # concurrent drop_table either finishes before the walk
            # (table skipped — no head) or waits until the record is
            # written (its pin guard then sees this ref and refuses)
            pins: dict[str, int] = {}
            for ns in self.lake.namespaces():
                for tbl in self.lake.tables(ns):
                    ident = f"{ns}.{tbl}"
                    head = self.lake.table(ident).log.latest_main_version()
                    if head is not None:
                        pins[ident] = head
            record = {
                "name": name,
                "kind": kind,
                "created_at": time.time(),
                "pins": pins,
                "created": {},
                "dropped": [],
                "pending_merge": None,
            }
            if not self.io.create_exclusive(
                self._record_path(name), json.dumps(record, indent=1)
            ):
                raise CatalogRefError(f"catalog ref {name!r} already exists")
            return record

        return self.with_registry_lock(run)

    @staticmethod
    def _kind(record: dict) -> str:
        return record.get("kind", "branch")  # pre-r12 records are branches

    def _require_branch(self, record: dict, what: str) -> None:
        if self._kind(record) != "branch":
            raise CatalogRefError(
                f"catalog ref {record['name']!r} is a tag — tags are "
                f"immutable ({what} refused)"
            )

    def pinning_refs(self, identifier: str, exclude: str | None = None) -> list[str]:
        """Names of catalog refs (branches AND tags) whose pins still
        reference `identifier` — i.e. refs whose reads would break if
        the table's directory vanished. A ref that tombstoned the table
        (branch DROP) no longer depends on it. Backs the drop_table
        pin guard (catalog.py) and the merge's published-drop
        validation."""
        out = []
        for name, rec in self.list().items():
            if name == exclude:
                continue
            if identifier in rec.get("pins", {}) and identifier not in rec.get(
                "dropped", []
            ):
                out.append(name)
        return sorted(out)

    def list(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        try:
            names = self.io.listdir(self.refs_dir)
        except OSError:
            return out
        for fname in sorted(names):
            if fname.endswith(".json"):
                raw = json.loads(self.io.read_text(os.path.join(self.refs_dir, fname)))
                out[raw["name"]] = raw
        return out

    def drop(self, name: str) -> None:
        """Delete the catalog branch: finish/void any pending merge
        first (under the lock), then remove the per-table branch refs
        and the record. Unmerged branch commits are abandoned — they
        stay in each table's append-only log until expire_snapshots."""

        def run():
            record = self._recover(self._read_record(name))
            for ident in record["pins"]:
                try:
                    t = self.lake.table(ident, any_lineage=True)
                except Exception:
                    continue  # table dropped since fork
                if _table_branch(name) in t.log.refs():
                    t.drop_ref(_table_branch(name))
                if ident in record.get("created", {}) and (
                    t.log.latest_main_version() is None
                ):
                    # created on THIS branch and never merged: the table
                    # existed nowhere else (invisible to other refs'
                    # pin loops), so no pin check applies
                    self.lake.drop_table(ident, ignore_ref_pins=True)
            self.io.remove(self._record_path(name))

        self._with_merge_lock(name, run)

    # ---- read / write on a ref -------------------------------------------

    def _pin_of(self, record: dict, identifier: str) -> int:
        if identifier in record.get("dropped", []):
            raise CatalogRefError(
                f"table {identifier} was dropped on catalog ref "
                f"{record['name']!r}"
            )
        pin = record["pins"].get(identifier)
        if pin is None:
            raise CatalogRefError(
                f"table {identifier} does not exist on catalog ref "
                f"{record['name']!r} — it was created on main after the "
                "fork; re-create the branch (or write the table on main)"
            )
        return pin

    def read(self, identifier: str, name: str) -> DataFrame:
        """Read `identifier` as the ref sees it: the per-table branch
        lineage if the branch wrote (or created) this table, else a
        time-travel read at the fork pin — main commits after the fork
        are invisible on the ref (Nessie isolation). Tags always take
        the pin path (they never have per-table branches)."""
        record = self._read_record(name)
        pin = self._pin_of(record, identifier)  # dropped/unknown raise here
        t = self.lake.table(identifier, any_lineage=True)
        if self._kind(record) == "branch" and _table_branch(name) in t.log.refs():
            return t.read(ref=_table_branch(name))
        return t.read(version=pin)

    def ensure_member(self, identifier: str, name: str) -> str:
        """Ensure `identifier`'s per-table branch for catalog ref
        `name` exists — forked AT THE PIN on first touch — and return
        its (reserved `catalog.`-prefixed) branch name. The SQL
        router's `USE REFERENCE` write path funnels through this.
        Branch-created tables already carry their per-table branch
        (anchored at the empty root); tags refuse — they are
        immutable."""
        record = self._read_record(name)
        self._require_branch(record, "write")
        pin = self._pin_of(record, identifier)
        t = self.lake.table(identifier, any_lineage=True)
        if _table_branch(name) not in t.log.refs():
            try:
                t.create_branch(_table_branch(name), at=pin)
            except ValueError:
                # two first-writes raced the lazy fork: create_ref is
                # O_EXCL, one won — losing is fine IFF the branch now
                # exists (any other ValueError is real)
                if _table_branch(name) not in t.log.refs():
                    raise
        return _table_branch(name)

    def _member_table(self, name: str, identifier: str):
        self.ensure_member(identifier, name)
        return self.lake.table(identifier, any_lineage=True)

    def append(self, identifier: str, df: DataFrame, name: str) -> LogEntry:
        return self._member_table(name, identifier).append(df, ref=_table_branch(name))

    def overwrite(self, identifier: str, df: DataFrame, name: str) -> LogEntry:
        return self._member_table(name, identifier).overwrite(
            df, ref=_table_branch(name)
        )

    def delete_where(self, identifier: str, condition, name: str) -> LogEntry:
        return self._member_table(name, identifier).delete_where(
            condition, ref=_table_branch(name)
        )

    def stream_into(
        self,
        identifier: str,
        source: DataFrame,
        checkpoint_dir: str,
        name: str,
        **kwargs,
    ):
        """Exactly-once streaming ingest ONTO the catalog branch (the
        Nessie audit-branch pattern at catalog scope): micro-batches
        commit to the table's per-table branch, invisible on main
        until merge_catalog_branch publishes — so a streaming backfill
        across several tables can be audited and then land atomically
        with everything else on the ref."""
        from ..streaming.ingest import stream_into_table

        t = self._member_table(name, identifier)
        return stream_into_table(
            source, t, checkpoint_dir, ref=_table_branch(name), **kwargs
        )

    def update_where(
        self, identifier: str, assignments: dict, condition, name: str
    ) -> LogEntry:
        return self._member_table(name, identifier).update_where(
            assignments, condition, ref=_table_branch(name)
        )

    # ---- DDL on a ref (Nessie's versioned catalog) -------------------------
    # Nessie refs version the CATALOG, not just table data: creating or
    # dropping a table on a branch is invisible on main and publishes
    # at merge with the same txn-marker flip (the ref pin at
    # /root/reference/spark/conf/spark-defaults.conf:9 scopes table
    # RESOLUTION, not just data). Mechanics: a branch-created table's
    # entire log is branch-tagged — its per-table branch anchors at the
    # virtual empty root (base -1, log.create_ref allow_empty) and its
    # CREATE entry is the first chain commit, so main folds see nothing
    # (catalog.table()/tables() treat a no-main-lineage log as
    # nonexistent on main). A branch drop is a record tombstone applied
    # physically after the merge's marker flip.

    def create_table(
        self,
        identifier: str,
        name: str,
        schema=None,
        properties: dict | None = None,
        partition_by: str | None = None,
    ):
        """CREATE TABLE on a catalog branch: invisible on main until
        merge_catalog_branch publishes it (its merge entry carries the
        schema/properties so main gains full metadata atomically at the
        marker flip). Runs under the merge lock so record updates
        serialize with merge/rebase/drop."""

        def run():
            record = self._recover(self._read_record(name))
            self._require_branch(record, "CREATE TABLE")
            if identifier in record.get("dropped", []):
                raise CatalogRefError(
                    f"table {identifier} was dropped on catalog ref {name!r}; "
                    "merge that drop before reusing the name"
                )
            if identifier in record["pins"]:
                raise CatalogRefError(
                    f"table {identifier} already exists on catalog ref {name!r}"
                )
            t, make = self.lake._create_plan(
                identifier, schema, properties, partition_by
            )
            if t.log.latest_version() is not None:
                # the physical name is taken: by a main table created
                # after the fork, or by another branch's creation
                raise CatalogRefError(
                    f"table name {identifier} is already taken in the "
                    "warehouse (created outside this branch after the fork)"
                )
            from .catalog import CatalogError  # late: catalog imports us

            t.log.create_ref(_table_branch(name), -1, allow_empty=True)
            try:
                t.log.append(make, branch=_table_branch(name))
            except CatalogError:
                # lost the create CAS (a main creator landed v0 between
                # our existence check and the append) — remove the
                # just-made empty branch ref so the foreign table keeps
                # a clean ref namespace, then surface the conflict
                try:
                    t.drop_ref(_table_branch(name))
                except Exception:
                    pass
                raise
            record["pins"][identifier] = -1
            record.setdefault("created", {})[identifier] = True
            self._write_record(record)
            return t

        return self._with_merge_lock(name, run)

    def drop_table(self, identifier: str, name: str) -> None:
        """DROP TABLE on a catalog branch. A table the branch itself
        created vanishes immediately (it existed nowhere else); a
        fork-pinned main table becomes a branch tombstone — invisible
        on the ref now, physically dropped on main when the merge
        publishes (validated against concurrent main commits)."""

        def run():
            record = self._recover(self._read_record(name))
            self._require_branch(record, "DROP TABLE")
            if identifier in record.get("dropped", []):
                raise CatalogRefError(
                    f"table {identifier} already dropped on catalog ref {name!r}"
                )
            if identifier not in record["pins"]:
                raise CatalogRefError(
                    f"table {identifier} does not exist on catalog ref {name!r}"
                )
            if identifier in record.get("created", {}):
                record["pins"].pop(identifier, None)
                record["created"].pop(identifier, None)
                self._write_record(record)
                self.lake.drop_table(identifier)
                return
            try:
                t = self.lake.table(identifier, any_lineage=True)
                if _table_branch(name) in t.log.refs():
                    # abandon any branch writes; their entries await expiry
                    t.drop_ref(_table_branch(name))
            except Exception:
                pass  # table vanished on main: tombstone still records intent
            record.setdefault("dropped", []).append(identifier)
            self._write_record(record)

        return self._with_merge_lock(name, run)

    # ---- rebase ------------------------------------------------------------

    def rebase(self, name: str, drop_conflicting: bool = False) -> dict:
        """Refresh the WHOLE branch's view of main — the recovery flow
        merge()'s conflict error needs at catalog scope (Nessie ships
        rebase alongside merge). Every pin advances to its table's
        current main head, and every member branch rebases its chain
        onto that head through maintenance.rebase_branch's per-commit
        validation: a chain commit a main change conflicts with either
        fails the whole rebase (default — nothing moves) or is dropped
        and reported (`drop_conflicting=True`) for the caller to
        re-apply on the rebased branch. Runs under the merge lock so a
        concurrent merge/rebase/drop serializes; all-or-nothing is by
        validation-before-mutation: the default mode validates every
        member's chain BEFORE advancing any pin or base.

        Crash behavior (unlike merge, there is no marker): a crash
        mid-rebase leaves some tables on the new base and some on the
        old — each individually coherent, never torn — and re-running
        the rebase converges (tests/test_crash_atomicity.py sweeps
        this). Cross-table pin consistency is restored by the re-run,
        not guaranteed in the gap."""
        from .maintenance import rebase_branch

        def run():
            record = self._recover(self._read_record(name))
            self._require_branch(record, "rebase")
            members: dict[str, object] = {}
            for ident in sorted(record["pins"]):
                if ident in record.get("created", {}) or ident in record.get(
                    "dropped", []
                ):
                    # branch-created tables have no main lineage to
                    # rebase onto; dropped ones have no branch state
                    continue
                try:
                    t = self.lake.table(ident, any_lineage=True)
                except Exception:
                    continue
                members[ident] = t
            # ONE target version per table, captured up front and used by
            # BOTH the validation pass and the mutation pass: reading the
            # head twice would let a main commit landing between them make
            # a later member conflict after earlier members were already
            # rebased — the partial state the all-or-nothing mode promises
            # not to produce (re-run converges, but the promise holds now)
            targets: dict[str, int | None] = {
                ident: t.log.latest_main_version()
                for ident, t in members.items()
                if _table_branch(name) in t.log.refs()
            }
            if not drop_conflicting:
                # validate every member chain against its target BEFORE
                # mutating anything, so a conflict on the last table
                # cannot leave the first already rebased
                for ident, t in members.items():
                    if ident not in targets:
                        continue
                    target = targets[ident]
                    state = t.log.state_at(target)
                    _base, _head, chain = t.log.branch_info(_table_branch(name))
                    for v in chain:
                        e = t.log.read_entry(v)
                        gone = [p for p in e.removed_files if p not in state]
                        clash = [fi.path for fi in e.added_files if fi.path in state]
                        if gone or clash:
                            raise CommitConflictError(
                                f"rebase_catalog_branch {name!r} on {ident}: "
                                f"branch commit {v} conflicts with main at "
                                f"snapshot {target} — nothing rebased; re-run "
                                "with drop_conflicting=True to keep the clean "
                                "commits and re-apply that change on the "
                                "rebased branch"
                            )
                        for p in e.removed_files:
                            state.pop(p, None)
                        for fi in e.added_files:
                            state[fi.path] = fi
            results: dict[str, dict] = {}
            for ident, t in members.items():
                if ident in targets:
                    results[ident] = rebase_branch(
                        t,
                        _table_branch(name),
                        onto=targets[ident],
                        drop_conflicting=drop_conflicting,
                        managed=True,
                    )
                    # pin from the rebase's OWN target: a main commit
                    # racing between two separate head reads must not
                    # leave pin != branch base
                    record["pins"][ident] = results[ident]["new_base"]
                else:
                    head = t.log.latest_main_version()
                    if head is not None:
                        record["pins"][ident] = head
            self._write_record(record)
            return {
                "catalog_ref": name,
                "rebased_tables": len(results),
                "dropped_commits": {
                    i: r["dropped_commits"] for i, r in results.items()
                    if r["dropped_commits"]
                },
                "tables": results,
            }

        return self._with_merge_lock(name, run)

    # ---- merge ------------------------------------------------------------

    def _members_with_commits(self, record: dict) -> list[tuple[str, list[int]]]:
        """(identifier, chain) for every pinned table whose per-table
        branch carries unmerged commits (branch-created tables
        included — their chain starts with the CREATE entry)."""
        name = record["name"]
        out = []
        for ident in sorted(record["pins"]):
            if ident in record.get("dropped", []):
                continue  # tombstoned: published as a drop, not a chain
            try:
                t = self.lake.table(ident, any_lineage=True)
            except Exception:
                continue
            if _table_branch(name) not in t.log.refs():
                continue
            _base, _head, chain = t.log.branch_info(_table_branch(name))
            if chain:
                out.append((ident, chain))
        return out

    @staticmethod
    def _net_effect(t, chain: list[int]) -> tuple[dict[str, FileInfo], set[str]]:
        """Fold a branch chain to its net file effect — files added
        then removed within the branch cancel (maintenance.merge_branch
        fold, maintenance.py:967)."""
        added: dict[str, FileInfo] = {}
        removed: set[str] = set()
        for v in chain:
            entry = t.log.read_entry(v)
            for p in entry.removed_files:
                if p in added:
                    added.pop(p)
                else:
                    removed.add(p)
            for fi in entry.added_files:
                added[fi.path] = fi
        return added, removed

    def _stage_merge_entry(
        self, t, name: str, txn_id: str, chain: list[int]
    ) -> LogEntry:
        added, removed = self._net_effect(t, chain)
        # a branch-CREATED table publishes its metadata with its data:
        # the merge entry carries the chain's create-entry schema and
        # properties, so the single marker flip makes the table exist
        # on main complete — schema_ddl_at/properties_at only consult
        # main-lineage entries
        publish_schema = None
        publish_props = None
        if t.log.latest_main_version() is None:
            for v in chain:
                e = t.log.read_entry(v)
                if e.properties is not None:
                    publish_props = dict(e.properties)
                if e.extra and e.extra.get("schema"):
                    publish_schema = e.extra["schema"]

        def make(version: int) -> LogEntry:
            live = t.log.state_at()
            gone = [p for p in removed if p not in live]
            if gone:
                raise CommitConflictError(
                    f"merge_catalog_branch {name!r} on {t.identifier}: "
                    f"{len(gone)} file(s) the branch removed are no longer "
                    f"live on main (e.g. {gone[0]!r}) — a concurrent main "
                    "commit replaced them; the whole catalog merge aborts"
                )
            clash = [p for p in added if p in live]
            if clash:
                raise CommitConflictError(
                    f"merge_catalog_branch {name!r} on {t.identifier}: "
                    f"{len(clash)} branch file(s) already live on main "
                    f"(e.g. {clash[0]!r}) — already merged?"
                )
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="merge",
                added_files=tuple(
                    _dc_replace(
                        fi,
                        seq=version,
                        name_epoch=fi.name_epoch
                        if fi.name_epoch is not None
                        else fi.seq,
                    )
                    for fi in added.values()
                ),
                removed_files=tuple(sorted(removed)),
                properties=publish_props,
                extra={
                    "txn": txn_id,
                    "merge_branch": _table_branch(name),
                    "catalog_ref": name,
                    "merged_commits": list(chain),
                    **({"schema": publish_schema} if publish_schema else {}),
                },
            )

        return t.log.append(make)

    def _revalidate(self, t, entry: LogEntry) -> None:
        """Marker-time re-check, same shape as Transaction._validate_table:
        a main writer may have raced between this table's staging and
        the marker create."""
        live = t.log.state_at()
        gone = [p for p in entry.removed_files if p not in live]
        if gone:
            raise CommitConflictError(
                f"merge_catalog_branch on {t.identifier}: file no longer "
                f"live at publish time (e.g. {gone[0]!r}); the whole "
                "catalog merge aborts"
            )
        clash = [fi.path for fi in entry.added_files if fi.path in live]
        if clash:
            raise CommitConflictError(
                f"merge_catalog_branch on {t.identifier}: staged file "
                f"already live at publish time (e.g. {clash[0]!r})"
            )

    def _txn_marker_path(self, txn_id: str) -> str:
        return os.path.join(self.lake.warehouse_dir, ".txns", f"{txn_id}.json")

    def _txn_status(self, txn_id: str) -> str:
        try:
            return json.loads(self.io.read_text(self._txn_marker_path(txn_id))).get(
                "status", "pending"
            )
        except (OSError, ValueError):
            return "pending"

    def _decide(self, txn_id: str, status: str, reanchor: dict) -> str:
        """Create the decision marker with O_EXCL; returns the decided
        status (ours or a racing winner's — with the merge lock held
        there is no racer, but the primitive stays CAS-shaped)."""
        self.io.makedirs(os.path.join(self.lake.warehouse_dir, ".txns"))
        payload = json.dumps(
            {
                "txn": txn_id,
                "status": status,
                "decided_at": time.time(),
                "kind": "catalog_merge",
                "reanchor": reanchor,
            }
        )
        if self.io.create_exclusive(self._txn_marker_path(txn_id), payload):
            self._clear_intent(txn_id)
            return status
        return self._txn_status(txn_id)

    def _clear_intent(self, txn_id: str) -> None:
        """Retire the `<id>.intent` sentinel log.append created with the
        first staged merge entry (see log.pending_txn_removed_claims) —
        best-effort; a leftover only costs one bounded scan."""
        try:
            self.io.remove(
                os.path.join(self.lake.warehouse_dir, ".txns", f"{txn_id}.intent")
            )
        except OSError:
            pass

    def _apply_reanchor(self, record: dict, reanchor: dict) -> dict:
        """Post-flip bookkeeping, idempotent: re-anchor each member's
        per-table branch at its merge version (dropping exactly the
        merged chain), advance the record pin, graduate branch-created
        tables to ordinary pins, and physically remove published DROPs.
        Safe to replay from the marker payload after a crash —
        reanchor_branch subtracts the merged set, pins only move
        forward, and the drop/rmtree is a no-op the second time."""
        name = record["name"]
        for ident, plan in sorted(reanchor.items()):
            if plan.get("drop"):
                # the merge PUBLISHED this branch drop: remove the table
                # from main. Between the marker flip and this point main
                # still listed it — the same bookkeeping-after-the-flip
                # stance as ref re-anchoring (module docstring).
                try:
                    # ref-validated at stage time (validate_drops checks
                    # other refs' pins); apply must complete for
                    # marker-committed convergence
                    self.lake.drop_table(ident, ignore_ref_pins=True)
                except Exception:
                    pass  # already gone (crash replay)
                record["pins"].pop(ident, None)
                if ident in record.get("dropped", []):
                    record["dropped"].remove(ident)
                continue
            try:
                t = self.lake.table(ident, any_lineage=True)
            except Exception:
                continue
            if _table_branch(name) in t.log.refs():
                t.log.reanchor_branch(
                    _table_branch(name), plan["to"], merged=set(plan["merged"])
                )
            record["pins"][ident] = max(record["pins"].get(ident, 0), plan["to"])
            record.get("created", {}).pop(ident, None)  # now a main table
        record["pending_merge"] = None
        self._write_record(record)
        return record

    def _recover(self, record: dict) -> dict:
        """Finish or void a crashed merge (caller holds the merge lock).

        - marker committed → the merge IS published; replay the
          bookkeeping from the marker's reanchor plan.
        - marker aborted → nothing published; clear the intent.
        - no marker → the crashed merge never reached its atomic
          point; decide its txn ABORTED now so the limbo staged
          entries are permanently dead, then clear the intent.
        """
        pending = record.get("pending_merge")
        if not pending:
            return record
        txn_id = pending["txn"]
        status = self._txn_status(txn_id)
        if status == "pending":
            status = self._decide(txn_id, "aborted", pending.get("reanchor", {}))
        if status == "committed":
            try:
                marker = json.loads(self.io.read_text(self._txn_marker_path(txn_id)))
                plan = marker.get("reanchor", {})
            except (OSError, ValueError):
                plan = pending.get("reanchor", {})
            return self._apply_reanchor(record, plan)
        record["pending_merge"] = None
        self._write_record(record)
        return record

    def merge(self, name: str) -> dict:
        """Atomically publish every member table's branch chain onto
        main — Nessie's `MERGE BRANCH etl INTO main`. All tables or
        none; see module docstring for the exact protocol."""

        def run():
            record = self._recover(self._read_record(name))
            self._require_branch(record, "merge")
            members = self._members_with_commits(record)
            drops = sorted(record.get("dropped", []))
            if not members and not drops:
                return {
                    "catalog_ref": name,
                    "status": "committed",
                    "merged_tables": 0,
                    "merged_commits": 0,
                    "dropped_tables": 0,
                    "tables": {},
                }
            txn_id = f"catmerge-{name}-{uuid.uuid4().hex[:12]}"
            # intent BEFORE staging: any later crash is recoverable
            record["pending_merge"] = {"txn": txn_id, "reanchor": {}}
            self._write_record(record)

            staged: dict[str, tuple[object, LogEntry, list[int]]] = {}
            reanchor: dict[str, dict] = {}

            def validate_drops():
                # a branch DROP publishes only if main did not move the
                # table since the fork: a post-fork main commit is
                # content the drop never saw — Nessie's delete-vs-put
                # content conflict
                for ident in drops:
                    try:
                        t = self.lake.table(ident, any_lineage=True)
                    except Exception:
                        continue  # already gone on main: drop is a no-op
                    head = t.log.latest_main_version()
                    pin = record["pins"].get(ident)
                    if head is not None and pin is not None and head > pin:
                        raise CommitConflictError(
                            f"merge_catalog_branch {name!r}: {ident} was "
                            f"dropped on the branch but main committed past "
                            f"the fork pin ({pin} -> {head}) — the whole "
                            "catalog merge aborts; rebase to re-decide"
                        )
                    holders = self.pinning_refs(ident, exclude=name)
                    if holders:
                        # publishing this drop would rmtree a table other
                        # refs/tags still pin — same protection as the
                        # direct drop_table guard. (A tag created between
                        # the marker flip and the physical drop can still
                        # lose — the documented bookkeeping-after-flip
                        # window, module docstring.)
                        raise CommitConflictError(
                            f"merge_catalog_branch {name!r}: {ident} is "
                            f"dropped on the branch but pinned by catalog "
                            f"ref(s) {holders} — drop or merge those refs "
                            "first; the whole catalog merge aborts"
                        )

            try:
                validate_drops()
                for ident, chain in members:
                    t = self.lake.table(ident, any_lineage=True)
                    entry = self._stage_merge_entry(t, name, txn_id, chain)
                    staged[ident] = (t, entry, chain)
                    reanchor[ident] = {"to": entry.version, "merged": list(chain)}
                for ident in drops:
                    reanchor[ident] = {"drop": True}
                # keep the intent's reanchor plan current so recovery
                # after a crash between marker and bookkeeping has the
                # plan even if the marker read fails
                record["pending_merge"] = {"txn": txn_id, "reanchor": reanchor}
                self._write_record(record)
                for ident in sorted(staged):
                    t, entry, _chain = staged[ident]
                    self._revalidate(t, entry)
                validate_drops()  # marker-time re-check, same as entries
            except CommitConflictError:
                self._decide(txn_id, "aborted", reanchor)
                record["pending_merge"] = None
                self._write_record(record)
                raise
            decided = self._decide(txn_id, "committed", reanchor)
            if decided != "committed":
                # a main writer whose commit overlapped a staged entry
                # aborted this txn through the marker (first committer
                # wins, table._check_pending_txn_claims) — the merge
                # lock serializes merges, not per-table writers
                record["pending_merge"] = None
                self._write_record(record)
                raise CommitConflictError(
                    f"merge_catalog_branch {name!r}: a concurrent main commit "
                    f"conflicted with a staged entry and aborted txn {txn_id} "
                    "at the marker — rebase and retry the merge"
                )
            self._apply_reanchor(record, reanchor)
            return {
                "catalog_ref": name,
                "status": "committed",
                "merged_tables": len(staged),
                "merged_commits": sum(len(c) for _, _, c in staged.values()),
                "dropped_tables": len(drops),
                "tables": {
                    ident: {
                        "new_snapshot_id": entry.snapshot_id,
                        "merged_commits": len(chain),
                    }
                    for ident, (_t, entry, chain) in sorted(staged.items())
                },
            }

        return self._with_merge_lock(name, run)
