"""Managed multi-version table: reads, snapshot-committing writes,
time travel, and the `snapshots`/`files` metadata views.

Re-expresses, Spark-first, what the reference gets from Iceberg:

- snapshot-per-INSERT commits (/root/reference/SPARK_ICEBERG_GUIDE.md:122)
- metadata tables `<t>.snapshots` (`snapshot_id, committed_at,
  operation` — :132-134) and `<t>.files` (`file_path,
  file_size_in_bytes, content` — :175-185)
- `write.target-file-size-bytes` and `write.distribution-mode`
  TBLPROPERTIES honored by the writer (:108-109, :324-328)
- time-travel reads (`VERSION AS OF` analog; rollback at :304-316)

Scale notes: the data path is pure Spark — writers are distributed
parquet jobs sized by `write.target-file-size-bytes`, readers are
`spark.read.parquet(<live files>)` so Catalyst keeps predicate
pushdown / column pruning / row-group skipping. Only the commit
metadata (KBs of JSON) is handled on the driver, the same division of
labor as Iceberg's driver-side commit. All file listing/size/delete
goes through the injected `FileIO` (see fs.py) — `LocalFileIO` by
default, `HadoopFileIO` for hdfs://`/`s3a://`/`file:` URIs via the
JVM Hadoop FileSystem API, exercised in tests/test_fileio.py.
"""

from __future__ import annotations

import bisect as _bisect
import datetime as _dt
import math
import os
import re
import time
import uuid
from dataclasses import replace as _dc_replace
from functools import reduce as _reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fastwrite
from . import partition as _part
from . import pruning
from .fs import FileIO, LocalFileIO
from .log import CommitConflictError, FileInfo, LogEntry, TransactionLog
from .partition import PROP_PARTITION_SPEC, PROP_PARTITION_SPEC_HISTORY
from ..localrows import _MAX_ROWS as _LOCAL_VALUES_MAX
from ..localrows import carried_rows, local_df

# DDL-string -> parsed type (as its JSON text). `_parse_datatype_string`
# is a py4j round-trip into the JVM parser; lifecycle entries resolve
# the SAME table DDL dozens of times per run (profiled: 249 parses /
# ~0.34 s of py4j wait in one lakehouse_catalog_branch pass). The parse
# is a pure function of the DDL text, so a process-wide memo is safe
# across sessions. Every caller gets its own DataType rebuilt from
# the memo (~0.1 ms), so a caller that mutates its schema cannot change
# what the next caller sees. Bounded so a pathological many-schema
# workload cannot grow it without limit.
_DDL_PARSE_CACHE: dict[str, str] = {}
_DDL_PARSE_CACHE_MAX = 512


def _parse_ddl_cached(ddl: str) -> T.DataType:
    js = _DDL_PARSE_CACHE.get(ddl)
    if js is None:
        js = T._parse_datatype_string(ddl).json()
        if len(_DDL_PARSE_CACHE) >= _DDL_PARSE_CACHE_MAX:
            _DDL_PARSE_CACHE.pop(next(iter(_DDL_PARSE_CACHE)))
        _DDL_PARSE_CACHE[ddl] = js
    return T._parse_datatype_json_string(js)

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024  # Iceberg default; guide :234


class _ExactCount:
    """Metadata-exact row count of a clean (no live deletes) snapshot
    read, attached to the DataFrame as `_lh_exact_count` — the
    manifest-count answer Iceberg gives COUNT(*). `paths` is the
    file set the count rests on; consumers that defer (the lifecycle
    ledger) must existence-check them so a concurrently expired
    snapshot fails loudly instead of returning a stale number."""

    __slots__ = ("rows", "paths")

    def __init__(self, rows: int, paths: tuple):
        self.rows = rows
        self.paths = paths

PROP_TARGET_FILE_SIZE = "write.target-file-size-bytes"
PROP_DISTRIBUTION_MODE = "write.distribution-mode"  # none | hash | range
PROP_HASH_COLUMNS = "write.hash-columns"  # comma list for hash mode
PROP_GC_ENABLED = "gc.enabled"  # guide :218-224
# Iceberg's write.delete.mode TBLPROPERTY: the reference declares
# format-version 2 (guide :107) whose row-level deletes can either
# rewrite data files eagerly (copy-on-write) or write content=1
# position-delete files that readers merge (merge-on-read, guide
# :336-340 content classes)
PROP_DELETE_MODE = "write.delete.mode"  # copy-on-write | merge-on-read
# Iceberg's table sort order (ALTER TABLE ... WRITE ORDERED BY):
# writers sort rows within each output file so parquet footer min/max
# are tight and stats-based scan planning prunes hard from day one —
# without waiting for a sort-strategy compaction pass
PROP_SORT_ORDER = "write.sort-order"  # "col [desc][, col ...]"
PROP_UPDATE_MODE = "write.update.mode"  # copy-on-write | merge-on-read
PROP_MERGE_MODE = "write.merge.mode"  # copy-on-write | merge-on-read

# Iceberg's position-delete file schema (spec: file_path + pos,
# ordered by file_path then pos so footer min/max bound the referenced
# data-file range and scan planning can scope delete application)
POS_DELETE_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)

SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("added_files", T.IntegerType(), False),
        T.StructField("removed_files", T.IntegerType(), False),
        T.StructField("total_files", T.IntegerType(), False),
        T.StructField("total_records", T.LongType(), False),
    ]
)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("content", T.IntegerType(), False),
        T.StructField("file_path", T.StringType(), False),
        T.StructField("file_size_in_bytes", T.LongType(), False),
        T.StructField("record_count", T.LongType(), False),
        # Iceberg files-table readable_metrics analog: per-column
        # [min, max, null_count] rendered as strings for display
        T.StructField(
            "column_stats",
            T.MapType(T.StringType(), T.ArrayType(T.StringType(), True)),
            True,
        ),
        # the manifest partition tuple (null for unpartitioned/adopted)
        T.StructField(
            "partition", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)

REFS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
    ]
)

HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("made_current_at", T.TimestampType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("is_current_ancestor", T.BooleanType(), False),
    ]
)

ENTRIES_SCHEMA = T.StructType(
    [
        T.StructField("status", T.IntegerType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("sequence_number", T.LongType(), True),
        T.StructField("content", T.IntegerType(), True),
        T.StructField("file_path", T.StringType(), False),
        T.StructField("file_size_in_bytes", T.LongType(), True),
        T.StructField("record_count", T.LongType(), True),
    ]
)

PARTITIONS_SCHEMA = T.StructType(
    [
        T.StructField(
            "partition", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("file_count", T.LongType(), False),
        T.StructField("record_count", T.LongType(), False),
        T.StructField("total_size_in_bytes", T.LongType(), False),
    ]
)


class LakehouseTable:
    def __init__(
        self,
        spark: SparkSession,
        identifier: str,
        table_dir: str,
        io: FileIO | None = None,
    ):
        self.spark = spark
        self.identifier = identifier
        self.table_dir = table_dir
        self.io = io or LocalFileIO()
        self.data_dir = os.path.join(table_dir, "data")
        self.log = TransactionLog(os.path.join(table_dir, "metadata"), io=self.io)

    # ---- properties --------------------------------------------------

    def properties(self) -> dict[str, str]:
        return self.log.properties_at()

    def partition_spec(self) -> list[_part.Transform] | None:
        """The table's CURRENT partition transforms (the `partition.
        spec` property; writes lay out under this spec), or None when
        unpartitioned."""
        raw = self.log.properties_at().get(PROP_PARTITION_SPEC)
        return _part.parse_spec(raw) if raw else None

    def partition_spec_union(self) -> list[_part.Transform] | None:
        """Current PLUS historical transforms (spec evolution leaves
        old-spec files in place; `partition.spec.history` records every
        spec that ever governed a write). This is the PRUNING spec: a
        transform prunes only files that recorded its pname, and pnames
        encode bucket/truncate parameters, so evaluating the union over
        mixed-spec files is exact — Iceberg's per-file spec-id
        evaluation, keyed by column name instead."""
        props = self.log.properties_at()
        specs = [props.get(PROP_PARTITION_SPEC, "")] + [
            s for s in props.get(PROP_PARTITION_SPEC_HISTORY, "").split(";") if s
        ]
        seen: dict[str, _part.Transform] = {}
        for raw in specs:
            if not raw:
                continue
            for tr in _part.parse_spec(raw):
                seen.setdefault(tr.pname, tr)
        return list(seen.values()) or None

    def set_properties(self, updates: dict[str, str]) -> LogEntry:
        """ALTER TABLE ... SET TBLPROPERTIES (guide :220-224, :324-328).

        Changing `partition.spec` here IS spec evolution: the outgoing
        spec is appended to `partition.spec.history` so pruning keeps
        understanding files written under it (see
        partition_spec_union); the new spec governs writes from the
        next commit on. Existing files are never rewritten —
        Iceberg's metadata-only spec evolution."""
        updates = {k: str(v) for k, v in updates.items()}

        def make(version: int) -> LogEntry:
            props = self.log.properties_at()
            if PROP_PARTITION_SPEC in updates:
                new = updates[PROP_PARTITION_SPEC]
                if new:
                    spec = _part.parse_spec(new)
                    schema = self.schema()
                    if schema is not None:
                        fields = {
                            f.name: f.dataType.simpleString() for f in schema.fields
                        }
                        errors = _part.validate_spec_against_schema(spec, fields)
                        if errors:
                            raise ValueError("; ".join(errors))
                old = props.get(PROP_PARTITION_SPEC, "")
                if old and old != new:
                    hist = [
                        s
                        for s in props.get(PROP_PARTITION_SPEC_HISTORY, "").split(";")
                        if s
                    ]
                    if old not in hist:
                        hist.append(old)
                    props[PROP_PARTITION_SPEC_HISTORY] = ";".join(hist)
            props.update(updates)
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="set_properties",
                properties=props,
            )

        return self.log.append(make)

    # ---- partition spec evolution (Iceberg ADD/DROP PARTITION FIELD) --

    def add_partition_field(self, transform: str) -> LogEntry:
        """ALTER TABLE ... ADD PARTITION FIELD <transform> (Iceberg
        spec evolution): metadata-only — no file moves; new writes pick
        up the widened spec, old files prune under the spec that wrote
        them."""
        new = _part.parse_spec(transform)
        cur = self.partition_spec() or []
        if any(t.pname in {c.pname for c in cur} for t in new):
            raise ValueError(f"partition field already in spec: {transform!r}")
        merged = ", ".join(
            [p for p in [self.log.properties_at().get(PROP_PARTITION_SPEC, "")] if p]
            + [transform]
        )
        return self.set_properties({PROP_PARTITION_SPEC: merged})

    def drop_partition_field(self, transform: str) -> LogEntry:
        """ALTER TABLE ... DROP PARTITION FIELD <transform>: the
        transform leaves the write spec; files it laid out remain and
        keep pruning through the spec history."""
        victim = _part.parse_spec(transform)[0]
        cur = self.partition_spec() or []
        kept = [t for t in cur if t.pname != victim.pname]
        if len(kept) == len(cur):
            raise ValueError(f"partition field not in spec: {transform!r}")
        spec_str = ", ".join(_part.render_transform(t) for t in kept)
        return self.set_properties({PROP_PARTITION_SPEC: spec_str})

    # ---- reads -------------------------------------------------------

    def _strip_unreliable_stats(
        self, data_state: dict[str, FileInfo], version: int | None
    ) -> dict[str, FileInfo]:
        """Drop footer stats from files whose column identities shifted
        after they were written: pre-rename files key stats by PHYSICAL
        names (a retired name could alias a different column's range),
        and files predating a drop of a since-RE-ADDED column carry the
        dead lineage's ranges for it. Either would mis-prune; those
        files scan unpruned (safe direction) until compaction migrates
        them. No rename/re-add history => no-op."""
        renames = self.log.renames_upto(version)
        names = {f.name for f in (self.schema(version) or self._schema()).fields}
        readds = [d for d in self.log.drops_upto(version) if d["name"] in names]
        if not renames and not readds:
            return data_state
        cutoffs = [r["version"] for r in renames] + [d["version"] for d in readds]
        return {
            p: (
                _dc_replace(fi, stats=None)
                if any(c > self._name_epoch_of(fi) for c in cutoffs)
                else fi
            )
            for p, fi in data_state.items()
        }

    def read(
        self,
        version: int | None = None,
        as_of: float | None = None,
        filters: list[tuple] | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Current-snapshot scan, or time travel by snapshot id
        (`VERSION AS OF`) or timestamp (`TIMESTAMP AS OF`). Projects
        through the schema recorded AS OF that version, so time travel
        sees the table as it was — including pre-evolution columns.

        `filters` — conjunctive `(column, op, value)` triples (see
        `pruning.SUPPORTED_OPS`) — engage metadata-level scan planning:
        files whose logged min/max ranges cannot satisfy the predicate
        are dropped BEFORE the DataFrame is built (Iceberg manifest
        pruning), and the exact predicate is re-applied to the scan so
        results never depend on stats quality. On a table clustered by
        `rewrite_data_files(strategy='sort')` a selective read touches
        only the files whose key range overlaps the filter.

        `ref` — read at a named branch/tag pointer (`VERSION AS OF
        'ref'`; the Nessie `ref=` analog, see create_branch). A branch
        that carries its own commits (append(..., ref=...)) reads the
        BRANCH state: main-as-of-fork-base plus the branch chain —
        invisible on main until merge_branch."""
        branch_state: dict[str, FileInfo] | None = None
        if ref is not None:
            if version is not None or as_of is not None:
                raise ValueError("pass only one of ref / version / as_of")
            r = self.log.refs().get(ref)
            if r is None:
                raise ValueError(f"ref {ref!r} does not exist")
            version = r["snapshot_id"]
            if r["kind"] == "branch":
                _base, _head, chain = self.log.branch_info(ref)
                if chain:
                    # the head is a branch commit — outside every main
                    # fold, so state_at(version) would silently read
                    # main instead; assemble the branch lineage state
                    branch_state = self.log.state_at_branch(ref)
        if as_of is not None:
            eligible = [
                e.version
                for e in self.log.entries()
                # timestamp travel resolves on the MAIN lineage only:
                # stage snapshots await publish, branch commits await
                # merge, uncommitted transaction entries await their
                # marker — none may leak into an as-of read
                if e.committed_at <= as_of and self.log.in_main_lineage(e)
            ]
            if not eligible:
                raise ValueError(f"no snapshot at or before {as_of}")
            version = max(eligible)
        elif version is not None and version not in self.log.versions():
            raise ValueError(f"snapshot {version} does not exist (expired?)")
        state = branch_state if branch_state is not None else self.log.state_at(version)
        if branch_state is None and version is not None:
            entry = self.log.read_entry(version)
            if entry.extra and entry.extra.get("branch"):
                # a by-version fold would silently skip this entry and
                # show main — misleading; branch lineage reads resolve
                # through the ref (base + explicit chain)
                raise ValueError(
                    f"snapshot {version} is a branch commit on "
                    f"{entry.extra['branch']!r} — read the branch with "
                    f"read(ref={entry.extra['branch']!r})"
                )
            tx = (entry.extra or {}).get("txn")
            if tx is not None and self.log.txn_status(tx) != "committed":
                # a by-version fold would skip the entry and silently
                # show main-without-it; in-flight txn data has no
                # committed identity to read yet
                raise ValueError(
                    f"snapshot {version} belongs to {self.log.txn_status(tx)} "
                    f"transaction {tx!r} — commit the transaction first"
                )
            if entry.operation == "stage":
                # the AUDIT read of write-audit-publish: addressing a
                # stage snapshot by version shows main-as-of-then PLUS
                # the staged files (Iceberg's WAP snapshot reads the
                # same way) — this is how staged data is validated
                # before publish_changes. Staged files read with a
                # future sequence number: publish re-stamps them past
                # every existing commit, so an equality delete committed
                # after staging will NOT apply post-publish — the audit
                # must show exactly what publishing will produce.
                state = {
                    **state,
                    **{
                        fi.path: _dc_replace(
                            fi,
                            seq=1 << 62,
                            name_epoch=fi.name_epoch
                            if fi.name_epoch is not None
                            else fi.seq,
                        )
                        for fi in entry.added_files
                    },
                }
        data_state, pos_files, eq_files = self._split_state(state)
        if filters:
            # prune DATA files only: delete files carry stats for their
            # own columns (file_path/pos or the equality columns), and a
            # user predicate must never drop a delete file — skipping
            # one would resurrect its deleted rows. Partition pruning
            # runs first (cheapest: one dict lookup per file), stats
            # min/max second; both advisory-only. The UNION spec covers
            # files written under evolved-away specs too.
            data_state = self._strip_unreliable_stats(data_state, version)
            spec = self.partition_spec_union()
            if spec:
                pruning.validate_filters(filters)
                data_state, _ = _part.prune_state(data_state, filters, spec)
            data_state, _ = pruning.prune_files(data_state, filters)
        df = self._assemble_read(data_state, pos_files, eq_files, version=version)
        if filters:
            df = df.filter(pruning.residual_expr(filters))
        return df

    # ---- merge-on-read assembly --------------------------------------

    @staticmethod
    def _split_state(
        state: dict[str, FileInfo]
    ) -> tuple[dict[str, FileInfo], list[FileInfo], list[FileInfo]]:
        """Partition a snapshot's live files by Iceberg content class:
        (data files, position-delete files, equality-delete files)."""
        data = {p: fi for p, fi in state.items() if fi.content == 0}
        pos = [fi for fi in state.values() if fi.content == 1]
        eq = [fi for fi in state.values() if fi.content == 2]
        return data, pos, eq

    @staticmethod
    def _rel_path_expr(col: F.Column) -> F.Column:
        """Table-relative path (`data/v<commit>/[...partition dirs...]/
        <file>.parquet`) from the scheme-qualified absolute path
        `_metadata.file_path` yields. Commit dirs are always `v` + 12
        hex (see `_write_files`), so anchoring on that is robust across
        file:/hdfs:/s3a: qualification AND nested hive partition dirs —
        the same reason the orphan sweep uses io.relpath (fs.py)."""
        return F.regexp_extract(col, r"(data/v[0-9a-f]{12}/.+)$", 1)

    @staticmethod
    def _seq_of(fi: FileInfo) -> int:
        # pre-sequence-tracking files are the oldest thing in the log
        return fi.seq if fi.seq is not None else -1

    @staticmethod
    def _name_epoch_of(fi: FileInfo) -> int:
        """The log position whose schema this file was physically
        written under — the key for rename/drop name mapping. Falls
        back to seq for pre-tracking files."""
        if fi.name_epoch is not None:
            return fi.name_epoch
        return fi.seq if fi.seq is not None else -1

    def _pos_delete_may_reference(self, fi: FileInfo, rel_path: str) -> bool:
        """Can position-delete file `fi` reference data file `rel_path`?
        Decided from the delete file's logged file_path min/max (the
        file is written sorted by file_path, so the bounds are tight).
        Missing stats degrade to True — same one-sided safety rule as
        scan pruning."""
        s = (fi.stats or {}).get("file_path")
        if not s or s[0] is None or s[1] is None:
            return True
        return s[0] <= rel_path <= s[1]

    def _eq_delete_may_apply(self, data_fi: FileInfo, eq_fi: FileInfo) -> bool:
        """Can equality-delete file `eq_fi` delete rows of `data_fi`?
        Sequence rule first (a delete applies only to files that predate
        it — Iceberg's sequence-number rule, so rows appended AFTER the
        delete are never touched), then per-column range overlap: if any
        equality column's [min,max] ranges are provably disjoint, no row
        can match. Missing stats degrade to 'may apply'."""
        if self._seq_of(data_fi) >= self._seq_of(eq_fi):
            return False
        for c in eq_fi.eq_cols or []:
            ds = (data_fi.stats or {}).get(c)
            es = (eq_fi.stats or {}).get(c)
            if not ds or not es:
                continue
            d_lo, d_hi, d_nulls = ds[0], ds[1], int(ds[2] or 0)
            e_lo, e_hi, e_nulls = es[0], es[1], int(es[2] or 0)
            if d_nulls > 0 and e_nulls > 0:
                continue  # null matches null (null-safe equality)
            if d_lo is None or e_lo is None:
                # one side entirely null, other has no nulls -> disjoint
                if (d_lo is None and e_nulls == 0) or (e_lo is None and d_nulls == 0):
                    return False
                continue
            try:
                if d_hi < e_lo or e_hi < d_lo:
                    # value ranges disjoint; rows could still match on
                    # nulls only if both sides have nulls (handled above)
                    return False
            except TypeError:
                continue  # cross-type stats: cannot prove, must apply
        return True

    def _assemble_read(
        self,
        data_state: dict[str, FileInfo],
        pos_files: list[FileInfo],
        eq_files: list[FileInfo],
        version: int | None = None,
        tagged: bool = False,
    ) -> DataFrame:
        """Build the logical scan for a snapshot: data files, minus the
        rows its live delete files (content=1/2) mark deleted — the
        read-side merge of Iceberg v2's merge-on-read (guide :336-340).

        Scale shape: delete application is scoped at METADATA level
        first — a data file joins against deletes only if some delete
        file could actually reference it (position deletes: file_path
        bounds contain it; equality deletes: sequence + column-range
        overlap). Clean files take the plain parquet scan path with
        zero join, so a table with deletes touching 0.1% of files pays
        the anti-join on 0.1% of the data. The anti-joins themselves
        are equi-key hash joins (file_path+pos, or the equality
        columns) that AQE broadcasts when the delete set is small —
        the common case, since compaction folds deletes back in.

        `tagged=True` additionally exposes `__file` (table-relative
        path) and `__pos` (row ordinal in its file) — the handles the
        row-level operators (DELETE/UPDATE/MERGE planning, position-
        delete writing) need.
        """
        schema = self.schema(version) or self._schema()
        cols = [f.name for f in schema.fields]
        if not data_state:
            df = local_df(self.spark, [], schema)
            if tagged:
                df = df.withColumn("__file", F.lit(None).cast("string")).withColumn(
                    "__pos", F.lit(None).cast("long")
                )
            else:
                df._lh_exact_count = _ExactCount(0, ())
            return df

        # metadata-level scoping: which data files need delete merging?
        # Interval bisection, NOT the naive any()-loop: pos-delete files
        # are file_path-sorted so their footer [min, max] bounds form
        # intervals over the sorted data paths — O((F + D) log F)
        # instead of O(F x D) Python pairs, which at 100k data files x
        # 1k tombstone files is the difference between metadata planning
        # and a 100M-iteration driver stall.
        dirty: set[str] = set()
        live_pos: list[FileInfo] = []
        sorted_paths = sorted(data_state)
        for fi in pos_files:
            s = (fi.stats or {}).get("file_path")
            if not s or s[0] is None or s[1] is None:
                # no bounds: conservatively applies to every file
                live_pos.append(fi)
                dirty.update(sorted_paths)
                continue
            lo = _bisect.bisect_left(sorted_paths, s[0])
            hi = _bisect.bisect_right(sorted_paths, s[1])
            if lo < hi:
                live_pos.append(fi)
                dirty.update(sorted_paths[lo:hi])
        eq_by_data: dict[str, list[FileInfo]] = {}
        for p, fi in data_state.items():
            applicable = [efi for efi in eq_files if self._eq_delete_may_apply(fi, efi)]
            if applicable:
                eq_by_data[p] = applicable
                dirty.add(p)
        clean = sorted(p for p in data_state if p not in dirty)

        def abs_paths(rels) -> list[str]:
            return [os.path.join(self.table_dir, p) for p in rels]

        # (abs path -> name epoch) so the rename-aware read resolves
        # each file's physical column names through its WRITING commit
        # (not seq, which re-stamps on merge/publish replays)
        seqs = {
            os.path.join(self.table_dir, p): self._name_epoch_of(fi)
            for p, fi in data_state.items()
        }

        out_cols = cols + (["__file", "__pos"] if tagged else [])
        parts: list[DataFrame] = []
        if clean:
            cdf = self._read_paths(
                abs_paths(clean), version=version, seqs=seqs, tagged=tagged
            )
            parts.append(cdf.select(*out_cols))
        if dirty:
            ddf = self._read_paths(
                abs_paths(sorted(dirty)), version=version, seqs=seqs, tagged=True
            )
            if live_pos:
                dels = self.spark.read.schema(POS_DELETE_SCHEMA).parquet(
                    *abs_paths(fi.path for fi in live_pos)
                )
                ddf = ddf.join(
                    dels,
                    (ddf["__file"] == dels["file_path"]) & (ddf["__pos"] == dels["pos"]),
                    "left_anti",
                )
            if eq_by_data:
                ddf = self._apply_eq_deletes(ddf, data_state, eq_by_data, schema)
            parts.append(ddf.select(*out_cols))
        out = _reduce(DataFrame.unionByName, parts)
        if (
            not tagged
            and not dirty
            and "://" not in self.table_dir
            and type(self.io) is LocalFileIO
        ):
            # exact-count tag (r16): a clean snapshot read's row count
            # is the sum of its files' footer-recorded counts — the
            # quantity Iceberg answers COUNT(*) from manifests with.
            # _CountLedger's verification counts consume this instead
            # of running a union-of-aggregates job (the file list rides
            # along so a concurrently expired snapshot still fails
            # LOUDLY at resolve, never a silently wrong count).
            out._lh_exact_count = _ExactCount(
                sum(fi.row_count for fi in data_state.values()),
                tuple(abs_paths(sorted(data_state))),
            )
        return out

    def _apply_eq_deletes(
        self,
        ddf: DataFrame,
        data_state: dict[str, FileInfo],
        eq_by_data: dict[str, list[FileInfo]],
        schema: T.StructType,
    ) -> DataFrame:
        """Anti-join `ddf` (tagged data rows) against the applicable
        equality-delete files. A row is deleted when some delete row
        committed AFTER the row's data file (delete seq > file seq)
        matches it null-safely on every equality column — Iceberg's
        equality-delete semantics. Delete files grouped by their column
        set; each group is one hash anti-join with the seq comparison
        as a residual join predicate. The (file -> seq) side is
        metadata-sized and broadcast. `schema` is the AS-OF-version
        table schema the caller is reading through — latest-schema
        types could mis-project delete files on a time-travel read
        across a type promotion."""
        types = {f.name: f.dataType for f in schema.fields}
        seq_rows = [(p, self._seq_of(fi)) for p, fi in data_state.items()]
        seq_df = local_df(self.spark, seq_rows, "__file string, __fseq long")
        ddf = ddf.join(F.broadcast(seq_df), "__file", "left")
        groups: dict[tuple[str, ...], dict[str, FileInfo]] = {}
        for efis in eq_by_data.values():
            for efi in efis:
                groups.setdefault(tuple(efi.eq_cols or ()), {})[efi.path] = efi
        for eq_cols, by_path in groups.items():
            sub_schema = T.StructType(
                [T.StructField(c, types[c], True) for c in eq_cols]
            )
            # ONE multi-path scan per column-set group, not a union tree
            # of per-file reads: a CDC writer (Flink-style) lands one
            # equality-delete file per checkpoint, so thousands of live
            # delete files are normal — per-file seq attaches via a
            # broadcast (path -> seq) join on _metadata.file_path
            seq_map = local_df(self.spark, 
                [(p, self._seq_of(efi)) for p, efi in by_path.items()],
                "__dpath string, __dseq long",
            )
            eq_df = (
                self.spark.read.schema(sub_schema)
                .parquet(*[os.path.join(self.table_dir, p) for p in by_path])
                .withColumn("__dpath", self._rel_path_expr(F.col("_metadata.file_path")))
                .join(F.broadcast(seq_map), "__dpath")
            )
            renamed = eq_df.select(
                *[F.col(c).alias(f"__eq_{c}") for c in eq_cols], "__dseq"
            )
            cond = _reduce(
                lambda a, b: a & b,
                [ddf[c].eqNullSafe(renamed[f"__eq_{c}"]) for c in eq_cols],
            ) & (renamed["__dseq"] > ddf["__fseq"])
            ddf = ddf.join(renamed, cond, "left_anti")
        return ddf.drop("__fseq")

    def _tagged_read(
        self, version: int | None = None, ref: str | None = None
    ) -> DataFrame:
        """Current (or time-travel, or branch) table rows with
        `__file`/`__pos` columns — deletes applied. The planning read
        for every row-level operation: `__file` is captured from
        `_metadata` at the scan, so it stays correct through the joins
        the operators add on top (input_file_name() would not — it is
        per-source and undefined after a join)."""
        state = (
            self.log.state_at_branch(ref)
            if ref is not None
            else self.log.state_at(version)
        )
        data_state, pos_files, eq_files = self._split_state(state)
        return self._assemble_read(
            data_state, pos_files, eq_files, version=version, tagged=True
        )

    def _read_rel(
        self, rel_paths: list[str], tagged: bool = False, ref: str | None = None
    ) -> DataFrame:
        """Scan a specific subset of live DATA files with all live
        deletes applied — what copy-on-write rewrites and compaction
        read (reading raw files would resurrect merge-on-read-deleted
        rows into the rewritten output). `ref` scopes the live state to
        a branch lineage."""
        state = (
            self.log.state_at_branch(ref) if ref is not None else self.log.state_at()
        )
        data_state, pos_files, eq_files = self._split_state(state)
        subset = {p: data_state[p] for p in rel_paths if p in data_state}
        return self._assemble_read(subset, pos_files, eq_files, tagged=tagged)

    def scan_plan(self, filters: list[tuple], version: int | None = None) -> dict:
        """Planning-only view of what `read(filters=...)` will touch:
        {files_total, files_scanned, files_pruned, rows_total,
        rows_scanned_max}. Metadata-only — no Spark job — so tests and
        operators can assert pruning without tracing the scan.
        Counts cover DATA files; delete files are never pruned."""
        data_state, _pos, _eq = self._split_state(self.log.state_at(version))
        # mirror read(): the plan view reports what the scan will touch
        data_state = self._strip_unreliable_stats(data_state, version)
        spec = self.partition_spec_union()
        part_pruned = 0
        kept = data_state
        if spec:
            pruning.validate_filters(filters)
            kept, part_pruned = _part.prune_state(kept, filters, spec)
        kept, stats_pruned = pruning.prune_files(kept, filters)
        return {
            "files_total": len(data_state),
            "files_scanned": len(kept),
            "files_pruned": part_pruned + stats_pruned,
            "files_pruned_by_partition": part_pruned,
            "rows_total": sum(fi.row_count for fi in data_state.values()),
            "rows_scanned_max": sum(fi.row_count for fi in kept.values()),
        }

    def _tag_cols(self, df: DataFrame) -> DataFrame:
        """Append `__file` (table-relative path) / `__pos` (row ordinal)
        from the scan's `_metadata` — must run while the frame is still
        a direct file scan (or a projection of one): metadata columns
        do not survive a union."""
        return df.select(
            "*",
            self._rel_path_expr(F.col("_metadata.file_path")).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    def _read_paths(
        self,
        paths: list[str],
        version: int | None = None,
        seqs: dict[str, int | None] | None = None,
        tagged: bool = False,
    ) -> DataFrame:
        """Scan data files through the log-recorded schema (Iceberg
        keeps schema in table metadata the same way): files written
        before an added column project it as null; no footer-merge pass
        needed. Falls back to parquet self-description for tables that
        never recorded a schema.

        Rename-aware (Iceberg's name-mapping analog): a file written
        before RENAME COLUMN carries the OLD physical name, and a
        name-based schema read would silently null the column. Files
        group by rename epoch (which renames postdate their data
        sequence number, from `seqs`: abs path -> seq); each group
        reads under its physical names and aliases to the current
        schema, then the groups union. Epoch count = rename commits +
        1 — compaction rewrites files under current names, so epochs
        wash out over time. `tagged` appends `__file`/`__pos` per group
        BEFORE the union (metadata columns don't survive unions)."""
        st = self.schema(version)
        renames = self.log.renames_upto(version) if st is not None else []
        drops = self.log.drops_upto(version) if st is not None else []
        field_names = {f.name for f in st.fields} if st is not None else set()
        # a drop matters only when its name can alias a live field's
        # physical bytes: with no renames, physical == field names
        drops_matter = bool(renames) or any(d["name"] in field_names for d in drops)
        if not renames and not drops_matter:
            reader = self.spark.read
            if st is not None:
                reader = reader.schema(st)
            df = reader.parquet(*paths)
            return self._tag_cols(df) if tagged else df

        def physical_map(applicable) -> dict[str, str]:
            phys = {}
            for f in st.fields:
                name = f.name
                # walk newest -> oldest: current name back to physical
                for frm, to in reversed(applicable):
                    if name == to:
                        name = frm
                phys[f.name] = name
            return phys

        groups: dict[tuple, list[str]] = {}
        for p in paths:
            s = (seqs or {}).get(p)
            s = -1 if s is None else s
            applicable = tuple(
                (r["from"], r["to"]) for r in renames if r["version"] > s
            )
            phys = physical_map(applicable)
            # a field whose PHYSICAL name was dropped after this file
            # was written resolves to a DEAD lineage's bytes — the
            # re-added column reads as null there, exactly as Iceberg's
            # field IDs would (rename into a dropped name is rejected,
            # so phys-name equality is the whole rule)
            nulled = tuple(
                sorted(
                    f.name
                    for f in st.fields
                    if any(
                        d["version"] > s and d["name"] == phys[f.name]
                        for d in drops
                    )
                )
            )
            groups.setdefault((applicable, nulled), []).append(p)
        parts: list[DataFrame] = []
        for (applicable, nulled), group in sorted(groups.items()):
            phys = physical_map(applicable)
            live = [f for f in st.fields if f.name not in nulled]
            read_schema = T.StructType(
                [T.StructField(phys[f.name], f.dataType, True) for f in live]
            )
            df = self.spark.read.schema(read_schema).parquet(*group)
            df = df.select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    if f.name in nulled
                    else F.col(phys[f.name]).alias(f.name)
                    for f in st.fields
                ]
            )
            parts.append(self._tag_cols(df) if tagged else df)
        return _reduce(DataFrame.unionByName, parts)

    def add_column(self, name: str, data_type: str) -> LogEntry:
        """ALTER TABLE ... ADD COLUMN analog: records the widened schema
        as a metadata-only commit (no data files touched); existing rows
        read the new column as null immediately."""
        current = self.schema() or self._schema()
        if any(f.name == name for f in current.fields):
            raise ValueError(f"column {name} already exists")
        if name in self._retired_names():
            raise ValueError(
                f"column name {name} was retired by an earlier rename; old "
                "files still carry it physically and would leak their stale "
                "bytes into the new column — pick a different name"
            )
        evolved = T.StructType(
            list(current.fields)
            + [T.StructField(name, T._parse_datatype_string(data_type), True)]
        )

        def make(version: int) -> LogEntry:
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="add_column",
                properties=self.log.properties_at() or None,
                extra={"schema": evolved.simpleString()},
            )

        return self.log.append(make)

    def _retired_names(self) -> set[str]:
        """Physical column names retired by RENAME COLUMN history.
        Neither add_column nor a rename target may reuse one: an old
        file still carries the retired PHYSICAL name, and a new
        same-named logical column would resolve to those stale bytes
        instead of null (Iceberg avoids this with field IDs; a
        name-mapping layer must refuse the ambiguity instead)."""
        return {r["from"] for r in self.log.renames_upto()}

    def rename_column(self, old: str, new: str) -> LogEntry:
        """ALTER TABLE ... RENAME COLUMN — metadata-only, via a name
        mapping (Iceberg's `schema.name-mapping.default` analog): the
        commit records {from, to} plus the renamed schema; files keep
        their bytes and their old physical column name, and the read
        path resolves each file's physical names through its rename
        epoch (see `_read_paths`). Time travel before the rename shows
        the old name; compaction rewrites files under current names so
        the mapping washes out of the hot path over time.

        Guards mirror drop_column (partition-spec source, write
        sort-order, live equality-delete keys all reject) plus the
        name-mapping ambiguity rule: the target may not be a live
        column OR a retired physical name. Stats-based file pruning on
        pre-rename files is disabled for safety (their footer stats are
        keyed by physical names — see read()); pruning recovers as
        compaction migrates files."""
        current = self.schema() or self._schema()
        if not any(f.name == old for f in current.fields):
            raise ValueError(f"column {old} does not exist")
        if any(f.name == new for f in current.fields):
            raise ValueError(f"column {new} already exists")
        if new in self._retired_names():
            raise ValueError(
                f"column name {new} was retired by an earlier rename; old "
                "files still carry it physically — pick a different name "
                "(or compact all pre-rename files first)"
            )
        if any(d["name"] == new for d in self.log.drops_upto()):
            raise ValueError(
                f"column name {new} was previously dropped; old files still "
                "carry its dead lineage physically and the rename would "
                "alias it — pick a different name (or compact first)"
            )
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")
        spec = self.partition_spec() or []
        if any(t.source == old for t in spec):
            raise ValueError(
                f"column {old} is a partition source; "
                "drop the partition field first"
            )
        so = self.log.properties_at().get(PROP_SORT_ORDER, "")
        if any(part.split()[0] == old for part in so.split(",") if part.strip()):
            raise ValueError(
                f"column {old} is in write.sort-order; WRITE UNORDERED "
                "or re-order first"
            )
        live_eq = [
            fi
            for fi in self.log.state_at().values()
            if fi.content == 2 and old in (fi.eq_cols or [])
        ]
        if live_eq:
            raise ValueError(
                f"column {old} keys {len(live_eq)} live equality-delete "
                "file(s); rewrite_equality_deletes first"
            )
        renamed = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in current.fields
            ]
        )

        def make(version: int) -> LogEntry:
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="rename_column",
                properties=self.log.properties_at() or None,
                extra={
                    "schema": renamed.simpleString(),
                    "rename": {"from": old, "to": new},
                },
            )

        return self.log.append(make)

    def drop_column(self, name: str) -> LogEntry:
        """ALTER TABLE ... DROP COLUMN: metadata-only — the narrowed
        schema commits to the log, reads stop projecting the column,
        files keep their bytes (reclaimed as files naturally rewrite).
        Time travel still sees it (reads project through the AS-OF
        schema). Guarded against every live structure that still
        addresses the column: the current partition spec, the write
        sort order, and live equality-delete files keyed on it (their
        read-side application would have no type to project)."""
        current = self.schema() or self._schema()
        if not any(f.name == name for f in current.fields):
            raise ValueError(f"column {name} does not exist")
        if len(current.fields) == 1:
            raise ValueError("cannot drop the only column")
        spec = self.partition_spec() or []
        if any(t.source == name for t in spec):
            raise ValueError(
                f"column {name} is a partition source; "
                "drop the partition field first"
            )
        so = self.log.properties_at().get(PROP_SORT_ORDER, "")
        if any(part.split()[0] == name for part in so.split(",") if part.strip()):
            raise ValueError(
                f"column {name} is in write.sort-order; WRITE UNORDERED "
                "or re-order first"
            )
        live_eq = [
            fi
            for fi in self.log.state_at().values()
            if fi.content == 2 and name in (fi.eq_cols or [])
        ]
        if live_eq:
            raise ValueError(
                f"column {name} keys {len(live_eq)} live equality-delete "
                "file(s); rewrite_equality_deletes first"
            )
        narrowed = T.StructType([f for f in current.fields if f.name != name])

        def make(version: int) -> LogEntry:
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="drop_column",
                properties=self.log.properties_at() or None,
                # "dropped" feeds the name-mapping layer: if this name
                # is ever RE-ADDED, files predating the drop still
                # physically carry the dead lineage's bytes and must
                # read the new column as null (see _read_paths)
                extra={"schema": narrowed.simpleString(), "dropped": name},
            )

        return self.log.append(make)

    def schema(self, version: int | None = None) -> T.StructType | None:
        """The schema recorded in the log as of `version` (default
        latest), or None if this table predates schema tracking.
        Checkpoint-aware: survives snapshot expiry of the commit that
        recorded it."""
        ddl = self.log.schema_ddl_at(version)
        return _parse_ddl_cached(ddl) if ddl else None

    # widening lattices per family (Iceberg's legal type promotions)
    _PROMOTION_RANK = {
        "tinyint": ("int", 0), "smallint": ("int", 1),
        "int": ("int", 2), "bigint": ("int", 3),
        "float": ("float", 0), "double": ("float", 1),
    }

    def _align_for_write(self, df: DataFrame) -> tuple[DataFrame, str | None]:
        """Reconcile a write's schema with the table schema; returns the
        (possibly cast) frame and the new schema DDL to record, or None
        if the table schema is unchanged.

        Evolution rules (the safe subset of Iceberg's):
        - adding columns is allowed (appended after existing fields;
          they read as null from older files)
        - within a numeric family, the NARROWER side widens: narrower
          data upcasts to the table type; wider data promotes the table
          schema (int->bigint, float->double — Iceberg's legal
          promotions, lossless so old files still read correctly)
        - dropping/renaming is not expressible by a write (missing
          columns raise); cross-family type changes raise
        """
        current = self.schema()
        if current is None:
            return df, df.schema.simpleString()
        cur_by_name = {f.name: f for f in current.fields}
        new_by_name = {f.name: f for f in df.schema.fields}
        missing = [n for n in cur_by_name if n not in new_by_name]
        if missing:
            raise ValueError(f"write is missing table columns {missing}")
        casts: dict[str, T.DataType] = {}  # df columns to upcast
        widened: dict[str, T.DataType] = {}  # table columns to promote
        for name, f in new_by_name.items():
            if name not in cur_by_name or f.dataType == cur_by_name[name].dataType:
                continue
            t_s = cur_by_name[name].dataType.simpleString()
            d_s = f.dataType.simpleString()
            t_fam, t_rank = self._PROMOTION_RANK.get(t_s, (t_s, -1))
            d_fam, d_rank = self._PROMOTION_RANK.get(d_s, (d_s, -1))
            if t_fam != d_fam or t_rank < 0 or d_rank < 0:
                raise ValueError(
                    f"type change for column {name}: {t_s} -> {d_s} (not supported)"
                )
            if d_rank < t_rank:
                casts[name] = cur_by_name[name].dataType
            else:
                widened[name] = f.dataType
        if casts:
            df = df.select(
                *[
                    F.col(c.name).cast(casts[c.name]) if c.name in casts else F.col(c.name)
                    for c in df.schema.fields
                ]
            )
        added = [f for f in df.schema.fields if f.name not in cur_by_name]
        if not added and not widened:
            return df, None
        evolved = T.StructType(
            [
                T.StructField(f.name, widened.get(f.name, f.dataType), True)
                for f in current.fields
            ]
            + added
        )
        return df, evolved.simpleString()

    def read_incremental(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Rows ADDED in snapshots (from_version, to_version] — the
        incremental/CDC scan that lets a downstream pipeline process
        only what changed since its last run instead of re-reading the
        table (Iceberg's incremental append scan; changelog readers in
        Delta). File-granular: valid only over append-only ranges —
        data files are immutable, so appended files ARE the delta.
        Ranges containing rewriting commits (overwrite/delete/merge/
        replace/rollback) raise: their delta is row-level and needs a
        changelog materialization, not a file scan. `replace`
        (compaction) rewrites unchanged ROWS, so callers should consume
        deltas promptly or snapshot-pin before maintenance windows."""
        if to_version is None:
            to_version = self.log.latest_version()
        entries = [
            e
            for e in self.log.entries()
            if from_version < e.version <= to_version
            # branch commits and uncommitted-txn entries are not main
            # deltas; stage entries stay listed (path-excluded below)
            and (e.operation == "stage" or self.log.in_main_lineage(e))
        ]
        rewriting = [
            e.operation
            for e in entries
            if e.operation not in ("append", "create", "set_properties", "add_column", "rename_column", "stage")
            # an append-only branch merge adds files without removing
            # any — file-granular deltas stay sound
            and not (e.operation == "merge" and not e.removed_files)
        ]
        if rewriting:
            raise ValueError(
                f"incremental read over non-append operations {rewriting}: "
                "file-granular deltas are only sound for append-only ranges"
            )
        path_seqs = {
            os.path.join(self.table_dir, fi.path): self._name_epoch_of(fi)
            for e in entries
            if e.operation != "stage"  # staged files aren't on main yet
            for fi in e.added_files
        }
        if not path_seqs:
            return local_df(self.spark, [], self.schema(to_version) or self._schema())
        return self._read_paths(list(path_seqs), version=to_version, seqs=path_seqs)

    def read_changelog(
        self,
        from_version: int,
        to_version: int | None = None,
        identifier_columns: list[str] | None = None,
    ) -> DataFrame:
        """Row-level changelog over (from_version, to_version] — the
        Iceberg `create_changelog_view` procedure's result relation:
        table columns plus `_change_type`
        ('insert'|'delete'|'update_before'|'update_after'),
        `_change_ordinal` (commit index within the range), and
        `_commit_snapshot_id`. Unlike `read_incremental` (file-granular,
        append-only ranges) this handles EVERY row-level operation —
        COW and merge-on-read DELETE/UPDATE/MERGE, overwrite,
        rollback — by diffing each commit's visible rows.

        Scale shape: the diff is scoped per commit to the files whose
        VISIBILITY changed (added/removed data files + data files newly
        referenced by that commit's delete files) — a commit that
        touched 0.1% of the table diffs 0.1% of the data, never the
        table. `replace` commits (compaction/delete-file maintenance)
        are row-preserving by commit-time validation and emit nothing,
        exactly like Iceberg's changelog ignores rewrites.

        With `identifier_columns`, a delete+insert pair within one
        commit that agrees on the identifier becomes
        update_before/update_after (Iceberg's compute-updates mode);
        identifiers repeated on either side of a commit stay as plain
        delete+insert rather than guessing pairings."""
        if to_version is None:
            to_version = self.log.latest_version()
        schema = self.schema(to_version) or self._schema()
        cols = [f.name for f in schema.fields]
        meta_ops = ("create", "set_properties", "add_column", "rename_column", "stage")
        commits = [
            e
            for e in self.log.entries()
            if from_version < e.version <= to_version
            and e.operation not in meta_ops
            # branch commits / uncommitted txn entries never changed
            # main's visible rows — no changelog events
            and self.log.in_main_lineage(e)
        ]

        def scoped(paths: set[str], state: dict[str, FileInfo]) -> DataFrame | None:
            data_state, pos, eq = self._split_state(state)
            subset = {p: data_state[p] for p in paths if p in data_state}
            if not subset:
                # e.g. an append's old side: the changed files did not
                # exist yet — contribute no rows, skip the plan build
                return None
            return self._assemble_read(subset, pos, eq, version=to_version).select(*cols)

        prev_version = from_version
        parts: list[DataFrame] = []
        for ordinal, e in enumerate(commits):
            if e.operation == "replace":
                prev_version = e.version
                continue  # row-preserving rewrite: no logical change
            old_state = self.log.state_at(prev_version)
            new_state = self.log.state_at(e.version)
            changed: set[str] = set()
            for fi in e.added_files:
                if fi.content == 0:
                    changed.add(fi.path)
                elif fi.content == 1:
                    changed.update(
                        p
                        for p, dfi in old_state.items()
                        if dfi.content == 0 and self._pos_delete_may_reference(fi, p)
                    )
                else:
                    changed.update(
                        p
                        for p, dfi in old_state.items()
                        if dfi.content == 0 and self._eq_delete_may_apply(dfi, fi)
                    )
            changed.update(p for p in e.removed_files)
            # Multiset diff via signed copy-counts: per distinct row,
            # the sum over (old tagged -1) ∪ (new tagged +1) is
            # negative for net-deleted copies and positive for
            # net-inserted — exactly old.exceptAll(new) plus
            # new.exceptAll(old), which Spark would each rewrite into
            # their own union + count + generate plan (RewriteExceptAll)
            # for twice the shuffles over the same inputs. GroupBy and
            # exceptAll share null-safe row equality, so events match
            # row-for-row. The ordinal joins the grouping key so EVERY
            # commit's diff lands in the ONE aggregation below the
            # loop — one shuffle for the whole range instead of one
            # per commit (a 10-commit demo paid 10 exchange floors;
            # at scale the per-commit scoped sides still bound the
            # data, the shuffle just batches them).
            for side_df, d in (
                (scoped(changed, old_state), -1),
                (scoped(changed, new_state), 1),
            ):
                if side_df is None:
                    continue
                parts.append(
                    side_df.select(
                        *cols,
                        F.lit(ordinal).cast("int").alias("_change_ordinal"),
                        F.lit(e.snapshot_id).cast("long").alias(
                            "_commit_snapshot_id"
                        ),
                        F.lit(d).alias("__d"),
                    )
                )
            prev_version = e.version
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_change_ordinal", T.IntegerType(), False),
                T.StructField("_commit_snapshot_id", T.LongType(), False),
            ]
        )
        if not parts:
            return local_df(self.spark, [], out_schema)
        delta = (
            _reduce(DataFrame.unionByName, parts)
            .groupBy("_change_ordinal", "_commit_snapshot_id", *cols)
            .agg(F.sum("__d").alias("__n"))
            .filter(F.col("__n") != 0)
        )
        log_df = delta.select(
            *cols,
            F.explode(
                F.expr(
                    "array_repeat(CASE WHEN __n > 0 THEN 'insert' "
                    "ELSE 'delete' END, CAST(abs(__n) AS INT))"
                )
            ).alias("_change_type"),
            "_change_ordinal",
            "_commit_snapshot_id",
        )
        if identifier_columns:
            log_df = self._pair_updates(log_df, identifier_columns)
        return log_df

    @staticmethod
    def _pair_updates(log_df: DataFrame, id_cols: list[str]) -> DataFrame:
        """Rewrite delete+insert pairs that share the identifier within
        one commit into update_before/update_after. Pairing only fires
        when the identifier appears EXACTLY once on each side of that
        commit — a repeated key stays delete+insert instead of a
        guessed pairing. ONE window partitioning on (ordinal,
        identifier) carries both per-side counts (only delete/insert
        exist before pairing, so a row's own-side count IS its type's
        count — no second (ordinal, identifier, type)-partitioned
        window needed): shuffle-bounded by the changelog size, not the
        table."""
        from pyspark.sql import Window

        key = ["_change_ordinal", *id_cols]
        both = Window.partitionBy(*key)
        marked = (
            log_df.withColumn("__del_n", F.sum(F.when(F.col("_change_type") == "delete", 1).otherwise(0)).over(both))
            .withColumn("__ins_n", F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(0)).over(both))
        )
        paired = (F.col("__del_n") == 1) & (F.col("__ins_n") == 1)
        return marked.withColumn(
            "_change_type",
            F.when(
                paired & (F.col("_change_type") == "delete"), F.lit("update_before")
            )
            .when(
                paired & (F.col("_change_type") == "insert"), F.lit("update_after")
            )
            .otherwise(F.col("_change_type")),
        ).drop("__del_n", "__ins_n")

    def _schema(self) -> T.StructType:
        # empty table: recover schema from any DATA file ever written
        # (a delete file's schema is file_path/pos or the equality
        # columns — never the table's), else empty
        for entry in self.log.entries():
            for fi in entry.added_files:
                if fi.content == 0:
                    return self.spark.read.parquet(
                        os.path.join(self.table_dir, fi.path)
                    ).schema
        return T.StructType([])

    # ---- named refs (branches/tags; Nessie/Iceberg ref analog) -------

    def create_branch(self, name: str, at: int | None = None) -> dict:
        """Named movable pointer to a snapshot (default: current head) —
        the analog of Nessie's git-like branches (the reference pins
        `ref=main` in spark-defaults) and Iceberg's branch refs. A
        branch pins its snapshot against expire_snapshots; advance it
        with fast_forward, delete with drop_ref."""
        return self.log.create_ref(name, self._head_or(at), kind="branch")

    def create_tag(self, name: str, at: int | None = None) -> dict:
        """Immutable named pointer (Iceberg tag): same pinning as a
        branch, but can never be moved — audit/release markers."""
        return self.log.create_ref(name, self._head_or(at), kind="tag")

    def fast_forward(self, name: str, to: int | None = None) -> dict:
        """ADVANCE a branch pointer to `to` (default: current head).
        Strictly forward, as Iceberg's fast_forward procedure: moving a
        branch backwards would silently discard branch history — on
        this linear log, ancestor means smaller version."""
        target = self._head_or(to)
        current = self.log.resolve_ref(name)
        if target < current:
            raise ValueError(
                f"fast_forward {name!r}: target snapshot {target} is behind the "
                f"branch (at {current}) — not a fast-forward"
            )
        return self.log.update_ref(name, target)

    def drop_ref(self, name: str) -> None:
        self.log.delete_ref(name)

    def _head_or(self, at: int | None) -> int:
        if at is not None:
            return at
        # refs anchor on MAIN lineage: with branch/stage commits in the
        # log, the newest raw version may be outside it
        head = self.log.latest_main_version()
        if head is None:
            raise ValueError("table has no snapshots")
        return head

    def refs(self) -> DataFrame:
        """The `<t>.refs` metadata relation (Iceberg's refs table)."""
        rows = [
            (r["name"], r["kind"].upper(), r["snapshot_id"])
            for r in self.log.refs().values()
        ]
        return local_df(self.spark, rows, REFS_SCHEMA)

    # ---- metadata views (SURVEY.md S2/S3) ----------------------------

    def snapshots(self) -> DataFrame:
        """The `<t>.snapshots` metadata relation (guide :132-134).

        ONE incremental fold over the log — not a state_at() replay per
        version, which re-reads every entry file V times (O(V^2) IO; a
        streaming table accumulates hundreds of snapshots and this view
        is the first thing its operator queries)."""
        entries = self.log.entries()
        rows = []
        state: dict[str, FileInfo] = (
            self.log.state_at(entries[0].version) if entries else {}
        )
        for i, e in enumerate(entries):
            # only main-lineage entries advance the running state:
            # stage/branch/uncommitted-txn snapshots are listed (their
            # row shows operation + own file counts) but don't change
            # main's totals
            if i > 0 and self.log.in_main_lineage(e):
                for p in e.removed_files:
                    state.pop(p, None)
                for fi in e.added_files:
                    state[fi.path] = fi
            rows.append(
                (
                    e.snapshot_id,
                    # naive UTC timestamp (session TZ is UTC)
                    _dt.datetime.fromtimestamp(e.committed_at, _dt.timezone.utc).replace(tzinfo=None),
                    e.operation,
                    len(e.added_files),
                    len(e.removed_files),
                    len(state),
                    # Iceberg's total-records: DATA records; a delete
                    # file's rows are tombstones, not table records
                    sum(fi.row_count for fi in state.values() if fi.content == 0),
                )
            )
        return local_df(self.spark, rows, SNAPSHOTS_SCHEMA)

    def files(self, version: int | None = None) -> DataFrame:
        """The `<t>.files` metadata relation (guide :175-185)."""
        rows = [
            (
                fi.content,
                os.path.join(self.table_dir, fi.path),
                fi.size_bytes,
                fi.row_count,
                (
                    {
                        c: [None if v is None else str(v) for v in bounds]
                        for c, bounds in fi.stats.items()
                    }
                    if fi.stats
                    else None
                ),
                fi.partition or None,
            )
            for fi in self.log.state_at(version).values()
        ]
        return local_df(self.spark, rows, FILES_SCHEMA)

    def history(self) -> DataFrame:
        """The `<t>.history` metadata relation (Iceberg's history
        table): when each snapshot became current, its parent, and
        whether it is an ancestor of the CURRENT state. A rollback
        (guide :304-316) makes the rolled-over snapshots
        `is_current_ancestor = false` — the audit trail that
        distinguishes 'current lineage' from 'abandoned branch', which
        `.snapshots` alone cannot express. Stage (write-audit-publish)
        snapshots never became current and are excluded, exactly as
        Iceberg excludes unpublished WAP snapshots."""
        main = [e for e in self.log.entries() if self.log.in_main_lineage(e)]
        parent: dict[int, int | None] = {}
        prev: int | None = None
        for e in main:
            target = (e.extra or {}).get("rollback_to")
            if e.operation == "rollback" and target is not None:
                # a rollback's logical parent is its target: the
                # snapshots between target and the rollback fall off
                # the current lineage
                parent[e.snapshot_id] = int(target)
            else:
                parent[e.snapshot_id] = prev
            prev = e.snapshot_id
        ancestors: set[int] = set()
        cur = prev
        while cur is not None and cur not in ancestors:
            ancestors.add(cur)
            cur = parent.get(cur)
        rows = [
            (
                _dt.datetime.fromtimestamp(e.committed_at, _dt.timezone.utc).replace(
                    tzinfo=None
                ),
                e.snapshot_id,
                parent[e.snapshot_id],
                e.snapshot_id in ancestors,
            )
            for e in main
        ]
        return local_df(self.spark, rows, HISTORY_SCHEMA)

    def entries(self) -> DataFrame:
        """The `<t>.entries` metadata relation (Iceberg's manifest
        entries table, flattened): one row per file state-change —
        status 1 = ADDED, 2 = DELETED (Iceberg's status codes) — with
        the committing snapshot and the file's content class. The
        forensic view: `.files` says what is live, `.entries` says
        which commit added or removed each file."""
        rows = []
        for e in self.log.entries():
            for fi in e.added_files:
                rows.append(
                    (
                        1,
                        e.snapshot_id,
                        fi.seq,
                        fi.content,
                        os.path.join(self.table_dir, fi.path),
                        fi.size_bytes,
                        fi.row_count,
                    )
                )
            for p in e.removed_files:
                rows.append(
                    (2, e.snapshot_id, None, None, os.path.join(self.table_dir, p), None, None)
                )
        return local_df(self.spark, rows, ENTRIES_SCHEMA)

    def all_files(self) -> DataFrame:
        """The `<t>.all_files` metadata relation (Iceberg): every file
        referenced by ANY live snapshot — not just the current one — so
        expiry/orphan planning can be audited as a query. Columns match
        `.files`. One pass: the oldest surviving snapshot's state plus
        every later entry's added files IS the union over all versions
        (files only ever enter a state through added_files)."""
        entries = self.log.entries()
        seen: dict[str, FileInfo] = (
            self.log.state_at(entries[0].version) if entries else {}
        )
        for e in entries[1:]:
            if e.operation == "stage":
                continue  # unpublished staged files are not snapshot state
            for fi in e.added_files:
                seen.setdefault(fi.path, fi)
        rows = [
            (
                fi.content,
                os.path.join(self.table_dir, fi.path),
                fi.size_bytes,
                fi.row_count,
                (
                    {
                        c: [None if x is None else str(x) for x in bounds]
                        for c, bounds in fi.stats.items()
                    }
                    if fi.stats
                    else None
                ),
                fi.partition or None,
            )
            for fi in seen.values()
        ]
        return local_df(self.spark, rows, FILES_SCHEMA)

    def position_deletes(self) -> DataFrame:
        """The `<t>.position_deletes` metadata relation (Iceberg v2):
        the live position-delete ROWS (file_path, pos) with the delete
        file each came from — the tombstone-level debugging view behind
        the guide's content=1 accounting (:336-340)."""
        schema = T.StructType(
            [
                T.StructField("file_path", T.StringType(), False),
                T.StructField("pos", T.LongType(), False),
                T.StructField("delete_file_path", T.StringType(), False),
            ]
        )
        _data, pos_files, _eq = self._split_state(self.log.state_at())
        if not pos_files:
            return local_df(self.spark, [], schema)
        dels = self.spark.read.schema(POS_DELETE_SCHEMA).parquet(
            *[os.path.join(self.table_dir, fi.path) for fi in pos_files]
        )
        return dels.select(
            "file_path",
            "pos",
            F.col("_metadata.file_path").alias("delete_file_path"),
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """The `<t>.partitions` metadata relation (Iceberg's partitions
        table): one row per live partition with file/record/byte
        counts — metadata-only, no data scan. Time-travels by
        `version` like `.files`."""
        agg: dict[tuple, list[int]] = {}
        for fi in self.log.state_at(version).values():
            if fi.content != 0:
                continue
            key = tuple(sorted((fi.partition or {}).items()))
            acc = agg.setdefault(key, [0, 0, 0])
            acc[0] += 1
            acc[1] += fi.row_count
            acc[2] += fi.size_bytes
        rows = [
            (dict(key) if key else None, acc[0], acc[1], acc[2])
            for key, acc in sorted(agg.items())
        ]
        return local_df(self.spark, rows, PARTITIONS_SCHEMA)

    # ---- writes ------------------------------------------------------

    def append(
        self, df: DataFrame, extra: dict | None = None, ref: str | None = None
    ) -> LogEntry:
        """Append `df` as a new snapshot. `ref` — commit onto a named
        branch instead of main (Nessie's write-on-ref, the reference's
        `spark.sql.catalog.nessie.ref` knob): the data lands in the
        branch lineage only, invisible to main reads until
        `merge_branch` publishes the chain. Branch commits cannot
        evolve the table schema — schema metadata is main-lineage-only
        (the log's newest-schema-wins lookup skips branch entries), so
        an evolving branch write would silently read back with the old
        schema; evolve on main first, then write to the branch."""
        df, schema_ddl = self._align_for_write(df)
        if ref is not None and schema_ddl and self.schema() is not None:
            raise ValueError(
                "a branch write cannot evolve the table schema; "
                "run add_column / an evolving append on main first"
            )
        merged = dict(extra or {})
        if schema_ddl:
            merged["schema"] = schema_ddl
        return self._commit_write(
            df,
            operation="append",
            removed=(),
            extra=merged or None,
            branch=ref,
        )

    def stage_append(self, df: DataFrame, wap_id: str) -> LogEntry:
        """Write-audit-publish staging (Iceberg's `spark.wap.id` flow):
        write the data files and commit a `stage` snapshot that the
        main lineage SKIPS — current reads see nothing until
        `publish_changes(wap_id)` replays its files as a real append.
        The staged snapshot is auditable the same way Iceberg's is: it
        appears in the `snapshots` view, and `read(version=<stage
        snapshot id>)` is the AUDIT read — main-as-of-then plus the
        staged files — so validation queries run against exactly what
        publishing would produce."""
        df, schema_ddl = self._align_for_write(df)
        if schema_ddl and self.schema() is not None:
            # a staged entry must not carry schema metadata: the log's
            # newest-schema-wins lookup would apply it to main BEFORE
            # the publish. Evolve the table first, then stage.
            raise ValueError(
                "staged write cannot evolve the table schema; "
                "run add_column / an evolving append first, then stage"
            )
        # wap_id is the publish handle — reuse would make publish_changes
        # ambiguous (it would have to pick one stage arbitrarily and
        # strand the other's files for the orphan sweep). Published ids
        # are rejected too: publish_changes refuses double-publish, so a
        # re-staged published id could never be published.
        for e in self.log.entries():
            if (e.extra or {}).get("wap_id") == wap_id and e.operation == "stage":
                raise ValueError(
                    f"wap_id {wap_id!r} already staged (snapshot "
                    f"{e.snapshot_id}); stage ids must be unique per table"
                )
        return self._commit_write(
            df, operation="stage", removed=(), extra={"wap_id": wap_id}
        )

    def overwrite(self, df: DataFrame, ref: str | None = None) -> LogEntry:
        # overwrite replaces the data wholesale, so the write schema
        # BECOMES the table schema (no evolution constraints). On a
        # branch (`ref`): replaces the BRANCH lineage's files — the
        # removal set merge_branch later validates against main, which
        # is what makes a main commit that touched the same files a
        # merge conflict. Branch overwrites cannot change the schema
        # (schema metadata is main-lineage-only; see append).
        cur = self.schema()
        if ref is not None:
            # align like append (narrower data upcasts to the table
            # type); anything that would EVOLVE the schema is rejected
            df, schema_ddl = self._align_for_write(df)
            if schema_ddl and cur is not None:
                raise ValueError(
                    "a branch overwrite cannot change the table schema; "
                    "evolve on main first"
                )
            removed = tuple(self.log.state_at_branch(ref).keys())
            return self._commit_write(
                df, operation="overwrite", removed=removed, branch=ref
            )
        ddl = df.schema.simpleString()
        removed = tuple(self.log.state_at().keys())
        return self._commit_write(
            df,
            operation="overwrite",
            removed=removed,
            extra={"schema": ddl} if cur is None or ddl != cur.simpleString() else None,
        )

    def truncate(self) -> LogEntry:
        """TRUNCATE TABLE: one metadata commit removing EVERY live
        file — data AND delete files (a bare `DELETE WHERE true` in
        copy-on-write would drop the data files but leave merge-on-read
        tombstones dangling until maintenance). No file bytes move;
        time travel still reaches the pre-truncate snapshots."""

        def make(version: int) -> LogEntry:
            live = self.log.state_at()
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="delete",
                removed_files=tuple(live),
                extra={"truncate": True},
            )

        return self.log.append(make)

    def overwrite_partitions(self, df: DataFrame) -> LogEntry:
        """Dynamic partition overwrite (Iceberg/Spark
        `spark.sql.sources.partitionOverwriteMode=dynamic`, INSERT
        OVERWRITE on a partitioned table): replace ONLY the partitions
        `df` contains rows for — untouched partitions keep their files.
        The idempotent-backfill primitive: re-running a day's pipeline
        replaces that day, not the table.

        Planning is metadata-sized: the new data's distinct partition
        tuples (one tiny distinct over the transform expressions —
        bounded by the number of TOUCHED partitions, not rows) select
        the doomed files from the log. Commit-time validation re-checks
        the doomed set is still live, so a racing write to the same
        partition conflicts instead of resurrecting."""
        spec = self.partition_spec()
        if not spec:
            raise ValueError(
                "overwrite_partitions needs a partitioned table "
                "(set partition.spec); use overwrite() for full replacement"
            )
        df, schema_ddl = self._align_for_write(df)
        if schema_ddl and self.schema() is not None:
            raise ValueError(
                "overwrite_partitions cannot evolve the schema; "
                "add_column first, then overwrite"
            )
        touched = [
            tuple(str(r[t.pname]) if r[t.pname] is not None else None for t in spec)
            for r in df.select(
                *[t.expr(df).cast("string").alias(t.pname) for t in spec]
            )
            .distinct()
            .collect()
        ]
        touched_set = set(touched)
        schema_types = {
            f.name: f.dataType.simpleString()
            for f in (self.schema() or self._schema()).fields
        }
        for tup in touched_set:
            for t, v in zip(spec, tup):
                if (
                    t.kind == "identity"
                    and schema_types.get(t.source) == "string"
                    and (v is None or v == "")
                ):
                    # hive conflates NULL and '' into one dir for string
                    # identity partitions; "replace that partition" would
                    # silently delete whichever of the two the new data
                    # lacks
                    raise ValueError(
                        "overwrite_partitions: the null/empty-string partition "
                        f"of string column {t.source!r} is ambiguous (hive "
                        "stores '' and NULL in one directory); use "
                        "delete_where + append for those rows"
                    )

        from urllib.parse import unquote as _unquote

        def file_key(fi: FileInfo) -> tuple | None:
            part = fi.partition or {}
            # A file is partition-addressed ONLY if its tuple carries
            # every CURRENT-spec pname. After spec evolution, old-spec
            # files have a non-empty dict that lacks the new pnames —
            # keying those with None-padding would (a) fail to doom them
            # when their partition is replaced (silent duplication) and
            # (b) wrongly match an all-null touched partition (data
            # loss). Missing pname => not addressable, handled by the
            # unaddressed guard below.
            if any(t.pname not in part for t in spec):
                return None
            vals = []
            for t in spec:
                v = part.get(t.pname)
                # dir values are hive-escaped (%3D for '=' etc.); the
                # df side computes RAW values — unescape to compare
                vals.append(
                    None if v is None or v == _part.HIVE_NULL else _unquote(v)
                )
            return tuple(vals)

        state = self.log.state_at()
        doomed = tuple(
            p
            for p, fi in state.items()
            if fi.content == 0 and file_key(fi) in touched_set
        )
        unaddressed = [
            p for p, fi in state.items() if fi.content == 0 and file_key(fi) is None
        ]
        if unaddressed:
            # a file with no (current-spec) partition tuple may hold rows
            # of a touched partition: pre-spec/adopted files have no
            # tuple at all, and spec evolution leaves old-spec files
            # whose tuple lacks the current pnames. Replacing "the
            # partition" while such files survive would duplicate rows
            # (or, None-keyed, delete the wrong ones). Compaction
            # migrates them to the current layout.
            raise ValueError(
                f"overwrite_partitions: {len(unaddressed)} live file(s) carry no "
                "current-spec partition tuple (pre-spec, adopted, or written "
                "under an evolved-away spec); run rewrite_data_files to "
                "migrate the layout first"
            )
        planned = frozenset(doomed)

        def no_new_files_in_touched(live: dict) -> None:
            # Iceberg's serializable ReplacePartitions validation: a file
            # appended into a touched partition AFTER planning is not in
            # the doomed set — committing would leave it alongside the
            # replacement rows (silent duplicates)
            for p, fi in live.items():
                if fi.content == 0 and p not in planned and file_key(fi) in touched_set:
                    raise CommitConflictError(
                        f"overwrite_partitions on {self.identifier}: concurrent "
                        f"write added {p!r} into a partition this overwrite "
                        "replaces — re-plan"
                    )

        return self._commit_write(
            df,
            operation="overwrite",
            removed=doomed,
            extra={"overwrite-mode": "dynamic", "partitions": len(touched_set)},
            extra_validation=no_new_files_in_touched,
        )

    # ---- row-level operations (copy-on-write; Iceberg v2 analog) -----

    def _affected_files(self, match: DataFrame) -> list[str]:
        """Relative paths of live data files containing >=1 row of
        `match` (a filtered view of this table's `_tagged_read`, whose
        `__file` column is captured from `_metadata` at the scan and so
        survives any joins layered on top). Only these rewrite — at
        scale deleting 0.1% of rows touches 0.1%-ish of files, not the
        table."""
        rows = match.select(F.col("__file").alias("src_file")).distinct().collect()
        return sorted(r.src_file for r in rows)

    def delete_where(
        self,
        condition,
        mode: str | None = None,
        ref: str | None = None,
        extra: dict | None = None,
    ) -> LogEntry:
        """Row-level DELETE ... WHERE, in either Iceberg v2 delete mode
        (guide :107 format-version 2, :336-340 content classes). `mode`
        defaults to the table's `write.delete.mode` property
        (copy-on-write when unset), matching how Iceberg's SQL DELETE
        picks its mode.

        - copy-on-write: files containing matches are rewritten without
          the matching rows; untouched files carry over. Scans stay
          plain parquet reads; the fold is paid up front.
        - merge-on-read: ONE content=1 position-delete file commit
          (file_path + row ordinal of each matched row) — O(matched
          rows) written instead of O(affected file bytes) rewritten.
          Readers anti-join the deletes (see `_assemble_read`);
          `rewrite_position_deletes` / compaction fold them back in
          later (guide :17).
        """
        props = self.log.properties_at()
        mode = mode or props.get(PROP_DELETE_MODE, "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(
                f"write.delete.mode must be copy-on-write or merge-on-read, got {mode!r}"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if ref is not None and mode == "merge-on-read":
            # branch tombstones would need their own seq lineage through
            # the merge replay; copy-on-write keeps branch row-level ops
            # self-contained (rewritten files merge like any other)
            raise ValueError(
                "merge-on-read DELETE is not supported on a branch; "
                "use copy-on-write (mode='copy-on-write') or merge first"
            )
        if mode == "merge-on-read":
            return self._mor_delete(cond)
        # fingerprint BEFORE planning: a tombstone landing mid-plan must
        # surface as a commit conflict, not get folded away silently
        fingerprint = self._deletes_fingerprint(ref=ref)
        tagged = self._tagged_read(ref=ref)
        affected = self._affected_files(tagged.filter(cond))
        if not affected:  # nothing matched: no commit, table unchanged
            return self.log.read_entry(self.log.latest_version())
        # SQL DELETE removes rows where cond IS TRUE; rows where cond is
        # NULL must SURVIVE. A bare ~cond evaluates NULL -> NULL, which
        # filter() drops — silently deleting NULL-condition rows that
        # share a file with a matched row (merge-on-read gets this right
        # for free because it keeps only cond-IS-TRUE positions).
        survivors = self._read_rel(affected, ref=ref).filter(
            ~F.coalesce(cond.cast("boolean"), F.lit(False))
        )
        # survivors are a subset of the affected files' rows, so the
        # logged byte total is a sound (upper-bound) size estimate:
        # skip the measure-then-shape staging write entirely
        input_bytes = self._logged_bytes(affected, ref=ref)
        if ref is None and self._live_rows_small(cap=_LOCAL_VALUES_MAX):
            survivors = self._localize_commit_frame(survivors)
            input_bytes = None  # the LocalRelation fast path self-sizes
        return self._commit_write(
            survivors,
            operation="delete",
            removed=tuple(affected),
            input_bytes=input_bytes,
            deletes_fingerprint=fingerprint,
            branch=ref,
            extra=extra,
        )

    def _check_pending_txn_claims(self, operation: str, paths) -> None:
        """First-committer-wins against staged-but-UNDECIDED
        multi-table/catalog-merge txns: when this main commit's planned
        removals / merge-on-read referenced files overlap a pending txn
        entry's removals, DECIDE that txn aborted through the same
        O_EXCL marker create its orchestrator uses. Runs inside
        make(), i.e. at the claimed version slot, where the pending
        entry is already visible in the log. Exactly one side survives
        the marker arbitration: either our abort lands (the txn's flip
        later reads it and reports the abort — the pre-r14 writer-wins
        semantics, now race-free) or the txn committed first and we
        raise for a re-plan against the merged state. This is what
        closes (not shrinks) the txn validate->marker-flip window; see
        log.pending_txn_removed_claims. Staged txns never act as file
        locks — an open interactive transaction cannot block writers.

        The abort is PESSIMISTIC by design: it fires during a make()
        attempt that may itself lose its version slot, hit a later
        validation conflict, or crash before our entry lands — so a
        txn can be aborted with no surviving conflicting main commit.
        Markers decide once; undoing one would reopen the window this
        guard exists to close. The txn-side error message says so
        (transaction.py commit): rebase + retry may simply succeed."""
        claims = self.log.pending_txn_removed_claims()
        hits: dict[str, str] = {}
        for p in paths:
            tx = claims.get(p)
            if tx is not None and tx not in hits:
                hits[tx] = p
        for tx, p in hits.items():
            if self.log.decide_txn(tx, "aborted") != "aborted":
                raise CommitConflictError(
                    f"{operation} on {self.identifier}: planned file {p!r} was "
                    f"claimed by transaction {tx!r}, which committed first — "
                    "re-plan from the post-transaction state"
                )

    def _deletes_fingerprint(self, ref: str | None = None) -> tuple[str, ...]:
        """The live delete-file set at PLAN time. Every commit that
        plans row content from a read (COW rewrites, compaction) must
        revalidate this at commit time: a delete file added or removed
        in between means the planned output no longer reflects the
        table (e.g. a concurrent merge-on-read DELETE whose tombstones
        would be silently folded away by our rewrite). Iceberg's
        commit validation checks new delete files the same way."""
        state = (
            self.log.state_at_branch(ref) if ref is not None else self.log.state_at()
        )
        return tuple(sorted(p for p, fi in state.items() if fi.content != 0))

    def _live_rows_small(self, cap: int | None = None) -> bool:
        """True when the table's live DATA row count — known exactly
        from the log's per-file metadata, no job — is within `cap`
        (default: the driver-side fast-write cap) and the warehouse is
        plain-local. Any row-level op's matched/survivor set is bounded
        by this, so it gates collect-then-pyarrow fast paths soundly:
        a 100 TB table never qualifies, a lifecycle-demo table always
        does."""
        if "://" in self.table_dir or type(self.io) is not LocalFileIO:
            return False
        total = sum(
            fi.row_count for fi in self.log.state_at().values() if fi.content == 0
        )
        return total <= (fastwrite.MAX_ROWS if cap is None else cap)

    def _localize_commit_frame(self, df: DataFrame) -> DataFrame:
        """Collect a lifecycle-scale commit frame (caller gated by
        `_live_rows_small`) and rebuild it as a pure-JVM LocalRelation
        so the following `_write_files` takes the pyarrow fast path:
        one collect job replaces the Spark write job plus the
        committer's temp-dir rename dance. If the collected set still
        exceeds localrows' VALUES cap (e.g. a big MERGE source), the
        original frame is returned and the Spark writer keeps it."""
        rows = df.collect()
        if len(rows) > _LOCAL_VALUES_MAX:
            return df
        return local_df(self.spark, [tuple(r) for r in rows], df.schema)

    def _write_pos_deletes_rows(
        self, rows
    ) -> tuple[tuple[FileInfo, ...], list[str]]:
        """Driver-side variant of `_write_pos_deletes` for collected
        (file_path, pos) rows (caller gated by `_live_rows_small`):
        python-sorts them — same (file_path, pos) order contract, the
        footer bounds reads use to scope the anti-join — and writes ONE
        pyarrow file, skipping the global-sort shuffle, the committer
        rename dance, and the referenced-files re-read job (the
        distinct file_paths come straight from the rows in hand)."""
        rows = sorted(tuple(r) for r in rows)
        if not rows:
            return (), []
        referenced = sorted({fp for fp, _ in rows})
        tbl = fastwrite.rows_to_arrow(rows, POS_DELETE_SCHEMA)
        out = os.path.join(self.data_dir, f"v{uuid.uuid4().hex[:12]}")
        os.makedirs(out, exist_ok=True)
        fastwrite.write_rows(
            tbl, os.path.join(out, f"part-00000-{uuid.uuid4().hex[:12]}.parquet")
        )
        delete_files = tuple(
            _dc_replace(fi, content=1) for fi in self._scan_written(out)
        )
        return delete_files, referenced

    def _write_pos_deletes(
        self, matches: DataFrame
    ) -> tuple[tuple[FileInfo, ...], list[str]]:
        """Write `matches` (file_path, pos) as content=1 position-delete
        file(s), sorted by (file_path, pos) so each delete file's footer
        bounds the data-file range it references — what lets reads
        scope the anti-join to possibly-affected files only. Returns
        (delete FileInfos, referenced data-file rel paths); both empty
        when nothing matched (the written dir is cleaned up).

        Sizing: a GLOBAL orderBy (range shuffle) whose partition count
        AQE picks from the actual tombstone bytes — a 5-row DELETE
        writes ONE delete file, a billion-row delete writes many, with
        no explicit parallelism knob (an explicit
        repartitionByRange(defaultParallelism) here once sprayed tiny
        deletes across 32 one-row files — delete-file explosion the
        read path then pays for on every scan)."""
        pre = matches.orderBy("file_path", "pos")
        out_dir = os.path.join(self.data_dir, f"v{uuid.uuid4().hex[:12]}")
        pre.write.mode("error").parquet(out_dir)
        files = self._scan_written(out_dir)
        if sum(fi.row_count for fi in files) == 0:
            self.io.rmtree(out_dir)  # nothing matched
            return (), []
        delete_files = tuple(_dc_replace(fi, content=1) for fi in files if fi.row_count)
        for fi in files:
            if not fi.row_count:  # range partitioner gave it no rows
                self.io.remove(os.path.join(self.table_dir, fi.path))
        # the data files these tombstones reference — metadata-sized
        # (bounded by the affected-file count), used for commit-time
        # conflict validation against a racing compaction/COW rewrite
        referenced = [
            r.file_path
            for r in self.spark.read.schema(POS_DELETE_SCHEMA)
            .parquet(out_dir)
            .select("file_path")
            .distinct()
            .collect()
        ]
        return delete_files, referenced

    def _commit_mor(
        self,
        operation: str,
        added: tuple[FileInfo, ...],
        referenced: list[str],
        extra: dict,
    ) -> LogEntry:
        """Commit a merge-on-read row-level operation: `added` holds the
        new tombstone (content=1) and/or data files, nothing is removed,
        and every data file the tombstones reference must still be live
        at commit time — a racing compaction/COW rewrite that replaced
        one would otherwise leave dangling tombstones whose rows
        silently resurrect. Staged files are cleaned up on failure."""

        def make(version: int) -> LogEntry:
            live = self.log.state_at()
            gone = [p for p in referenced if p not in live or live[p].content != 0]
            if gone:
                raise CommitConflictError(
                    f"merge-on-read {operation} on {self.identifier}: {len(gone)} "
                    f"referenced data file(s) no longer live (e.g. {gone[0]!r}) — "
                    "a concurrent commit replaced them; re-plan"
                )
            # a file a pending txn is about to remove counts as
            # unavailable too: tombstoning it would target rows the
            # marker flip replaces
            self._check_pending_txn_claims(operation, referenced)
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation=operation,
                added_files=tuple(_dc_replace(fi, seq=version, name_epoch=version) for fi in added),
                extra=extra,
            )

        try:
            return self.log.append(make)
        except BaseException:
            for fi in added:  # don't leak staged tombstones/data
                try:
                    self.io.remove(os.path.join(self.table_dir, fi.path))
                except OSError:
                    pass
            raise

    def _mor_delete(self, cond) -> LogEntry:
        """Merge-on-read DELETE: one commit adding position-delete
        file(s) for every cond-IS-TRUE row; no data file is touched."""
        tagged = self._tagged_read()
        matches = tagged.filter(cond).select(
            F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
        )
        if self._live_rows_small():
            # lifecycle-scale table: ONE job (the matched scan) instead
            # of sort-shuffle + write + referenced re-read
            delete_files, referenced = self._write_pos_deletes_rows(
                matches.collect()
            )
        else:
            delete_files, referenced = self._write_pos_deletes(matches)
        if not delete_files:  # nothing matched: no commit
            return self.log.read_entry(self.log.latest_version())
        return self._commit_mor(
            "delete", delete_files, referenced, {"delete-mode": "merge-on-read"}
        )

    def equality_delete(self, values: DataFrame, cols: list[str]) -> LogEntry:
        """Equality DELETE (Iceberg content=2, guide :336-340): commit a
        delete file holding the distinct `cols` tuples of `values`; any
        data row in a file OLDER than this commit that matches one
        null-safely is deleted at read time. No data scan at all —
        O(delete rows) written, which is why CDC/streaming writers (the
        Flink path in Iceberg) use equality deletes: deleting a key
        costs the same whether the table is 1 GB or 100 TB. The
        sequence rule means rows (re-)appended AFTER this commit with
        the same key values are NOT deleted."""
        schema = self.schema() or self._schema()
        types = {f.name: f.dataType for f in schema.fields}
        unknown = sorted(set(cols) - set(types))
        if unknown:
            raise ValueError(f"equality_delete on unknown column(s) {unknown}")
        if not cols:
            raise ValueError("equality_delete needs at least one column")
        rows = values.select(
            *[F.col(c).cast(types[c]).alias(c) for c in cols]
        ).distinct()
        # global sort, AQE-sized output: a handful of deleted keys is
        # ONE delete file, not defaultParallelism near-empty ones
        pre = rows.orderBy(*cols)
        out_dir = os.path.join(self.data_dir, f"v{uuid.uuid4().hex[:12]}")
        pre.write.mode("error").parquet(out_dir)
        files = self._scan_written(out_dir)
        if sum(fi.row_count for fi in files) == 0:
            self.io.rmtree(out_dir)
            return self.log.read_entry(self.log.latest_version())
        delete_files = tuple(
            _dc_replace(fi, content=2, eq_cols=list(cols))
            for fi in files
            if fi.row_count
        )
        for fi in files:
            if not fi.row_count:
                self.io.remove(os.path.join(self.table_dir, fi.path))

        def make(version: int) -> LogEntry:
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="delete",
                added_files=tuple(_dc_replace(fi, seq=version, name_epoch=version) for fi in delete_files),
                extra={"delete-mode": "equality"},
            )

        return self.log.append(make)

    def update_where(
        self,
        assignments: dict[str, object],
        condition,
        mode: str | None = None,
        ref: str | None = None,
        extra: dict | None = None,
    ) -> LogEntry:
        """Row-level UPDATE ... SET ... WHERE, in either Iceberg v2 mode
        (`mode` defaults to the `write.update.mode` property,
        copy-on-write when unset):

        - copy-on-write: only files containing a matching row are
          rewritten — matched rows get the assignments applied,
          unmatched rows in those files carry over verbatim, untouched
          files stay referenced as-is.
        - merge-on-read: ONE commit adding a position-delete file
          tombstoning the matched rows' old positions plus data file(s)
          holding their updated versions — exactly Iceberg's v2 UPDATE
          shape (a delete-file + data-file pair,
          SPARK_ICEBERG_GUIDE.md:336-340). O(matched rows) written;
          unmatched rows in the same files are never copied.

        `assignments` maps column name -> SQL expression string (or
        Column); expressions see the pre-update row, as SQL requires
        (`SET a = b, b = a` swaps)."""
        props = self.log.properties_at()
        mode = mode or props.get(PROP_UPDATE_MODE, "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(
                f"write.update.mode must be copy-on-write or merge-on-read, got {mode!r}"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        schema = self.schema() or self._schema()
        known = {f.name for f in schema.fields}
        bad = sorted(set(assignments) - known)
        if bad:
            raise ValueError(f"UPDATE of unknown column(s) {bad}; table has {sorted(known)}")
        if ref is not None and mode == "merge-on-read":
            # same scoping rule as delete_where(ref=): branch row-level
            # ops stay copy-on-write so the merge replay is plain files
            raise ValueError(
                "merge-on-read UPDATE is not supported on a branch; "
                "use copy-on-write (mode='copy-on-write') or merge first"
            )
        if mode == "merge-on-read":
            return self._mor_update(assignments, cond, schema)
        fingerprint = self._deletes_fingerprint(ref=ref)
        tagged = self._tagged_read(ref=ref)
        affected = self._affected_files(tagged.filter(cond))
        if not affected:  # nothing matched: no commit, table unchanged
            return self.log.read_entry(self.log.latest_version())
        # single projection evaluated against the PRE-update row: every
        # assignment sees original values even when columns reference
        # each other, and each file's rows rewrite in one pass
        exprs = []
        for f in schema.fields:
            if f.name in assignments:
                a = assignments[f.name]
                new_val = F.expr(a) if isinstance(a, str) else a
                exprs.append(
                    F.when(cond, new_val.cast(f.dataType)).otherwise(F.col(f.name)).alias(f.name)
                )
            else:
                exprs.append(F.col(f.name))
        rewritten = self._read_rel(affected, ref=ref).select(*exprs)
        input_bytes = self._logged_bytes(affected, ref=ref)
        if ref is None and self._live_rows_small(cap=_LOCAL_VALUES_MAX):
            rewritten = self._localize_commit_frame(rewritten)
            input_bytes = None
        return self._commit_write(
            rewritten,
            operation="update",
            removed=tuple(affected),
            input_bytes=input_bytes,
            deletes_fingerprint=fingerprint,
            branch=ref,
            extra=extra,
        )

    def _mor_update(self, assignments: dict, cond, schema: T.StructType) -> LogEntry:
        """Merge-on-read UPDATE: tombstone each matched row's old
        position and append its updated version — one atomic commit of
        a content=1 file plus data file(s). Matched rows are read once
        (condition is TRUE on every row, so assignments apply
        unconditionally); the tombstone write and the data write are
        two jobs over that filtered scan."""
        tagged = self._tagged_read()
        matched = tagged.filter(cond)
        src = matched
        # cap at the VALUES limit: the updated rows re-enter via
        # local_df, which only stays a pure-JVM LocalRelation that far
        if self._live_rows_small(cap=_LOCAL_VALUES_MAX):
            # lifecycle-scale table: collect the matched rows ONCE —
            # tombstones come straight from their (__file, __pos), and
            # the updated versions re-enter as a LocalRelation so the
            # data write takes the pyarrow fast path too. One job
            # total instead of tombstone-sort + tombstone-write +
            # referenced re-read + data write.
            mrows = matched.collect()
            delete_files, referenced = self._write_pos_deletes_rows(
                [(r["__file"], r["__pos"]) for r in mrows]
            )
            names = [f.name for f in schema.fields]
            src = local_df(
                self.spark, [tuple(r[c] for c in names) for r in mrows], schema
            )
        else:
            delete_files, referenced = self._write_pos_deletes(
                matched.select(
                    F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
                )
            )
        if not delete_files:  # nothing matched: no commit
            return self.log.read_entry(self.log.latest_version())
        exprs = []
        for f in schema.fields:
            if f.name in assignments:
                a = assignments[f.name]
                new_val = F.expr(a) if isinstance(a, str) else a
                exprs.append(new_val.cast(f.dataType).alias(f.name))
            else:
                exprs.append(F.col(f.name))
        try:
            # updated rows are bounded by the referenced files' bytes;
            # the LocalRelation fast path measures its own bytes
            data_files = self._write_files(
                src.select(*exprs),
                input_bytes=(
                    None if src is not matched else self._logged_bytes(referenced)
                ),
            )
        except BaseException:
            for fi in delete_files:  # tombstones already staged
                try:
                    self.io.remove(os.path.join(self.table_dir, fi.path))
                except OSError:
                    pass
            raise
        return self._commit_mor(
            "update",
            data_files + delete_files,
            referenced,
            {"update-mode": "merge-on-read"},
        )

    def _logged_bytes(self, rel_paths, ref: str | None = None) -> int:
        state = (
            self.log.state_at_branch(ref) if ref is not None else self.log.state_at()
        )
        return sum(state[p].size_bytes for p in rel_paths if p in state)

    def merge(
        self,
        source: DataFrame,
        key_cols: list[str],
        extra: dict | None = None,
        mode: str | None = None,
        ref: str | None = None,
    ) -> LogEntry:
        """MERGE (upsert, full-row): target rows whose key appears in
        `source` are replaced by the source row; unmatched source rows
        insert. `mode` defaults to the `write.merge.mode` property
        (copy-on-write when unset):

        - copy-on-write: only files containing a matched key rewrite
          (their unmatched rows carry over), plus one write of `source`
          itself. Keys are broadcast when small; the anti join runs
          only over the affected files' rows.
        - merge-on-read: matched target rows are TOMBSTONED (content=1
          position deletes) and the whole source appends — the
          streaming-upsert shape: O(source) written per merge no matter
          how many target files hold matched keys, at the price of the
          read-side anti-join until compaction folds it.
        """
        props = self.log.properties_at()
        mode = mode or props.get(PROP_MERGE_MODE, "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(
                f"write.merge.mode must be copy-on-write or merge-on-read, got {mode!r}"
            )
        if ref is not None and mode == "merge-on-read":
            # same rule as branch DELETE/UPDATE: branch row-level ops
            # stay copy-on-write so merge_branch replays plain files
            raise ValueError(
                "merge-on-read MERGE is not supported on a branch; "
                "use copy-on-write (mode='copy-on-write') or merge first"
            )
        self._check_merge_cardinality(source, key_cols)
        state = (
            self.log.state_at_branch(ref) if ref is not None else self.log.state_at()
        )
        if not state:
            return self.append(source, extra=extra, ref=ref)
        if mode == "merge-on-read":
            return self._mor_merge(source, key_cols, extra)
        fingerprint = self._deletes_fingerprint(ref=ref)
        keys = source.select(*key_cols).distinct()
        tagged = self._tagged_read(ref=ref)
        matched = tagged.join(F.broadcast(keys), key_cols, "left_semi")
        affected = self._affected_files(matched)
        if affected:
            # schema-aware, deletes-applied read: pre-evolution files
            # project added columns as null, merge-on-read tombstones
            # stay deleted, and carried rows union cleanly with source
            carried = self._read_rel(affected, ref=ref).join(
                F.broadcast(keys), key_cols, "left_anti"
            )
            new_data = carried.unionByName(source)
        else:
            new_data = source
        input_bytes = self._merge_input_bytes(affected, source)
        if ref is None and self._live_rows_small(cap=_LOCAL_VALUES_MAX):
            # carried rows are metadata-bounded by the gate; the MERGE
            # source may still be big — _localize_commit_frame hands
            # the frame back to the Spark writer in that case
            localized = self._localize_commit_frame(new_data)
            if localized is not new_data:
                new_data, input_bytes = localized, None
        return self._commit_write(
            new_data,
            operation="merge",
            removed=tuple(affected),
            input_bytes=input_bytes,
            extra=extra,
            deletes_fingerprint=fingerprint,
            branch=ref,
        )

    def _mor_merge(
        self, source: DataFrame, key_cols: list[str], extra: dict | None
    ) -> LogEntry:
        """Merge-on-read MERGE: tombstone every target row whose key
        appears in source, append the full source — one atomic commit.
        Work is O(source + matched rows' positions); no target data
        file is rewritten."""
        schema = self.schema() or self._schema()
        missing = [f.name for f in schema.fields if f.name not in source.columns]
        if missing:
            raise ValueError(f"MERGE source is missing table columns {missing}")
        keys = source.select(*key_cols).distinct()
        tagged = self._tagged_read()
        matched = tagged.join(F.broadcast(keys), key_cols, "left_semi")
        delete_files, referenced = self._write_pos_deletes(
            matched.select(F.col("__file").alias("file_path"), F.col("__pos").alias("pos"))
        )
        aligned = source.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        try:
            data_files = self._write_files(
                aligned, input_bytes=self._merge_input_bytes([], source)
            )
        except BaseException:
            for fi in delete_files:
                try:
                    self.io.remove(os.path.join(self.table_dir, fi.path))
                except OSError:
                    pass
            raise
        return self._commit_mor(
            "merge",
            data_files + delete_files,
            referenced,
            {**(extra or {}), "merge-mode": "merge-on-read"},
        )

    def _check_merge_cardinality(self, source: DataFrame, key_cols: list[str]) -> None:
        """SQL MERGE cardinality rule: a TARGET row may match at most
        ONE source row — duplicate source keys that hit the target
        would otherwise fan the matched row out (one output per match),
        silently duplicating data. Spark/Iceberg MERGE throw the same
        error. Duplicate keys that match nothing are legal (both rows
        simply insert), so the check is two stages: one tiny agg on the
        (small, upsert-side) source, and only if duplicates exist, a
        key-pruned target scan to see whether any duplicate actually
        matches."""
        dups = (
            source.groupBy(*key_cols).count().filter(F.col("count") > 1).drop("count")
        )
        if not dups.take(1):
            return
        if self.log.state_at():
            clash = (
                self.read()
                .select(*key_cols)
                .join(F.broadcast(dups), key_cols, "left_semi")
                .take(1)
            )
        else:
            clash = []
        if clash:
            key = {k: clash[0][k] for k in key_cols}
            raise ValueError(
                f"MERGE source has duplicate rows matching target key {key} — a "
                "target row may match at most one source row (SQL MERGE "
                "cardinality rule)"
            )

    def _merge_input_bytes(self, affected: list[str], source: DataFrame) -> int:
        """Output-size estimate for a merge-shaped commit: carried rows
        are bounded by the affected files' logged bytes; the source
        contributes ~rows x the table's logged bytes/row. One tiny count
        job on the (small, upsert-side) source replaces a full staged
        measurement write."""
        state = self.log.state_at()
        all_files = [fi for fi in state.values() if fi.content == 0]
        total_rows = sum(fi.row_count for fi in all_files)
        bpr = sum(fi.size_bytes for fi in all_files) / max(1, total_rows)
        return self._logged_bytes(affected) + int(source.count() * bpr) + 1

    def merge_when(
        self,
        source: DataFrame,
        key_cols: list[str],
        matched: list[tuple[str | None, str, dict[str, str] | None]],
        not_matched: tuple[str | None, dict[str, str] | None] | None,
        extra: dict | None = None,
    ) -> LogEntry:
        """General MERGE with per-clause semantics (Iceberg v2's
        row-level MERGE, the first DML past the runbook's upsert):

        - `matched`: ordered WHEN MATCHED clauses, each
          `(condition_sql | None, action, assignments)` where action is
          "update" (assignments: target col -> SQL expr) or "delete"
          (assignments None). SQL standard clause semantics: a matched
          row is handled by the FIRST clause whose condition holds;
          later clauses never see it. Expressions see the target row's
          columns by bare name and the source row's as `__src_<name>`
          (the SQL layer rewrites alias qualifiers into these).
        - `not_matched`: `(condition_sql | None, assignments | None)`
          for WHEN NOT MATCHED THEN INSERT; assignments None means
          INSERT * (source columns mapped to target columns by name,
          missing ones null). Expressions see source columns by bare
          name.

        Copy-on-write, same blast radius as merge(): only files holding
        a matched key rewrite; matched rows get their clause applied in
        ONE joined projection (update exprs see the pre-update row);
        unmatched rows in those files carry over; inserts append. The
        source side is broadcast — merges upsert small batches into big
        tables; a source rivaling the table in size should overwrite().
        """
        schema = self.schema() or self._schema()
        tcols = [f.name for f in schema.fields]
        known = set(tcols)
        for cond, action, assigns in matched:
            if action == "update":
                bad = sorted(set(assigns) - known)
                if bad:
                    raise ValueError(f"MERGE UPDATE of unknown column(s) {bad}")
        if not_matched is not None and not_matched[1] is not None:
            bad = sorted(set(not_matched[1]) - known)
            if bad:
                # silently ignoring a typo'd INSERT column would insert
                # NULL into the real column instead of raising
                raise ValueError(f"MERGE INSERT into unknown column(s) {bad}")
        if matched:
            # the cardinality rule protects target rows from being
            # updated/deleted twice; an insert-only MERGE modifies no
            # target row, so duplicate matched keys are simply ignored
            # rows (Spark/Iceberg behave the same way)
            self._check_merge_cardinality(source, key_cols)
        state = self.log.state_at()
        if not state:
            # empty table: every source row is NOT MATCHED
            if not_matched is None:
                return self.log.read_entry(self.log.latest_version())
            return self.append(self._insert_rows(source, schema, not_matched), extra=extra)

        fingerprint = self._deletes_fingerprint()
        affected: list[str] = []
        carried = None
        if matched:
            keys = source.select(*key_cols).distinct()
            tagged = self._tagged_read()
            affected = self._affected_files(
                tagged.join(F.broadcast(keys), key_cols, "left_semi")
            )
        if affected:
            rows = self._read_rel(affected)
            src = source.select(
                *[F.col(c).alias(f"__src_{c}") for c in source.columns],
                F.lit(True).alias("__src_exists"),
            )
            j = rows.join(
                F.broadcast(src),
                # null-rejecting equality, as SQL `ON t.k = s.k` is: a
                # NULL key never matches (NOT eqNullSafe)
                on=[F.col(k) == F.col(f"__src_{k}") for k in key_cols],
                how="left",
            )
            is_matched = F.col("__src_exists").isNotNull()
            # first-matching-clause index (null = no clause applies).
            # Conditions go through coalesce(..., false): SQL's
            # three-valued logic says a NULL condition does NOT select
            # the clause — without the coalesce, one NULL would poison
            # `picked` (false OR null = null) and silently disable every
            # later clause for that row.
            clause = F.lit(None).cast("int")
            picked = F.lit(False)
            for i, (cond, _a, _s) in enumerate(matched):
                c = (
                    F.coalesce(F.expr(cond).cast("boolean"), F.lit(False))
                    if cond
                    else F.lit(True)
                )
                hit = is_matched & c & ~picked
                clause = F.when(hit, F.lit(i)).otherwise(clause)
                picked = picked | hit
            j = j.withColumn("__clause", clause)
            deletes = [i for i, (_c, a, _s) in enumerate(matched) if a == "delete"]
            if deletes:
                j = j.filter(
                    F.col("__clause").isNull() | ~F.col("__clause").isin(deletes)
                )
            exprs = []
            for f in schema.fields:
                e = F.col(f.name)
                for i, (_c, action, assigns) in enumerate(matched):
                    if action == "update" and f.name in assigns:
                        e = F.when(
                            F.col("__clause") == i,
                            F.expr(assigns[f.name]).cast(f.dataType),
                        ).otherwise(e)
                exprs.append(e.alias(f.name))
            carried = j.select(*exprs)

        new_data = carried
        if not_matched is not None:
            # truly-unmatched source rows: anti join against the FULL
            # target's keys (column-pruned scan — only key columns read)
            unmatched = source.join(
                self.read().select(*key_cols), key_cols, "left_anti"
            )
            ins = self._insert_rows(unmatched, schema, not_matched)
            new_data = carried.unionByName(ins) if carried is not None else ins

        if new_data is None:  # matched clauses only, nothing matched
            return self.log.read_entry(self.log.latest_version())
        return self._commit_write(
            new_data,
            operation="merge",
            removed=tuple(affected),
            input_bytes=self._merge_input_bytes(affected, source),
            extra=extra,
            deletes_fingerprint=fingerprint,
        )

    @staticmethod
    def _insert_rows(
        unmatched: DataFrame,
        schema: T.StructType,
        not_matched: tuple[str | None, dict[str, str] | None],
    ) -> DataFrame:
        cond, assigns = not_matched
        if cond:
            unmatched = unmatched.filter(F.expr(cond))
        if assigns is None:  # INSERT *: map source -> target by name
            return unmatched.select(
                *[
                    (
                        F.col(f.name) if f.name in unmatched.columns else F.lit(None)
                    ).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
        return unmatched.select(
            *[
                (
                    F.expr(assigns[f.name]) if f.name in assigns else F.lit(None)
                ).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def _commit_write(
        self,
        df: DataFrame,
        operation: str,
        removed: tuple[str, ...],
        input_bytes: int | None = None,
        extra: dict | None = None,
        deletes_fingerprint: tuple[str, ...] | None = None,
        extra_validation=None,
        branch: str | None = None,
        validation_state=None,
    ) -> LogEntry:
        files = self._write_files(df, input_bytes=input_bytes)

        def make(version: int) -> LogEntry:
            # Iceberg-style commit validation: `removed` was planned
            # against the state BEFORE this commit loop; if a racing
            # commit (compaction replace, another delete) already
            # removed any of those files, committing stale removals
            # would resurrect/duplicate rows. make() re-runs on every
            # optimistic retry, so this check always sees the state the
            # commit will actually apply to. A branch commit validates
            # against the BRANCH lineage state — the files it plans
            # against live there, not on main. `validation_state`
            # overrides the state source entirely: a multi-table
            # transaction staging its SECOND write on a table must
            # validate against main + its own earlier staged entries
            # (invisible to every ordinary fold until the marker flips).
            if validation_state is not None:
                live = validation_state()
            else:
                live = (
                    self.log.state_at_branch(branch)
                    if branch is not None
                    else self.log.state_at()
                )
            if removed:
                gone = [p for p in removed if p not in live]
                if gone:
                    raise CommitConflictError(
                        f"{operation} on {self.identifier}: {len(gone)} planned "
                        f"removed file(s) no longer live (e.g. {gone[0]!r}) — a "
                        "concurrent commit replaced them; re-plan from the new state"
                    )
                if branch is None:
                    self._check_pending_txn_claims(operation, removed)
            if deletes_fingerprint is not None:
                now_deletes = tuple(
                    sorted(p for p, fi in live.items() if fi.content != 0)
                )
                if now_deletes != deletes_fingerprint:
                    raise CommitConflictError(
                        f"{operation} on {self.identifier}: the delete-file set "
                        "changed since this rewrite was planned (a concurrent "
                        "merge-on-read DELETE or delete-file rewrite) — the "
                        "planned output would drop or resurrect tombstones; "
                        "re-plan from the new state"
                    )
            if extra_validation is not None:
                extra_validation(live)  # raises CommitConflictError
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation=operation,
                # stamp the data sequence number (= committing version):
                # equality deletes compare against it, and checkpoints/
                # rollbacks carry it verbatim
                added_files=tuple(_dc_replace(fi, seq=version, name_epoch=version) for fi in files),
                removed_files=removed,
                extra=extra,
            )

        return self.log.append(make, branch=branch)

    def _write_files(
        self, df: DataFrame, input_bytes: int | None = None, shaped: bool = False
    ) -> tuple[FileInfo, ...]:
        """Write df as parquet honoring `write.target-file-size-bytes`
        and `write.distribution-mode` (guide :108-109, :324-328).
        Files land in a unique per-commit subdir (no renames; uncommitted
        dirs are what `remove_orphan_files` sweeps).

        Sizing semantics match Iceberg's rolling writers: the target is
        a per-file CAP, not a bin-packing goal — an append never
        coalesces below the input's natural partitioning (tiny inserts
        produce tiny files; that small-file problem is precisely what
        `rewrite_data_files` exists to fix, guide :142-163 vs :228-240).
        We measure-then-shape: write naturally, and only if measured
        compressed bytes say files exceed the cap, split by rewriting at
        ceil(total/target). Catalyst's plan-size estimate is useless for
        this (literal/unknown plans report 8 EiB). Compaction passes
        exact logged bytes and skips staging entirely.
        """
        props = self.log.properties_at()
        target = int(props.get(PROP_TARGET_FILE_SIZE, DEFAULT_TARGET_FILE_SIZE))
        mode = props.get(PROP_DISTRIBUTION_MODE, "none")
        hash_cols = [c.strip() for c in props.get(PROP_HASH_COLUMNS, "").split(",") if c.strip()]

        if (
            not shaped
            and input_bytes is None
            and mode == "none"
            and not props.get(PROP_SORT_ORDER, "")
            and not props.get(PROP_PARTITION_SPEC)
        ):
            fast = self._write_files_local(df, target)
            if fast is not None:
                return fast

        def ordered(frame: DataFrame, prefix: tuple[str, ...] = ()) -> DataFrame:
            """`write.sort-order`: in-partition sort just before the
            write — a per-partition sort (no extra shuffle), enough for
            tight per-FILE footer ranges, which is all stats pruning
            reads. Shaped writes skip this (the caller's clustering —
            e.g. zorder — wins). `prefix` carries the hive partition
            columns on spec-partitioned writes: the dynamic-partition
            writer requires rows sorted by partition columns and would
            re-sort (destroying our order) unless they lead the sort."""
            so = props.get(PROP_SORT_ORDER, "")
            cols = []
            for part in so.split(","):
                toks = part.split()
                if not toks:
                    continue
                c = F.col(toks[0])
                cols.append(
                    c.desc() if len(toks) > 1 and toks[1].lower() == "desc" else c
                )
            if not cols:
                return frame
            return frame.sortWithinPartitions(*[F.col(p) for p in prefix], *cols)

        def shape(frame: DataFrame, n: int) -> DataFrame:
            # always a repartition, never coalesce(1): coalesce pushes
            # the single-partition constraint up through the whole input
            # plan, serializing broadcast-join stages (measured 3.1 s vs
            # 0.66 s for an 18-row merge output at sf0.1); adjacent
            # repartitions (compaction pre-shapes its read) collapse
            # into one shuffle via Catalyst's CollapseRepartition
            if mode == "hash":
                cols = hash_cols or frame.columns[:1]
                return frame.repartition(n, *[F.col(c) for c in cols])
            if mode == "range":
                # Iceberg's range distribution: files hold DISJOINT key
                # ranges (keys from write.sort-order, else hash-columns,
                # else the first column), so footer min/max prune hard
                # from the first write — the write-time half of what
                # sort-strategy compaction does after the fact
                so = props.get(PROP_SORT_ORDER, "")
                cols = [p.split()[0] for p in so.split(",") if p.strip()] or (
                    hash_cols or frame.columns[:1]
                )
                return frame.repartitionByRange(n, *[F.col(c) for c in cols])
            return frame.repartition(n)

        def write_dir(frame: DataFrame) -> str:
            out = os.path.join(self.data_dir, f"v{uuid.uuid4().hex[:12]}")
            (frame if shaped else ordered(frame)).write.mode("error").parquet(out)
            return out

        scan = self._scan_written

        spec_raw = props.get(PROP_PARTITION_SPEC)
        if spec_raw:
            # partition-spec table: Spark's native partitionBy lays the
            # files out under hive dirs per transform value. Unshaped
            # writes repartition on the transform columns first (one
            # shuffle -> one file per partition per write; oversized
            # partitions are compaction's job, per-partition like
            # Iceberg). Shaped writes (compaction groups — already
            # single-partition row sets) keep the caller's clustering
            # and just add the transform columns. The target-file-size
            # cap does not re-split here: partition grain governs
            # layout, exactly as Iceberg's fanout writer.
            spec = _part.parse_spec(spec_raw)
            pnames = [t.pname for t in spec]
            aug = df.select(
                "*", *[t.expr(df).alias(t.pname) for t in spec]
            )
            if not shaped:
                if mode == "range":
                    # range distribution UNDER a partition spec: range-
                    # shuffle on (partition cols, sort keys) so each
                    # hive partition's files hold disjoint key ranges —
                    # partition pruning AND stats pruning compose
                    so = props.get(PROP_SORT_ORDER, "")
                    rcols = [p.split()[0] for p in so.split(",") if p.strip()] or hash_cols
                    aug = aug.repartitionByRange(
                        *[F.col(n) for n in pnames], *[F.col(c) for c in rcols]
                    )
                else:
                    aug = aug.repartition(*[F.col(n) for n in pnames])
                aug = ordered(aug, prefix=tuple(pnames))
            out = os.path.join(self.data_dir, f"v{uuid.uuid4().hex[:12]}")
            aug.write.mode("error").partitionBy(*pnames).parquet(out)
            return scan(out)

        if shaped:
            # caller already partitioned/sorted the frame (e.g. sort-
            # strategy compaction via repartitionByRange): re-shaping
            # here would collapse the caller's clustering back into a
            # round-robin shuffle, so write it as-is
            return scan(write_dir(df))

        if input_bytes is not None:
            n_files = max(1, math.ceil(input_bytes / target))
            return scan(write_dir(shape(df, n_files)))

        # hash mode pre-shuffles the staged write too so even the
        # measurement pass is clustered; partition count comes from the
        # scheduler's parallelism — df.rdd.getNumPartitions() would
        # force an RDD conversion (plan compilation + codegen barrier)
        # just to count partitions
        n_staged = self.spark.sparkContext.defaultParallelism
        # hash AND range modes pre-shuffle the staged write so even the
        # measurement pass is clustered (a small range write that needs
        # no split must STILL come out range-clustered)
        staged_dir = write_dir(df if mode == "none" else shape(df, n_staged))
        staged = scan(staged_dir)
        total = sum(fi.size_bytes for fi in staged)
        n_split = math.ceil(total / target)
        if n_split <= len(staged):
            return staged  # every file is at/under the cap (modulo skew)
        reshaped = shape(self.spark.read.parquet(staged_dir), n_split)
        final = scan(write_dir(reshaped))
        self.io.rmtree(staged_dir)
        return final

    def _write_files_local(self, df: DataFrame, target: int):
        """Fast path for driver-held tiny commits: write the rows as
        pyarrow parquet -- one file, or one per hash partition of a
        `repartition(n, cols)` -- skipping Spark's ~200 ms per-write
        job-scheduling + committer-rename floor (fastwrite.py has the
        fidelity contract).

        Where the rows come from:
        - the frame `localrows.local_df` built from Arrow carries them
          (`carried_rows`): no py4j call at all -- no plan inspection,
          no collect. Only that exact object carries rows, so a derived
          frame (filter, select, `_align_for_write`'s cast) takes the
          next route;
        - any other frame whose optimized plan is a LocalRelation (or
          `repartition(n, cols)` over one) is collected, which runs no
          Spark job.

        Returns None whenever the write isn't eligible -- a custom
        FileIO or non-local path, scan-backed plan, more than
        `fastwrite.MAX_ROWS` rows, unsupported type, over the target
        file size -- and the caller proceeds with the Spark writer. An
        empty frame writes one empty schema-bearing file, exactly like
        the Spark writer, so the files metadata view cannot tell them
        apart."""
        if "://" in self.table_dir or type(self.io) is not LocalFileIO:
            # the direct os/pyarrow writes below bypass self.io; a
            # custom FileIO wrapping plain local paths (arbitration,
            # fault injection) must keep the Spark-writer path so its
            # interposition still sees every byte
            return None
        part_cols: list[str] | None = None
        n_parts = 0
        rows = carried_rows(df)
        if rows is None:
            local = self._collect_local(df)
            if local is None:
                return None
            df, rows, part_cols, n_parts = local
        if len(rows) > fastwrite.MAX_ROWS:
            return None
        if not rows:
            # Spark's FileFormatWriter special-cases a fully empty frame:
            # ONE empty schema-bearing file, regardless of repartitioning
            # (verified against both the scan-empty and local-empty
            # shapes). Claim it: a delete_where that empties its affected
            # files commits 0 survivor rows without a Spark job.
            groups = [(0, rows)]
        elif part_cols is None:
            groups = [(0, rows)]
        else:
            pids = fastwrite.spark_partition_ids(rows, df.schema, part_cols, n_parts)
            if pids is None:
                return None
            by_pid: dict[int, list] = {}
            for r, pid in zip(rows, pids):
                by_pid.setdefault(pid, []).append(r)
            # file names carry the ACTUAL shuffle partition id, like the
            # Spark writer's task numbering (empty partitions write no
            # file, so indices may have gaps — exactly like Spark)
            groups = [(p, by_pid[p]) for p in sorted(by_pid)]
        tables = []
        for pid, g in groups:
            tbl = fastwrite.rows_to_arrow(g, df.schema)
            if tbl is None or tbl.nbytes > target:
                return None
            tables.append((pid, tbl))
        out = os.path.join(self.data_dir, f"v{uuid.uuid4().hex[:12]}")
        os.makedirs(out, exist_ok=True)
        for pid, tbl in tables:
            fastwrite.write_rows(
                tbl, os.path.join(out, f"part-{pid:05d}-{uuid.uuid4().hex[:12]}.parquet")
            )
        return self._scan_written(out)

    def _collect_local(self, df: DataFrame):
        """`(frame, rows, hash key columns, partition count)` for a
        frame whose optimized plan is a LocalRelation, or
        `repartition(n, cols)` over one (then `frame` is the
        LocalRelation child and the keys are set); None for any other
        plan."""
        part_cols: list[str] | None = None
        n_parts = 0
        try:
            plan = df._jdf.queryExecution().optimizedPlan()
            cls = plan.getClass().getSimpleName()
            if cls == "RepartitionByExpression":
                # repartition(n, cols) over a driver-known frame (r15):
                # the shuffle only decides row->file placement, which
                # fastwrite.spark_partition_ids reproduces bit-exactly
                # (Murmur3 seed-42 pmod — parity-tested vs F.hash), so
                # the multi-file write needs no job either. Only plain
                # column keys are claimed; computed keys fall back.
                child = plan.child()
                if child.getClass().getSimpleName() != "LocalRelation":
                    return None
                if not plan.optNumPartitions().isDefined():
                    # repartition(cols) WITHOUT an explicit n: AQE may
                    # coalesce the shuffle at runtime (REPARTITION_BY_COL
                    # origin is coalescible), so the Spark writer can
                    # legally produce fewer files than a hash emulation
                    # would — only the user-pinned-n form is claimable
                    return None
                exprs = plan.partitionExpressions()
                part_cols = []
                for i in range(exprs.size()):
                    e = exprs.apply(i)
                    if e.getClass().getSimpleName() != "AttributeReference":
                        return None
                    part_cols.append(e.name())
                n_parts = plan.numPartitions()
                if not part_cols or n_parts < 1:
                    return None
                jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    self.spark._jsparkSession, child
                )
                df = DataFrame(jdf, self.spark)
            elif cls != "LocalRelation":
                return None
        except Exception:
            return None
        # LocalTableScanExec.executeCollect — no job
        return df, df.collect(), part_cols, n_parts

    def _scan_written(self, out_dir: str) -> tuple[FileInfo, ...]:
        """FileInfos for a freshly written commit dir: exact row count +
        column min/max/null-count metrics from one parquet footer read
        per file — no Spark job; these are what scan planning prunes
        against (Iceberg manifests record the same metrics at write
        time). Recursive, so hive partition dirs are walked and each
        file's partition values recorded (the manifest partition
        tuple)."""
        infos = []
        for full in sorted(self.io.walk_files(out_dir)):
            if not full.endswith(".parquet"):
                continue
            rel = self.io.relpath(full, self.table_dir)
            rows, stats = self.io.parquet_file_stats(full)
            infos.append(
                FileInfo(
                    path=rel,
                    size_bytes=self.io.size(full),
                    row_count=rows,
                    stats=stats or None,
                    partition=_part.parse_partition_from_path(rel),
                )
            )
        return tuple(infos)
