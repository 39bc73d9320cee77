"""The `lakehouse_rw` workload: one table lifecycle per pass, checked
against a DuckDB mirror of the same operations.

A pass runs in a fresh warehouse, on lineitem-shaped rows with a unique
key `l_key`:

1. bulk append in two key-range batches;
2. micro-batch commits of 50 rows each (driver-side literal frames, the
   `fastwrite` path), with a read through a fresh `lake.table()` handle
   every 16 commits;
3. MERGE of about 1% of the keys (plus a few new ones), DELETE
   copy-on-write, DELETE merge-on-read;
4. full, pruned (`filters=`) and time-travel reads, `history` and
   `files`, each through a fresh handle;
5. `rewrite_data_files`, `expire_snapshots`, and the reads of step 4
   again except `history`.

The seed picks the rows, the keys and the predicates. After each
operation, outside its timed region, the result is compared with the
mirror: each commit by the live row count its snapshot's metadata
records, each read by a count and integer checksums of the rows it
returns (at the version read, for time travel).
"""

from __future__ import annotations

import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

IDENT = "bench.lineitem"
# count and integer checksums of the live rows, in SQL both engines run
CHECKSUM = (
    "count(*) AS n",
    "sum(l_key) AS k",
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p",
    "sum(l_linenumber * l_partkey) AS q",
)


class Sizes:
    def __init__(self, small: bool):
        self.bulk_rows = 6_000 if small else 20_000
        self.batches = 2
        # micro-commits are most of a pass's operations, so its median
        # latency is a micro-commit's
        self.micro_commits = 12 if small else 32
        self.micro_rows = 50
        self.read_every = 4 if small else 16
        self.retain_last = 5


class LakeWorkload:
    """Inputs made once in setup; `run_pass` replays the lifecycle on a
    fresh warehouse each pass."""

    def __init__(self, spark, tracer, work_dir: str, seed: int, small: bool):
        self.spark = spark
        self.tracer = tracer
        self.sizes = z = Sizes(small)
        in_dir = os.path.join(work_dir, "inputs")
        os.makedirs(in_dir, exist_ok=True)
        rng = random.Random(seed)
        n_micro = z.micro_commits * z.micro_rows
        n_new = max(1, z.bulk_rows // 500)
        rows = datagen.lake_rows(seed, z.bulk_rows + n_micro + n_new)
        pick = np.random.default_rng([seed, 4]).permutation(rows.num_rows)
        bulk = rows.take(np.sort(pick[: z.bulk_rows]))
        micro = rows.take(pick[z.bulk_rows : z.bulk_rows + n_micro])
        new = rows.take(pick[z.bulk_rows + n_micro :])
        self.bulk_paths = []
        step = -(-z.bulk_rows // z.batches)
        for i in range(z.batches):
            path = os.path.join(in_dir, f"bulk_{i}.parquet")
            pq.write_table(bulk.slice(i * step, step), path)
            self.bulk_paths.append(path)
        self.micro_batches = [micro.slice(i * z.micro_rows, z.micro_rows) for i in range(z.micro_commits)]
        self.micro_tuples = [list(zip(*(b.column(c).to_pylist() for c in b.column_names))) for b in self.micro_batches]
        updated = bulk.take(sorted(rng.sample(range(z.bulk_rows), max(1, z.bulk_rows // 100))))
        qty = pa.array(np.asarray(updated.column("l_quantity")) + 1.0)
        price = pa.array(np.round(np.asarray(updated.column("l_extendedprice")) * 1.1, 2))
        updated = updated.set_column(updated.schema.get_field_index("l_quantity"), "l_quantity", qty)
        updated = updated.set_column(updated.schema.get_field_index("l_extendedprice"), "l_extendedprice", price)
        self.merge_path = os.path.join(in_dir, "merge.parquet")
        pq.write_table(pa.concat_tables([updated, new]), self.merge_path)
        part = rng.randrange(0, 2000 - 40)
        self.delete_cow = f"l_partkey BETWEEN {part} AND {part + 39}"
        self.delete_mor = f"l_suppkey = {rng.randrange(0, 100)}"
        keys = bulk.column("l_key").to_pylist()
        lo = rng.randrange(0, len(keys) * 9 // 10)
        self.prune_range = (keys[lo], keys[lo + len(keys) // 10])
        # the pass's user rows, written once by pyarrow: the write_amp denominator
        self.user_path = os.path.join(in_dir, "user_rows.parquet")
        pq.write_table(pa.concat_tables([bulk, micro, updated, new]), self.user_path)
        self.user_bytes = os.path.getsize(self.user_path)
        self.schema = None
        self.mirror = duckdb.connect()
        self.mirror.register("bulk_all", bulk)

    # -- mirror ------------------------------------------------------------
    def _mirror_sum(self, where: str = "") -> tuple:
        return tuple(self.mirror.execute(f"SELECT {', '.join(CHECKSUM)} FROM m {where}").fetchone())

    def _spark_sum(self, df) -> tuple:
        with self.tracer.span("spark", "action"):
            return tuple(df.selectExpr(*CHECKSUM).collect()[0])

    # -- pass ----------------------------------------------------------------
    def run_pass(self, run, pass_dir: str) -> dict:
        """One lifecycle through `run.op`. Returns the byte counts behind
        write_amp and space_amp."""
        from local_datalakehouse_phase2_spark.lakehouse import Lakehouse, maintenance
        from local_datalakehouse_phase2_spark.localrows import local_df

        spark, z = self.spark, self.sizes
        if self.schema is None:
            self.schema = spark.read.parquet(self.bulk_paths[0]).schema
        self.mirror.execute("CREATE OR REPLACE TABLE m AS SELECT * FROM bulk_all LIMIT 0")
        lake = Lakehouse(spark, os.path.join(pass_dir, "warehouse"))
        lake.create_namespace("bench")
        table = lake.create_table(IDENT)
        table_dir = table.table_dir
        at_version: dict[int, tuple] = {}
        written = _ByteTracker(table_dir)
        head = {"version": None, "snapshot": None}

        def committed(entry, expect_rows=None):
            head["version"], head["snapshot"] = entry.version, entry.snapshot_id
            at_version[entry.version] = self._mirror_sum()
            if expect_rows is not None:
                got = sum(f.row_count for f in entry.added_files)
                if got != expect_rows:
                    return f"commit added {got} rows, expected {expect_rows}"
            return None

        def write(name, kind, fn, mirror_sql, expect_rows=None):
            """A commit through the writer's handle, checked against the
            mirror by the live row count of the new snapshot's metadata;
            the reads that follow check the values."""
            def check(entry):
                self.mirror.execute(mirror_sql)
                return committed(entry, expect_rows) or _diff((_live_rows(table.log.state_at(entry.version)),),
                                                              self._mirror_sum()[:1])

            out = run.op(name, kind, fn, check)
            written.scan()
            return out

        def read(name, expected, filters=None, version=None):
            """A checksum read through a fresh handle. Traced passes also
            record, outside the timed region, the files the scan plans
            and the delete files its snapshot carries."""
            if run.corrupt:  # self-test hook: one expected count is off by one
                run.corrupt, expected = False, (expected[0] + 1,) + tuple(expected[1:])
            run.op(name, "read", lambda: self._spark_sum(lake.table(IDENT).read(version=version, filters=filters)),
                   lambda got: _diff(got, expected))
            if run.tracer.enabled:
                fresh = lake.table(IDENT)
                run.records[-1]["scan_files"] = fresh.scan_plan(filters or [], version)["files_scanned"]
                run.records[-1]["delete_files"] = sum(f.content != 0 for f in fresh.log.state_at(version).values())

        # 1. bulk append
        for i, path in enumerate(self.bulk_paths):
            write(f"bulk_append_{i}", "write", lambda p=path: table.append(spark.read.parquet(p)),
                  f"INSERT INTO m SELECT * FROM read_parquet('{path}')")
        bulk_version = head["version"]
        # 2. micro-batch commits with periodic fresh-handle reads
        for i, (batch, tuples) in enumerate(zip(self.micro_batches, self.micro_tuples)):
            self.mirror.register("micro", batch)
            write("micro_commit", "micro", lambda t=tuples: table.append(local_df(spark, t, self.schema)),
                  "INSERT INTO m SELECT * FROM micro", expect_rows=len(tuples))
            if (i + 1) % z.read_every == 0:
                read("micro_read", self._mirror_sum())
        # 3. row-level DML
        write("merge", "write", lambda: table.merge(spark.read.parquet(self.merge_path), ["l_key"]),
              f"DELETE FROM m WHERE l_key IN (SELECT l_key FROM read_parquet('{self.merge_path}')); "
              f"INSERT INTO m SELECT * FROM read_parquet('{self.merge_path}')")
        write("delete_cow", "write", lambda: table.delete_where(self.delete_cow, mode="copy-on-write"),
              f"DELETE FROM m WHERE {self.delete_cow}")
        write("delete_mor", "write", lambda: table.delete_where(self.delete_mor, mode="merge-on-read"),
              f"DELETE FROM m WHERE {self.delete_mor}")
        # 4./5. reads, maintenance, reads again
        for phase in ("", "_after_maint"):
            if phase:
                before = table.log.state_at()
                run.op("rewrite_data_files", "write", lambda: maintenance.rewrite_data_files(table),
                       lambda out: _diff((_live_rows(table.log.state_at()),), self._mirror_sum()[:1]))
                removed = set(before) - set(table.log.state_at())
                run.records[-1]["files_removed"] = len(removed)
                run.records[-1]["bytes_rewritten"] = sum(before[p].size_bytes for p in removed)
                written.scan()
                run.op("expire_snapshots", "write",
                       lambda: maintenance.expire_snapshots(table, retain_last=z.retain_last),
                       lambda out: None if out["expired_snapshots"] > 0 else "no snapshot expired")
                written.scan()
                head["version"] = table.log.latest_version()
                head["snapshot"] = table.log.read_entry(head["version"]).snapshot_id
                at_version[head["version"]] = self._mirror_sum()
            lo, hi = self.prune_range
            read("full_read" + phase, self._mirror_sum())
            read("pruned_read" + phase, self._mirror_sum(f"WHERE l_key >= {lo} AND l_key < {hi}"),
                 filters=[("l_key", ">=", lo), ("l_key", "<", hi)])
            tt = bulk_version if not phase else max(v for v in at_version if v < head["version"])
            read("time_travel_read" + phase, at_version[tt], version=tt)
            if not phase:
                run.op("history", "read", lambda: lake.table(IDENT).history().collect(),
                       lambda rows: _check_history(rows, head["snapshot"]))
            run.op("files" + phase, "read", lambda: lake.table(IDENT).files().collect(),
                   lambda rows: _check_files(rows, self._mirror_sum()[0]))
        live_path = os.path.join(pass_dir, "live_rows.parquet")
        pq.write_table(self.mirror.execute("SELECT * FROM m").arrow(), live_path)
        return {
            "write_amp": written.total / self.user_bytes,
            "space_amp": _dir_bytes(table_dir) / os.path.getsize(live_path),
        }


def _diff(got: tuple, expected: tuple) -> str | None:
    got = tuple(None if v is None else int(v) for v in got)
    expected = tuple(None if v is None else int(v) for v in expected)
    return None if got == expected else f"checksum {got} != mirror {expected}"


def _check_history(rows, snapshot_id) -> str | None:
    if not rows or not all(r["is_current_ancestor"] for r in rows):
        return "history has no rows or a snapshot off the current lineage"
    newest = max(r["snapshot_id"] for r in rows)
    return None if newest == snapshot_id else f"history head {newest} != {snapshot_id}"


def _live_rows(state) -> int:
    """Rows of the data files less the rows their position deletes remove."""
    return sum(f.row_count if f.content == 0 else -f.row_count for f in state.values())


def _check_files(rows, live_rows) -> str | None:
    data = sum(r["record_count"] for r in rows if r["content"] == 0)
    deleted = sum(r["record_count"] for r in rows if r["content"] == 1)
    return None if data - deleted == live_rows else f"files: {data} - {deleted} rows != {live_rows} live"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class _ByteTracker:
    """Bytes written under a directory: every file seen new, or changed, since the last scan."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict[str, tuple[int, int]] = {}
        self.total = 0
        self.scan()

    def scan(self) -> None:
        for d, _, files in os.walk(self.root):
            for f in files:
                path = os.path.join(d, f)
                try:
                    st = os.stat(path)
                except FileNotFoundError:
                    continue
                sig = (st.st_size, st.st_mtime_ns)
                if self.seen.get(path) != sig:
                    self.seen[path] = sig
                    self.total += st.st_size
