"""FileIO: the lakehouse's storage abstraction (reference S8).

The reference deployment stores tables on an S3-compatible object
store via Hadoop's S3A connector (reference spark/conf/
spark-defaults.conf:15-20); locally everything is plain files. All
metadata/maintenance file handling in the lakehouse layer goes
through this interface — mirroring Iceberg's own `FileIO` seam — so
the transaction log, writers, and maintenance procedures are
path-scheme-agnostic:

- `LocalFileIO`: direct `os` calls; the default and what every test
  exercises.
- `HadoopFileIO`: routes through the JVM Hadoop `FileSystem` API that
  Spark already carries (`spark._jvm`), so the SAME code paths work on
  `hdfs://`, `s3a://`, or `file:` URIs. Instantiable and tested
  locally because Hadoop's `LocalFileSystem` serves `file:` paths.

Commit arbitration. Every commit race goes through `create_exclusive`
(at most one winner per path), and a log-entry commit also goes
through `create_exclusive_guarded`, whose checkpoint-floor check must
be one step with the create against `remove_arbitrated` freeing the
slot. Where that comes from depends on the store:

- A local store arbitrates itself, host-wide. `link(2)` is an atomic
  put-if-absent, and `LocalFileIO`'s guarded create and arbitrated
  remove hold an exclusive `flock(2)` on the entry's directory
  (`FlockMutex`), so every thread and process on the host serializes
  there. Nothing to configure.
- An object store (S3A behind `HadoopFileIO`) has neither: its
  create-no-overwrite is check-then-put and no kernel lock spans the
  writers' hosts. Wrap it as `ArbitratedFileIO(store,
  EndpointMutex(...))`, a lease-and-fence conditional-put service —
  the role Nessie plays in the reference stack (docker-compose.yml:6)
  and a DynamoDB lock table plays for Delta Lake and Iceberg on S3.

Bulk DATA reads/writes do not pass through here: Spark's own readers
and writers (`spark.read.parquet`, `df.write.parquet`) are already
scheme-aware via the same Hadoop connectors.
"""

from __future__ import annotations

import abc
import fcntl
import os
import re
import shutil
import threading
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq


class FileIO(abc.ABC):
    """Minimal file operations the lakehouse metadata layer needs."""

    # --- directories -------------------------------------------------
    @abc.abstractmethod
    def makedirs(self, path: str) -> None: ...

    @abc.abstractmethod
    def listdir(self, path: str) -> list[str]:
        """Names (not paths) of entries directly under `path`;
        empty list if the directory doesn't exist."""

    @abc.abstractmethod
    def walk_files(self, path: str) -> Iterator[str]:
        """Every file path (recursively) under `path`."""

    def relpath(self, full: str, base: str) -> str:
        """`full` relative to `base`, tolerant of scheme-qualified URIs
        on either side (Hadoop file statuses come back as `file:/...`
        or `hdfs://host/...` even when the table was opened with a
        plain path). Callers compare these against log-recorded
        relative paths, so a scheme mismatch here would make every
        live file look unreferenced — which is how an orphan sweep
        turns into data loss."""
        return os.path.relpath(self._strip_scheme(full), self._strip_scheme(base))

    @staticmethod
    def _strip_scheme(p: str) -> str:
        # scheme must be >= 2 chars: a single letter before `:` is a
        # Windows drive (C:/data), not a URI scheme — stripping it
        # would misclassify every file in relpath comparisons (real
        # schemes here — file, hdfs, s3a, abfss — are all >= 2)
        m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]+:(//[^/]*)?(/.*)$", p)
        return m.group(2) if m else p

    @abc.abstractmethod
    def remove_empty_dirs(self, path: str) -> None:
        """Prune now-empty directories under `path` (never `path`)."""

    @abc.abstractmethod
    def rmtree(self, path: str) -> None: ...

    # --- files -------------------------------------------------------
    @abc.abstractmethod
    def exists(self, path: str) -> bool: ...

    @abc.abstractmethod
    def is_dir(self, path: str) -> bool: ...

    @abc.abstractmethod
    def size(self, path: str) -> int: ...

    @abc.abstractmethod
    def mtime(self, path: str) -> float: ...

    @abc.abstractmethod
    def remove(self, path: str) -> None: ...

    @abc.abstractmethod
    def read_text(self, path: str) -> str: ...

    @abc.abstractmethod
    def write_text_atomic(self, path: str, data: str) -> None:
        """Write so readers never observe a partial file."""

    @abc.abstractmethod
    def create_exclusive(self, path: str, data: str) -> bool:
        """Write `data` to `path` iff it does not exist. Returns False
        (without writing) when it already does — the commit-race
        arbiter; see module docstring for scheme-level atomicity.

        CONTRACT (every consumer depends on all three):
        1. At most one of N concurrent calls for the same `path` may
           return True; the rest return False without writing.
        2. A True return means `data` is durably and completely at
           `path` (readers may still observe a torn partial DURING the
           write on stores without atomic create — the reader side
           retries torn JSON, see TransactionLog.read_entry — but
           never after True is returned).
        3. False must mean "path already existed", never a swallowed
           IO error (a commit loop retries False forever).

        Three lakehouse primitives route every race through this one
        method: log-entry commits (log.py append), per-ref advisory
        locks (log.py _with_ref_lock), and multi-table transaction
        markers (transaction.py). On POSIX (link(2)) and HDFS
        (create no-overwrite) the store provides property 1 natively.
        On raw S3, create-no-overwrite is check-then-put: two racers
        can BOTH pass the check and both return True — silently
        losing one commit. An object store must therefore be wrapped
        in `ArbitratedFileIO` with `EndpointMutex`, the conditional-put
        service role (DynamoDB, a catalog's commit endpoint — Iceberg's
        pair-S3-with-a-catalog guidance, which the reference satisfies
        via Nessie, docker-compose.yml:6)."""

    def create_exclusive_guarded(self, path: str, data: str, precondition) -> bool:
        """`create_exclusive`, gated by `precondition()` — the seam that
        closes the expiry/stalled-writer slot-reuse race: a commit
        claiming log version v must verify v is still above the newest
        checkpoint floor AT WRITE TIME, because snapshot expiry deletes
        old entry files and frees their names for O_EXCL re-claim; a
        writer that stalled between choosing v and writing it would
        otherwise land BELOW the table head, invisible to every
        checkpoint-anchored fold (a lost commit;
        tests/test_commit_floor.py).

        The check and the create must be one step against
        `remove_arbitrated` on the same path. `LocalFileIO` and
        `ArbitratedFileIO` make them so with a lock both methods take.
        This base version is check-then-create, which a store with no
        arbiter of its own cannot improve on: such a store must be
        wrapped in `ArbitratedFileIO`."""
        if not precondition():
            return False
        return self.create_exclusive(path, data)

    def remove_arbitrated(self, path: str) -> None:
        """`remove`, serialized with `create_exclusive_guarded` on the
        same path by the store's arbiter (LocalFileIO and
        ArbitratedFileIO override). Only log-entry deletion needs
        this — it serializes slot frees against slot claims; data-file
        deletes stay on the plain `remove` (no name-reuse hazard)."""
        self.remove(path)

    @abc.abstractmethod
    def link_or_copy(self, src: str, dst: str) -> None:
        """Make `dst` hold `src`'s bytes as cheaply as the store allows:
        hard link on POSIX (zero-copy — what makes `add_files` adopt a
        directory of parquet without rewriting it), byte copy
        otherwise."""

    # --- parquet footers ---------------------------------------------
    @abc.abstractmethod
    def parquet_column_names(self, path: str) -> list[str]:
        """Top-level column names from the parquet footer (no data
        read) — `add_files` validates adopted files against the table
        schema with this."""

    @abc.abstractmethod
    def parquet_row_count(self, path: str) -> int:
        """Exact row count from the parquet footer (no Spark job)."""

    @abc.abstractmethod
    def parquet_arrow_schema(self, path: str):
        """Arrow schema reconstructed from the parquet footer (no data
        read) — `add_files` validates adopted files' column TYPES (not
        just names) against the table schema with this."""

    @abc.abstractmethod
    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        """(row_count, column stats) from the parquet footer — the same
        per-file min/max/null-count metrics Iceberg records in manifests
        so scan planning can skip files without opening them. See
        `stats_from_footer` for the value encoding and safety rules."""


# upper bound on recorded string min/max; longer values drop the column's
# stats for that file (Iceberg instead truncates with increment — skipping
# is simpler and equally safe, pruning stays advisory-only)
_MAX_STR_STAT = 120


def _canonical_stat(v):
    """Map a footer statistics value to a JSON-safe, order-preserving
    encoding, or raise ValueError when no safe encoding exists.

    - bool/int: as-is (exact)
    - float: as-is; NaN is unordered => unusable
    - Decimal: float bounds WIDENED one ulp each way so the lossy
      conversion can never tighten the range and mis-prune
    - datetime/date: ISO-8601 string (lexicographic == chronological
      for fixed-width ISO timestamps)
    - str: as-is up to _MAX_STR_STAT chars
    - bytes/everything else: unusable
    """
    import datetime as _dt
    import math as _math
    from decimal import Decimal

    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        if _math.isnan(v):
            raise ValueError("NaN stat")
        return v
    if isinstance(v, Decimal):
        f = float(v)
        if _math.isnan(f) or _math.isinf(f):
            raise ValueError("non-finite decimal")
        return f
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, str):
        if len(v) > _MAX_STR_STAT:
            raise ValueError("oversized string stat")
        return v
    raise ValueError(f"unsupported stat type {type(v).__name__}")


def stats_from_footer(md) -> dict[str, list]:
    """Column min/max/null-count map from a pyarrow FileMetaData.

    Per column: `[min, max, null_count]` with the `_canonical_stat`
    encoding; an all-null column records `[None, None, nulls]` (a
    strong pruning signal: no comparison predicate can match). Columns
    whose footer statistics are missing, non-encodable, or nested are
    omitted — pruning treats missing as "must scan", so omission is
    always safe, never wrong.
    """
    from decimal import Decimal

    out: dict[str, list] = {}
    ncols = md.num_columns
    nested_roots = set()
    per_col: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        for ci in range(ncols):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                nested_roots.add(name.split(".", 1)[0])
                continue
            per_col.setdefault(name, []).append(col)
    for name, chunks in per_col.items():
        if name in nested_roots:
            continue
        mins, maxs, nulls = [], [], 0
        ok = True
        for col in chunks:
            st = col.statistics
            if st is None or st.null_count is None:
                ok = False
                break
            nulls += st.null_count
            if st.num_values == 0:
                continue  # all-null chunk: contributes no bounds
            if not st.has_min_max:
                ok = False
                break
            try:
                # st.min/.max themselves can raise (pyarrow refuses to
                # decode stats for some physical types, e.g. Spark's
                # INT96 timestamps) — treat exactly like non-encodable
                lo, hi = st.min, st.max
                widen = isinstance(lo, Decimal) or isinstance(hi, Decimal)
                lo, hi = _canonical_stat(lo), _canonical_stat(hi)
                if widen:
                    import math as _math

                    lo = _math.nextafter(lo, -_math.inf)
                    hi = _math.nextafter(hi, _math.inf)
            except (ValueError, NotImplementedError, pa.lib.ArrowNotImplementedError):
                ok = False
                break
            mins.append(lo)
            maxs.append(hi)
        if not ok:
            continue
        if mins:
            out[name] = [min(mins), max(maxs), nulls]
        else:
            out[name] = [None, None, nulls]  # column entirely null
    return out


# ---- mutex backend contract ------------------------------------------
#
# A mutex backend for ArbitratedFileIO is any callable
#
#     mutex(path: str) -> context manager
#
# satisfying, at the backend's documented scope (host / multi-host),
# the contract the conformance suite (tests/test_mutex_conformance.py)
# enforces against every registered backend:
#
#   1. EXCLUSION — at most one participant is inside the context for a
#      given canonical path at a time (two spellings of one file must
#      arbitrate as one path: FlockMutex keys on the directory inode,
#      EndpointMutex on the realpath).
#   2. NO RETURN WITHOUT THE LOCK — __enter__ either acquires or
#      raises (e.g. a bounded-wait timeout); it never yields
#      optimistically.
#   3. RELEASE ON EXIT — normal or exceptional exit frees the path for
#      the next waiter.
#   4. CRASH LIVENESS — a holder that dies without releasing must not
#      wedge the path forever. Kernel-mediated backends (flock) get
#      this from automatic release; lease-based backends (endpoint
#      conditional-put: sqlite stand-in, DynamoDB, etcd) must steal
#      holder records older than log.LOCK_STEAL_SECONDS, and a LIVE
#      holder younger than that must never be stolen.
#   5. NON-REENTRANT — like threading.Lock; ArbitratedFileIO never
#      nests acquisitions of one path.
#
# Lease backends and FENCING: a holder stalled PAST the steal horizon
# can overlap its thief; flock cannot exhibit this because release is
# tied to process lifetime. The answer is a fencing token — a per-path
# monotone counter issued on every acquire (insert or steal). A lease
# backend yields a handle whose `validate()` checks, at the endpoint,
# that its token is still the newest and renews the lease;
# ArbitratedFileIO calls it under the hold immediately before each
# protected write, so a stalled holder's late commit raises
# StaleFenceError and the write is NEVER ISSUED. Release re-checks the
# token and raises LockStolenError as the backstop. The residual
# window (a second full-TTL stall between the successful validate and
# the write itself) is the standard lease assumption; media with
# native conditional writes (DynamoDB, S3 conditional PUT, etcd txns)
# close it by checking the token atomically with the put. Operational
# rule: size LOCK_STEAL_SECONDS far above any plausible GC/IO stall,
# and treat LockStolenError as "my commit may not have survived —
# re-plan".


class FlockMutex:
    """Host-wide arbiter: an exclusive `flock(2)` on the directory that
    holds the arbitrated path. `LocalFileIO` takes it for every
    floor-checked commit and every log-entry free; it also serves as an
    `ArbitratedFileIO` backend for stores mounted on one host.

    The kernel serializes `LOCK_EX` on the directory inode across every
    thread and process on the host (the lock belongs to each open file
    description, so two holders in one process exclude each other too),
    and releases it when a holder dies. The inode is canonical: every
    spelling of the directory (symlink, relative path, trailing slash)
    opens the same one. The lock is per directory, not per file, so
    all arbitrated entries of one log directory take turns. That is the
    unit the floor check needs, and each hold is short.

    Host scope only: flock over NFS or a FUSE-mounted bucket is
    advisory at best, so writers on several hosts need `EndpointMutex`
    (the Nessie role in the reference stack, docker-compose.yml:6).

    Not reentrant: a second acquisition of the same directory from
    inside a hold waits on itself forever.
    """

    @contextmanager
    def __call__(self, path: str):
        fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY | os.O_DIRECTORY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)


class LocalFileIO(FileIO):
    """Plain-`os` implementation — the local default. It arbitrates
    itself across every thread and process on the host: `link(2)` makes
    `create_exclusive` atomic, and `_dir_lock` makes the floor-checked
    create one step against `remove_arbitrated`."""

    _dir_lock = FlockMutex()

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def walk_files(self, path: str) -> Iterator[str]:
        for root, _dirs, names in os.walk(path):
            for name in names:
                yield os.path.join(root, name)

    def remove_empty_dirs(self, path: str) -> None:
        for root, dirs, names in list(os.walk(path, topdown=False)):
            if root != path and not dirs and not names:
                try:
                    os.rmdir(root)
                except OSError:
                    pass

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def create_exclusive(self, path: str, data: str) -> bool:
        # write the FULL content to a unique temp file, then hard-link
        # it into place: link(2) fails with EEXIST if the target exists
        # (the exclusivity arbiter) and is atomic, so a concurrent
        # reader either sees no file or the complete entry — never a
        # half-written JSON (open(path, "x") + write has exactly that
        # torn-read window under concurrent commits)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def create_exclusive_guarded(self, path: str, data: str, precondition) -> bool:
        # the put goes through self.create_exclusive, so a subclass's
        # create (and any wrapper installed on it) sees every write
        with self._dir_lock(path):
            if not precondition():
                return False
            return self.create_exclusive(path, data)

    def remove_arbitrated(self, path: str) -> None:
        with self._dir_lock(path):
            self.remove(path)

    def link_or_copy(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)  # zero-copy adoption on the same device
        except OSError:
            shutil.copy2(src, dst)  # cross-device / FS without links

    def parquet_column_names(self, path: str) -> list[str]:
        md = pq.ParquetFile(path).metadata
        return sorted({md.schema.column(i).path.split(".")[0] for i in range(md.num_columns)})

    def parquet_arrow_schema(self, path: str):
        return pq.read_schema(path)

    def parquet_row_count(self, path: str) -> int:
        return pq.ParquetFile(path).metadata.num_rows

    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        md = pq.ParquetFile(path).metadata
        return md.num_rows, stats_from_footer(md)


class EndpointMutex:
    """Single-ENDPOINT conditional-put arbiter for `ArbitratedFileIO` —
    the multi-host backend FlockMutex explicitly is not.

    Acquire = one atomic conditional INSERT of the lock row keyed by
    the canonical path into a shared sqlite database (`BEGIN
    IMMEDIATE` + insert-if-absent, exactly DynamoDB's
    `attribute_not_exists(path)` PutItem, the pattern Iceberg's S3
    lock manager used and the arbitration role the reference stack
    delegates to its Nessie service, docker-compose.yml:6). Two
    "nodes" that share NO filesystem lock directory — only the
    endpoint — serialize here: the database's own locking makes the
    read-check-insert one atomic step, so at most one caller holds a
    path at a time. Release = delete the row.

    A holder row older than `log.LOCK_STEAL_SECONDS` is presumed
    crashed and stolen (same presumption as the ref/merge lock files;
    a real DynamoDB deployment uses a TTL attribute the same way).

    sqlite is the stand-in endpoint so the backend is testable in this
    container; the acquire/release shape is column-for-column what a
    DynamoDB table or an etcd lease needs, and it proves the seam's
    claim: swapping multi-host arbitration in changes ZERO consumer
    code — commits, ref locks, and txn markers still route through the
    one `create_exclusive` method. Not reentrant, like FlockMutex.

    FENCING: every successful acquire (insert or steal) bumps a
    per-path monotone fence row; the yielded handle's `validate()` —
    which ArbitratedFileIO calls right before each protected write —
    checks the fence is still newest inside ONE `BEGIN IMMEDIATE`
    transaction (the DynamoDB condition-expression role) and renews
    the lease on success; release verifies the fence and raises
    `LockStolenError` as the backstop when a thief acquired mid-hold.
    """

    def __init__(self, db_path: str, timeout_s: float = 30.0):
        self.db_path = db_path
        self.timeout_s = timeout_s

    def _connect(self):
        import sqlite3

        con = sqlite3.connect(self.db_path, timeout=self.timeout_s, isolation_level=None)
        con.execute("PRAGMA busy_timeout = %d" % int(self.timeout_s * 1000))
        con.execute(
            "CREATE TABLE IF NOT EXISTS locks ("
            " path TEXT PRIMARY KEY, owner TEXT, acquired_at REAL)"
        )
        # per-path monotone fence counter: never reset, bumped on every
        # successful acquire including steals (Lamport's fencing rule)
        con.execute(
            "CREATE TABLE IF NOT EXISTS lock_fences ("
            " path TEXT PRIMARY KEY, fence INTEGER)"
        )
        return con

    class _SqlFenceHandle:
        __slots__ = ("_con", "_path", "_owner", "fence")

        def __init__(self, con, path: str, owner: str, fence: int):
            self._con = con
            self._path = path
            self._owner = owner
            self.fence = fence

        def validate(self) -> None:
            con = self._con
            con.execute("BEGIN IMMEDIATE")
            try:
                cur = con.execute(
                    "SELECT fence FROM lock_fences WHERE path = ?", (self._path,)
                ).fetchone()
                row = con.execute(
                    "SELECT owner FROM locks WHERE path = ?", (self._path,)
                ).fetchone()
                ok = (
                    cur is not None
                    and cur[0] == self.fence
                    and row is not None
                    and row[0] == self._owner
                )
                if ok:
                    # lease renewal: a holder that just proved it still
                    # owns the newest fence is live by definition
                    con.execute(
                        "UPDATE locks SET acquired_at = ? WHERE path = ? AND owner = ?",
                        (time.time(), self._path, self._owner),
                    )
            finally:
                con.execute("COMMIT")
            if not ok:
                raise StaleFenceError(
                    f"fence {self.fence} on {self._path!r} is stale (endpoint now "
                    f"at {cur[0] if cur else None}): a thief acquired mid-hold — "
                    "the protected write was REJECTED before it was issued"
                )

    @contextmanager
    def __call__(self, path: str):
        import sqlite3

        from . import log as _log

        canon = os.path.realpath(path) if "://" not in path else os.path.normpath(path)
        owner = f"{os.getpid()}-{threading.get_ident()}"
        con = self._connect()
        try:
            deadline = time.monotonic() + self.timeout_s
            fence = None
            while True:
                try:
                    con.execute("BEGIN IMMEDIATE")
                    row = con.execute(
                        "SELECT owner, acquired_at FROM locks WHERE path = ?",
                        (canon,),
                    ).fetchone()
                    now = time.time()
                    if row is None or now - row[1] > _log.LOCK_STEAL_SECONDS:
                        # insert, or steal a crashed holder's row —
                        # either way the fence advances atomically with
                        # the ownership change
                        con.execute(
                            "INSERT INTO lock_fences VALUES (?, 1)"
                            " ON CONFLICT(path) DO UPDATE SET fence = fence + 1",
                            (canon,),
                        )
                        fence = con.execute(
                            "SELECT fence FROM lock_fences WHERE path = ?",
                            (canon,),
                        ).fetchone()[0]
                        if row is None:
                            con.execute(
                                "INSERT INTO locks VALUES (?, ?, ?)",
                                (canon, owner, now),
                            )
                        else:
                            con.execute(
                                "UPDATE locks SET owner = ?, acquired_at = ?"
                                " WHERE path = ? AND owner = ?",
                                (owner, now, canon, row[0]),
                            )
                        con.execute("COMMIT")
                        break
                    con.execute("COMMIT")
                except sqlite3.OperationalError:
                    try:
                        con.execute("ROLLBACK")
                    except sqlite3.OperationalError:
                        pass
                if time.monotonic() >= deadline:
                    raise RuntimeError(
                        f"timed out waiting for endpoint lock on {canon!r}"
                    )
                time.sleep(0.005)
            body_exc: BaseException | None = None
            try:
                yield self._SqlFenceHandle(con, canon, owner, fence)
            except BaseException as e:
                body_exc = e
                raise
            finally:
                con.execute("BEGIN IMMEDIATE")
                try:
                    con.execute(
                        "DELETE FROM locks WHERE path = ? AND owner = ?",
                        (canon, owner),
                    )
                    cur = con.execute(
                        "SELECT fence FROM lock_fences WHERE path = ?", (canon,)
                    ).fetchone()
                finally:
                    con.execute("COMMIT")
                # backstop: skip when the body already reported the
                # steal at write time
                if (
                    cur is not None
                    and cur[0] > fence
                    and not isinstance(body_exc, LockStolenError)
                ):
                    raise LockStolenError(
                        f"lock on {canon!r} was stolen mid-hold (fence {fence} -> "
                        f"{cur[0]}): this writer stalled past LOCK_STEAL_SECONDS "
                        "and its protected operation may have overlapped the "
                        "thief's — treat the outcome as unknown and re-plan"
                    )
        finally:
            con.close()


class LockStolenError(RuntimeError):
    """Raised at RELEASE when the lock endpoint's per-path fence
    advanced past this holder's acquisition — i.e. the holder stalled
    beyond the steal horizon and a thief took the path mid-hold. The
    protected operation may have overlapped the thief's; the caller
    must treat its write as of unknown outcome and re-plan (the loud
    half of the fencing answer; see the contract's clause-4 note)."""


class StaleFenceError(LockStolenError):
    """Raised BEFORE the protected write when the endpoint's
    conditional check (`validate()`) reports the holder's fence is no
    longer the newest for the path — the stalled-holder-past-TTL
    overlap, CLOSED rather than reported: the write was never issued,
    so the thief's committed bytes stand untouched and the stalled
    caller can re-plan from clean state (unlike LockStolenError at
    release, where the outcome is unknown). Subclasses LockStolenError
    so callers treating "my hold was stolen" generically keep
    working."""


class ArbitratedFileIO(FileIO):
    """Route the commit primitives through an external mutex arbiter;
    delegate everything else to the wrapped FileIO.

    The seam for stores that cannot arbitrate themselves: an object
    store's create-no-overwrite is check-then-put, and no kernel lock
    spans its writers' hosts. Under a per-path mutex, check-then-put IS
    compare-and-swap, so the create_exclusive contract's
    at-most-one-winner property is restored without changing a single
    consumer — commits, ref locks, and transaction markers all
    arbitrate through the one method (see FileIO.create_exclusive).
    The floor-checked commit and the log-entry free take the same
    mutex, so they serialize too.

    `mutex(path)` returns a context manager holding exclusive access
    for that path across ALL cooperating writers; see the contract
    above. The production backend is `EndpointMutex`, a lease-and-fence
    conditional-put service (DynamoDB lock table, a catalog's commit
    endpoint — the Nessie role in the reference stack). `FlockMutex`
    also conforms, at host scope.

    FENCE-CHECKED WRITES: when the mutex yields a handle
    (EndpointMutex does), its `validate()` runs under the hold
    immediately before the write. A holder that stalled past
    LOCK_STEAL_SECONDS while a thief took the path gets
    `StaleFenceError` and its write is never issued."""

    def __init__(self, inner: FileIO, mutex):
        self._inner = inner
        self._mutex = mutex

    def create_exclusive(self, path: str, data: str) -> bool:
        return self.create_exclusive_guarded(path, data, lambda: True)

    def create_exclusive_guarded(self, path: str, data: str, precondition) -> bool:
        with self._mutex(path) as handle:
            if handle is not None:
                handle.validate()  # StaleFenceError: write rejected, not issued
            if not precondition():
                return False
            # the inner store's PLAIN create: its guarded create may lock
            # the same directory (LocalFileIO), which this hold would
            # wait on forever under FlockMutex
            return self._inner.create_exclusive(path, data)

    def remove_arbitrated(self, path: str) -> None:
        with self._mutex(path):
            self._inner.remove(path)

    # ---- pure delegation --------------------------------------------
    def makedirs(self, path: str) -> None:
        self._inner.makedirs(path)

    def listdir(self, path: str) -> list[str]:
        return self._inner.listdir(path)

    def walk_files(self, path: str) -> Iterator[str]:
        return self._inner.walk_files(path)

    def remove_empty_dirs(self, path: str) -> None:
        self._inner.remove_empty_dirs(path)

    def rmtree(self, path: str) -> None:
        self._inner.rmtree(path)

    def exists(self, path: str) -> bool:
        return self._inner.exists(path)

    def is_dir(self, path: str) -> bool:
        return self._inner.is_dir(path)

    def size(self, path: str) -> int:
        return self._inner.size(path)

    def mtime(self, path: str) -> float:
        return self._inner.mtime(path)

    def remove(self, path: str) -> None:
        self._inner.remove(path)

    def read_text(self, path: str) -> str:
        return self._inner.read_text(path)

    def write_text_atomic(self, path: str, data: str) -> None:
        self._inner.write_text_atomic(path, data)

    def link_or_copy(self, src: str, dst: str) -> None:
        self._inner.link_or_copy(src, dst)

    def parquet_column_names(self, path: str) -> list[str]:
        return self._inner.parquet_column_names(path)

    def parquet_arrow_schema(self, path: str):
        return self._inner.parquet_arrow_schema(path)

    def parquet_row_count(self, path: str) -> int:
        return self._inner.parquet_row_count(path)

    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        return self._inner.parquet_file_stats(path)


class HadoopFileIO(FileIO):
    """Hadoop `FileSystem`-backed implementation via Spark's JVM.

    Works for any URI scheme the cluster's Hadoop connectors resolve
    (`hdfs://`, `s3a://`, `file:`). Parquet footers are read through a
    seekable Hadoop input stream wrapped for pyarrow, so row counts
    never require pulling a whole data file to the driver.
    """

    def __init__(self, spark) -> None:
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        fs = self._path(p).getFileSystem(self._conf)
        try:
            # no .crc sidecars next to metadata files (ChecksumFileSystem
            # wrapping, e.g. Hadoop's LocalFileSystem); object-store and
            # HDFS impls ignore this
            fs.setWriteChecksum(False)
            fs.setVerifyChecksum(False)
        except Exception:
            pass
        return fs

    def makedirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._path(path))

    def listdir(self, path: str) -> list[str]:
        fs, jp = self._fs(path), self._path(path)
        if not fs.exists(jp):
            return []
        return sorted(st.getPath().getName() for st in fs.listStatus(jp))

    def walk_files(self, path: str) -> Iterator[str]:
        fs, jp = self._fs(path), self._path(path)
        if not fs.exists(jp):
            return
        it = fs.listFiles(jp, True)  # recursive
        while it.hasNext():
            yield it.next().getPath().toString()

    def remove_empty_dirs(self, path: str) -> None:
        fs, jp = self._fs(path), self._path(path)
        if not fs.exists(jp):
            return

        def prune(p) -> bool:  # True => removed
            statuses = fs.listStatus(p)
            empty = True
            for st in statuses:
                if st.isDirectory():
                    if not prune(st.getPath()):
                        empty = False
                else:
                    empty = False
            if empty and p.toString() != jp.toString():
                fs.delete(p, False)
                return True
            return False

        prune(jp)

    def rmtree(self, path: str) -> None:
        self._fs(path).delete(self._path(path), True)

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._path(path))

    def is_dir(self, path: str) -> bool:
        fs, jp = self._fs(path), self._path(path)
        return fs.exists(jp) and fs.getFileStatus(jp).isDirectory()

    def size(self, path: str) -> int:
        return self._fs(path).getFileStatus(self._path(path)).getLen()

    def mtime(self, path: str) -> float:
        # Hadoop reports millis
        return self._fs(path).getFileStatus(self._path(path)).getModificationTime() / 1000.0

    def remove(self, path: str) -> None:
        self._fs(path).delete(self._path(path), False)

    def _read_range(self, path: str, offset: int) -> bytes:
        """Bytes from `offset` to EOF. py4j copies byte arrays by value,
        so reads must RETURN a java byte[] (IOUtils.toByteArray) rather
        than fill a Python-side buffer."""
        fs, jp = self._fs(path), self._path(path)
        stream = fs.open(jp)
        try:
            if offset:
                stream.seek(offset)
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def read_text(self, path: str) -> str:
        return self._read_range(path, 0).decode("utf-8")

    def write_text_atomic(self, path: str, data: str) -> None:
        # write to a sibling temp object, then rename (atomic on HDFS /
        # real filesystems; an overwrite-PUT on object stores, which is
        # itself atomic per-object there)
        fs = self._fs(path)
        tmp = self._path(path + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
        dst = self._path(path)
        try:
            # FileContext rename with OVERWRITE: no delete-then-rename
            # window where concurrent readers see the file missing
            Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(self._conf)
            arr = self._gateway.new_array(Rename, 1)
            arr[0] = Rename.OVERWRITE
            fc.rename(tmp, dst, arr)
        except Exception:
            # FS without FileContext support: fall back to the
            # delete+rename two-step (brief not-found window)
            if fs.exists(dst):
                fs.delete(dst, False)
            fs.rename(tmp, dst)

    def create_exclusive(self, path: str, data: str) -> bool:
        # create(no-overwrite) is the exclusivity arbiter. NOTE a
        # no-overwrite RENAME would be the torn-read-free alternative,
        # but Hadoop's FileSystem.rename contract is not honored by
        # RawLocalFileSystem (POSIX rename overwrites an existing
        # destination file) — it could silently destroy a committed
        # entry on file: URIs. So exclusivity stays on create(), and
        # the brief window where a concurrent reader sees a partially
        # written entry is handled on the READER side
        # (TransactionLog.read_entry retries torn JSON).
        fs, jp = self._fs(path), self._path(path)
        try:
            out = fs.create(jp, False)  # no overwrite
        except Exception as e:
            # ONLY the already-exists race may report False — the
            # commit loop retries False forever, so masking a real IO
            # failure (permissions, network, quota) as a lost race
            # would spin the writer with no error surfaced
            name = ""
            cause = getattr(e, "java_exception", None)
            if cause is not None:
                name = cause.getClass().getName()
                msg = str(cause.getMessage() or "")
            else:
                msg = str(e)
            if "AlreadyExists" in name or "already exists" in msg.lower():
                return False
            raise
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
        return True

    def _footer_metadata(self, path: str):
        import io

        n = self.size(path)
        # parquet footer: last 8 bytes = metadata length + magic; read
        # only the file tail, never the data pages
        tail = self._read_range(path, max(0, n - (1 << 20)))
        meta_len = int.from_bytes(tail[-8:-4], "little")
        if meta_len + 8 > len(tail):  # enormous footer: fetch exactly it
            tail = self._read_range(path, n - meta_len - 8)
        footer = tail[-(meta_len + 8) : -8]
        # a footer-only "file" (magic + footer + length + magic) parses
        # fine for metadata purposes
        shim = b"PAR1" + footer + meta_len.to_bytes(4, "little") + b"PAR1"
        return pq.ParquetFile(io.BytesIO(shim)).metadata

    def link_or_copy(self, src: str, dst: str) -> None:
        # no portable hard links across Hadoop filesystems: FileUtil
        # byte-copies (server-side within one store where the connector
        # supports it)
        self.makedirs(os.path.dirname(dst))
        ok = self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs(src), self._path(src),
            self._fs(dst), self._path(dst),
            False, self._conf,
        )
        if not ok:
            raise OSError(f"copy {src} -> {dst} failed")

    def parquet_column_names(self, path: str) -> list[str]:
        md = self._footer_metadata(path)
        return sorted({md.schema.column(i).path.split(".")[0] for i in range(md.num_columns)})

    def parquet_arrow_schema(self, path: str):
        return self._footer_metadata(path).schema.to_arrow_schema()

    def parquet_row_count(self, path: str) -> int:
        return self._footer_metadata(path).num_rows

    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        md = self._footer_metadata(path)
        return md.num_rows, stats_from_footer(md)
