"""Second-engine snapshot resolver — the oracle-side Trino role.

The reference stack's correctness story is TWO independent engines over
ONE substrate: Spark writes Iceberg tables and Trino reads the same
committed table format through the same Nessie catalog
(/root/reference/trino/catalog/iceberg.properties:2-7 — SURVEY.md §3
EP3). This module plays that second-engine role for the DuckDB oracle:
lifecycle registry queries leave their throwaway warehouse at a known
path (`fresh_wh`), and their oracle SQL — generated here at import
time — re-resolves the committed table state INDEPENDENTLY inside
DuckDB, with no Spark and no engine code in the loop:

- fold the JSON commit log (metadata/<version>.json add/remove sets,
  plus expiry checkpoints) to the live file set at any version;
- skip non-main-lineage entries exactly as a second engine must:
  `stage` snapshots, branch-tagged commits, and entries whose
  multi-table transaction marker (warehouse/.txns/<id>.json) is not
  `committed`;
- apply content=1 position-delete files (anti-join on file_path+pos)
  and content=2 equality-delete files (anti-join on the equality
  columns under the Iceberg sequence rule: delete seq > data seq);
- resolve named refs (metadata/ref-<name>.json) for branch/tag reads:
  branch state = main folded to the fork base + the ref's explicit
  commit chain;
- and only then read the surviving parquet bytes (read_parquet over
  the data dir, filename-joined against the resolved live set — dead
  and orphan files on disk are ignored because the LOG says so, which
  is the entire point).

So a converted oracle asserts recomputed quantities, not pinned
literals: if the engine commits the wrong file set, mis-applies a
delete file, or resurrects an expired snapshot, the second engine's
fold disagrees and the value hash mismatches.

The warehouses live under a per-process temporary root, created at
import and removed when the process exits: the Spark run (`fresh_wh`)
and its oracle SQL (`wh_dir`, the import-time `TableResolver`s) always
run in one process, and two processes running the same registry entry
at once each get their own warehouse.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile

# the fixed last component keeps every warehouse path (and so every
# second-engine oracle's SQL) recognisable by its `_secondengine/` part
_PROCESS_TMP = tempfile.mkdtemp(prefix="spark_graft-")
SECOND_ENGINE_ROOT = os.path.join(_PROCESS_TMP, "spark_graft_secondengine")
os.makedirs(SECOND_ENGINE_ROOT)
_ROOT_OWNER = os.getpid()


def _remove_root() -> None:
    # a forked child that exits normally runs the parent's atexit
    # hooks too; only the creating process owns the root
    if os.getpid() == _ROOT_OWNER:
        shutil.rmtree(_PROCESS_TMP, ignore_errors=True)


atexit.register(_remove_root)

# Typed projections for read_json: we control the log format (log.py
# LogEntry/FileInfo asdict), so the oracle pins exactly the fields the
# fold needs; unlisted fields (stats, partition, properties) are
# ignored by DuckDB's explicit-columns projection.
_FILE_STRUCT = (
    "STRUCT(path VARCHAR, row_count BIGINT, content BIGINT, seq BIGINT, "
    "eq_cols VARCHAR[], name_epoch BIGINT)[]"
)
_ENTRY_COLS = (
    "{version:'BIGINT', snapshot_id:'BIGINT', operation:'VARCHAR', "
    f"added_files:'{_FILE_STRUCT}', removed_files:'VARCHAR[]', extra:'JSON'}}"
)
_CP_COLS = f"{{version:'BIGINT', files:'{_FILE_STRUCT}'}}"
_REF_COLS = (
    "{name:'VARCHAR', snapshot_id:'BIGINT', kind:'VARCHAR', "
    "base:'BIGINT', commits:'BIGINT[]'}"
)
_TXN_COLS = "{txn:'VARCHAR', status:'VARCHAR'}"
_CATREC_COLS = "{name:'VARCHAR', kind:'VARCHAR', pins:'JSON', dropped:'VARCHAR[]'}"


def catalog_records_cte(wh: str, alias: str = "cat_refs") -> str:
    """CTE over the warehouse's catalog-wide ref records
    (.catalog_refs/*.json — the Nessie-model catalog state the second
    engine resolves tables THROUGH, the way the reference's second
    engine reads tables through the catalog at a pinned ref,
    /root/reference/trino/catalog/iceberg.properties:5). `pins` stays
    JSON because its keys are table identifiers (dotted); extract one
    with json_extract(pins, '$.\"ns.table\"')."""
    return f"""{alias} AS (
  SELECT * FROM read_json('{wh}/.catalog_refs/*.json', format='auto',
                          columns={_CATREC_COLS})
)"""


def wh_dir(query_name: str) -> str:
    return os.path.join(SECOND_ENGINE_ROOT, query_name)


def fresh_wh(query_name: str) -> str:
    """Recreate the warehouse dir for a second-engine-checked
    registry query. Left on disk after the run — the oracle reads it.
    A sentinel txn marker keeps the oracle's .txns glob non-empty."""
    d = wh_dir(query_name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, ".txns"), exist_ok=True)
    with open(os.path.join(d, ".txns", "_sentinel.json"), "w") as f:
        json.dump({"txn": "_sentinel", "status": "aborted"}, f)
    return d


class TableResolver:
    """Emits the DuckDB CTE fragments that resolve ONE table's committed
    state. Compose with `oracle(...)` below.

    CTE namespace for prefix `p`:
      {p}_entries  raw log entries
      {p}_main     main-lineage entries (stage/branch/undecided-txn out)
      {p}_acts     (path, version, add_, frows, content, seq, eq_cols)
                   add/remove actions, checkpoint state seeded as adds
      {p}_data     every parquet row under data/ with filename +
                   file_row_number (dead files included — the live join
                   is what the log contributes)
      {p}_refs     named refs (only if with_refs)
    """

    def __init__(
        self,
        wh: str,
        identifier: str,
        p: str,
        checkpoints: bool = False,
        with_refs: bool = False,
    ):
        self.wh = wh
        self.table_dir = os.path.join(wh, *identifier.split("."))
        self.p = p
        self.checkpoints = checkpoints
        self.with_refs = with_refs

    # ---- base CTEs ----------------------------------------------------

    def ctes(self) -> list[str]:
        p, td = self.p, self.table_dir
        out = [
            f"""{p}_entries AS (
  SELECT * FROM read_json('{td}/metadata/[0-9]*.json', format='auto',
                          columns={_ENTRY_COLS})
)""",
            f"""{p}_main AS (
  SELECT e.* FROM {p}_entries e
  LEFT JOIN wh_txns tx ON tx.txn = json_extract_string(e.extra, '$.txn')
  WHERE e.operation <> 'stage'
    AND json_extract_string(e.extra, '$.branch') IS NULL
    AND (json_extract_string(e.extra, '$.txn') IS NULL OR tx.status = 'committed')
)""",
        ]
        acts = f"""{p}_acts AS (
  SELECT f.path AS path, version, 1 AS add_, f.row_count AS frows,
         COALESCE(f.content, 0) AS content, COALESCE(f.seq, -1) AS seq,
         f.eq_cols AS eq_cols,
         COALESCE(f.name_epoch, f.seq) AS name_epoch
  FROM (SELECT version, unnest(added_files) AS f FROM {p}_main)
  UNION ALL
  SELECT unnest(removed_files) AS path, version, 0, NULL, NULL, NULL, NULL,
         NULL
  FROM {p}_main"""
        if self.checkpoints:
            # a checkpoint freezes resolved state at its version: its
            # files re-enter the fold as adds there, so replay works
            # even after expiry removed the early entries (same rule as
            # log.state_at)
            acts += f"""
  UNION ALL
  SELECT f.path, version, 1, f.row_count, COALESCE(f.content, 0),
         COALESCE(f.seq, -1), f.eq_cols, COALESCE(f.name_epoch, f.seq)
  FROM (SELECT version, unnest(files) AS f
        FROM read_json('{td}/metadata/checkpoint-*.json', format='auto',
                       columns={_CP_COLS}))"""
        acts += "\n)"
        out.append(acts)
        out.append(
            f"""{p}_data AS (
  SELECT * FROM read_parquet('{td}/data/**/*.parquet', filename=true,
                             union_by_name=true, file_row_number=true)
)"""
        )
        if self.with_refs:
            out.append(
                f"""{p}_refs AS (
  SELECT * FROM read_json('{td}/metadata/ref-*.json', format='auto',
                          columns={_REF_COLS})
)"""
            )
        return out

    # ---- derived state ------------------------------------------------

    def live(self, alias: str, upto: str | None = None, acts: str | None = None) -> str:
        """Live file set CTE at a version (`upto` is a SQL scalar
        expression; None = latest): last action per path wins, adds
        survive — log.state_at's fold, re-derived. `acts` overrides the
        action source (e.g. a reconstructed historical branch chain)."""
        cond = f"WHERE version <= ({upto})" if upto is not None else ""
        return f"""{alias} AS (
  SELECT path, frows, content, seq, eq_cols, name_epoch FROM (
    SELECT *, row_number() OVER (PARTITION BY path ORDER BY version DESC) AS rn
    FROM {acts or f"{self.p}_acts"} {cond}
  ) WHERE rn = 1 AND add_ = 1
)"""

    def chain_acts(self, alias: str, base_upto: str, chain_versions: str) -> str:
        """Action set for a HISTORICAL branch state: main actions folded
        to `base_upto` plus the adds/removes of the raw entries whose
        versions are in `chain_versions` (a SQL list expression, e.g.
        the merge entry's recorded merged_commits) — reconstructs what
        state_at_branch saw before the merge re-anchored the ref."""
        p = self.p
        return f"""{alias} AS (
  SELECT * FROM {p}_acts WHERE version <= ({base_upto})
  UNION ALL
  SELECT f.path, e.version, 1 AS add_, f.row_count AS frows,
         COALESCE(f.content, 0) AS content, COALESCE(f.seq, -1) AS seq,
         f.eq_cols, COALESCE(f.name_epoch, f.seq) AS name_epoch
  FROM (SELECT version, unnest(added_files) AS f FROM {p}_entries
        WHERE version IN (SELECT unnest({chain_versions}))) e(version, f)
  UNION ALL
  SELECT unnest(e.removed_files), e.version, 0, NULL, NULL, NULL, NULL, NULL
  FROM {p}_entries e
  WHERE e.version IN (SELECT unnest({chain_versions}))
)"""

    def branch_live(self, alias: str, branch: str) -> str:
        """Live file set as branch `branch` sees it: main actions folded
        to the ref's fork base plus the ref's explicit commit chain
        (log.state_at_branch re-derived; chain files stamped with a
        future seq exactly as the engine read does, so a base equality
        delete never gates chain rows)."""
        p = self.p
        return f"""{alias} AS (
  SELECT path, frows, content, seq, eq_cols, name_epoch FROM (
    SELECT *, row_number() OVER (PARTITION BY path ORDER BY version DESC) AS rn
    FROM (
      SELECT a.* FROM {p}_acts a
      WHERE a.version <= (SELECT base FROM {p}_refs WHERE name = '{branch}')
      UNION ALL
      SELECT f.path, e.version, 1, f.row_count, COALESCE(f.content, 0),
             CAST(4611686018427387904 AS BIGINT), f.eq_cols,
             COALESCE(f.name_epoch, f.seq)
      FROM (SELECT version, unnest(added_files) AS f FROM {p}_entries
            WHERE version IN (SELECT unnest(commits) FROM {p}_refs
                              WHERE name = '{branch}')) e(version, f)
      UNION ALL
      SELECT unnest(e.removed_files), e.version, 0, NULL, NULL, NULL, NULL,
             NULL
      FROM {p}_entries e
      WHERE e.version IN (SELECT unnest(commits) FROM {p}_refs
                          WHERE name = '{branch}')
    )
  ) WHERE rn = 1 AND add_ = 1
)"""

    def rows(
        self,
        alias: str,
        live: str,
        eq_cols: tuple[str, ...] = (),
        pos_deletes: bool = False,
    ) -> str:
        """Data rows of the `live` state with delete files APPLIED —
        the second engine's actual table read. Position deletes
        anti-join on (file_path, pos); equality deletes anti-join on
        the equality columns with the sequence rule (delete file seq >
        data file seq). Each delete clause is opt-in because its
        column references (file_path/pos, the equality columns) only
        bind when the scenario's warehouse actually contains such
        delete files; tests assert the flags match the live content
        classes so a scenario that grows delete files cannot silently
        skip applying them."""
        p = self.p
        clauses = []
        if pos_deletes:
            clauses.append(
                f"""
  AND NOT EXISTS (
      SELECT 1 FROM {p}_data pd
      JOIN {live} pl ON pl.content = 1 AND ends_with(pd.filename, pl.path)
      WHERE ends_with(d.filename, pd.file_path)
        AND pd.pos = d.file_row_number
  )"""
            )
        if eq_cols:
            match = " AND ".join(
                f"(ed.{c} IS NOT DISTINCT FROM d.{c})" for c in eq_cols
            )
            clauses.append(
                f"""
  AND NOT EXISTS (
      SELECT 1 FROM {p}_data ed
      JOIN {live} el ON el.content = 2 AND ends_with(ed.filename, el.path)
      WHERE el.seq > l.seq AND {match}
  )"""
            )
        return f"""{alias} AS (
  SELECT d.*, l.seq AS _fseq FROM {p}_data d
  JOIN {live} l ON l.content = 0 AND ends_with(d.filename, l.path)
  WHERE TRUE{"".join(clauses)}
)"""

    # ---- catalog-ref resolution ----------------------------------------
    # A catalog-wide ref (catalog_refs.py) leaves three kinds of
    # evidence a second engine can resolve without any engine code:
    # branch commits tagged extra.branch = 'catalog.<ref>' (outside
    # every main fold), ONE merge entry per member table tagged
    # extra.catalog_ref = '<ref>' carrying the published chain in
    # extra.merged_commits (txn-gated by the marker flip like any
    # multi-table commit), and the record JSON under .catalog_refs/
    # (pins per table — authoritative for TAGS, whose pins never move;
    # a BRANCH record's pins advance at merge, so historical branch
    # states resolve from the log evidence instead).

    def cat_merge_v(self, ref: str) -> str:
        """Scalar: the version of this table's (first) catalog-merge
        entry for catalog ref `ref` — the point its chain joined main."""
        return (
            f"(SELECT min(version) FROM {self.p}_main WHERE "
            f"json_extract_string(extra, '$.catalog_ref') = '{ref}')"
        )

    def cat_chain(self, ref: str) -> str:
        """SQL list: the commit chain the catalog merge of `ref`
        published on this table (the merge entry's own record of what
        it folded — Nessie keeps the same parentage in its commit DAG)."""
        return (
            f"(SELECT CAST(json_extract(extra, '$.merged_commits') AS BIGINT[]) "
            f"FROM {self.p}_main "
            f"WHERE json_extract_string(extra, '$.catalog_ref') = '{ref}' "
            f"ORDER BY version LIMIT 1)"
        )

    def cat_dropped(self, ref: str) -> str:
        """SQL list: branch commits of catalog ref `ref` on this table
        that NO merge published (rebase dropped them as conflicting, or
        the branch was abandoned) — branch-tagged entries minus every
        merge entry's merged_commits."""
        p = self.p
        return f"""(SELECT coalesce(list(version ORDER BY version), []) FROM {p}_entries
  WHERE json_extract_string(extra, '$.branch') = 'catalog.{ref}'
    AND version NOT IN (
      SELECT unnest(CAST(json_extract(extra, '$.merged_commits') AS BIGINT[]))
      FROM {p}_main
      WHERE json_extract_string(extra, '$.catalog_ref') = '{ref}'))"""

    def cat_fork_base(self, ref: str) -> str:
        """Scalar: the main version the catalog ref's per-table branch
        forked at, derived as (first branch-tagged commit) - 1. Valid
        when no main commit lands between the catalog fork and the
        branch's first write to this table — the registry scenarios
        hold that by construction; a second engine replaying a log
        where the engine misordered those commits resolves a different
        fork state and the oracle mismatches, which is the check."""
        return (
            f"(SELECT min(version) - 1 FROM {self.p}_entries WHERE "
            f"json_extract_string(extra, '$.branch') = 'catalog.{ref}')"
        )

    def tag_pin(self, tag: str, cat_refs: str = "cat_refs") -> str:
        """Scalar: this table's pinned version in catalog tag `tag`,
        resolved from the record JSON (tag pins are immutable, so the
        record IS the historical truth)."""
        return (
            f"(SELECT CAST(json_extract(pins, '$.\"{self.table_dir_identifier()}\"') "
            f"AS BIGINT) FROM {cat_refs} WHERE name = '{tag}')"
        )

    def table_dir_identifier(self) -> str:
        """The ns.table identifier this resolver was built for (the
        pins-map key in catalog ref records)."""
        rel = os.path.relpath(self.table_dir, self.wh)
        return rel.replace(os.sep, ".")

    # ---- scalar helpers ----------------------------------------------

    def v_of(self, where: str) -> str:
        """Scalar subquery: a version selected structurally from the
        main lineage (e.g. "operation = 'append'" with max)."""
        return f"(SELECT max(version) FROM {self.p}_main WHERE {where})"

    def v_nth(self, n: int, where: str = "TRUE") -> str:
        """Scalar subquery: the n-th (1-based, version order) main
        entry matching `where` — structural, no version literals."""
        return (
            f"(SELECT version FROM {self.p}_main WHERE {where} "
            f"ORDER BY version LIMIT 1 OFFSET {n - 1})"
        )


def oracle(wh: str, ctes: list[str], select: str) -> str:
    """Assemble the final oracle SQL: warehouse-level txn CTE + the
    resolver CTEs + the query's SELECT."""
    txn = f"""wh_txns AS (
  SELECT txn, status FROM read_json('{wh}/.txns/*.json', format='auto',
                                    columns={_TXN_COLS})
)"""
    body = ",\n".join([txn, *ctes])
    return f"WITH {body}\n{select}"
