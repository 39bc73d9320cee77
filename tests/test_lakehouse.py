"""Runbook-replay test (SURVEY.md §5.2): port of the reference guide's
steps 3-8 (/root/reference/SPARK_ICEBERG_GUIDE.md:99-340) — create a
table tuned to explode into small files, verify the explosion through
the `files` metadata view, then compaction / snapshot expiry / orphan
removal / rollback with the guide's documented post-conditions.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from local_datalakehouse_phase2_spark.lakehouse import (
    CatalogError,
    Lakehouse,
    MaintenanceError,
    expire_snapshots,
    remove_orphan_files,
    rewrite_data_files,
    rewrite_manifests,
    rollback_to_snapshot,
)


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def _rows(t):
    return {tuple(r) for r in t.read().collect()}


def test_namespace_ddl(lake):
    # guide :89-96 — namespaces are metadata-only, with properties
    lake.create_namespace("lab", properties={"comment": "lab namespace"})
    lake.create_namespace("lab", if_not_exists=True)
    with pytest.raises(CatalogError):
        lake.create_namespace("lab")
    assert lake.namespaces() == ["lab"]
    assert lake.describe_namespace("lab")["properties"] == {"comment": "lab namespace"}


def test_runbook_small_files_lifecycle(spark, lake):
    lake.create_namespace("lab")
    # guide :102-110 — tiny target-file-size so appends explode into small files
    t = lake.create_table(
        "lab.small_files",
        schema="id bigint, name string",
        properties={
            "write.target-file-size-bytes": "65536",
            "write.distribution-mode": "none",
            "format-version": "2",
        },
    )
    assert lake.tables("lab") == ["small_files"]

    # guide :124-127 — VALUES insert creates the first data snapshot
    t.append(spark.createDataFrame([(1, "alice"), (2, "bob"), (3, "charlie")], "id bigint, name string"))
    # guide :151-161 — RANGE inserts; repartition(8) mimics the guide's
    # many-small-files outcome deterministically
    mk = lambda lo, hi: (
        spark.range(lo, hi).select(
            F.col("id"), F.concat(F.lit("name_"), F.col("id").cast("string")).alias("name")
        )
    )
    t.append(mk(0, 200).repartition(8))
    t.append(mk(200, 1000).repartition(8))

    # guide :166 — COUNT(*) over the table
    assert t.read().count() == 1003
    # guide :171-191 — file explosion visible in the `files` view
    files = t.files().collect()
    assert len(files) >= 17  # 1 + 8 + 8 at minimum
    assert all(f.content == 0 for f in files)
    # guide :132-134 — snapshots view: one commit per insert + create
    snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert [s.operation for s in snaps] == ["create", "append", "append", "append"]

    rows_before = _rows(t)
    pre_compaction_snapshot = snaps[-1].snapshot_id

    # guide :228-240 — compaction: fewer, larger files; same data
    res = rewrite_data_files(t, target_file_size_bytes=134217728)
    assert res["rewritten_files"] == len(files)
    files_after = t.files().collect()
    assert len(files_after) < len(files)
    assert _rows(t) == rows_before
    assert max(f.file_size_in_bytes for f in files_after) >= max(
        f.file_size_in_bytes for f in files
    )

    # guide :243-248 — manifest rewrite = checkpoint
    cp = rewrite_manifests(t)
    assert cp["checkpoint_version"] == t.log.latest_version()

    # time travel (VERSION AS OF analog) still sees the pre-compaction set
    assert {tuple(r) for r in t.read(version=pre_compaction_snapshot).collect()} == rows_before

    # guide :304-316 — rollback restores the pre-compaction file set
    rollback_to_snapshot(t, pre_compaction_snapshot)
    assert _rows(t) == rows_before
    assert len(t.files().collect()) == len(files)
    # roll forward again by rolling back to the compacted snapshot
    compacted_snapshot = cp["checkpoint_version"]
    rollback_to_snapshot(t, compacted_snapshot)
    assert len(t.files().collect()) == len(files_after)

    # guide :253-268 — expiry keeps the last N snapshots and the current one
    n_before = t.snapshots().count()
    res = expire_snapshots(t, retain_last=3)
    assert res["expired_snapshots"] == n_before - 3
    assert t.snapshots().count() == 3
    assert _rows(t) == rows_before  # current state untouched
    # expired snapshot ids are gone for time travel
    with pytest.raises(Exception):
        t.read(version=0).collect()


def test_expire_never_drops_rollback_target(spark, lake):
    # the rollback commit carries the old file set forward, so expiring
    # everything but the head keeps the data alive
    lake.create_namespace("lab")
    t = lake.create_table("lab.r", schema="id bigint")
    t.append(spark.range(0, 10).select("id"))
    v1_rows = _rows(t)
    t.overwrite(spark.range(100, 110).select("id"))
    rollback_to_snapshot(t, 1)
    expire_snapshots(t, retain_last=1)
    assert _rows(t) == v1_rows


def test_orphan_removal_gates(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.o", schema="id bigint")
    t.append(spark.range(0, 5).select("id"))

    # plant an orphan (e.g. files from a failed commit)
    orphan_dir = os.path.join(t.data_dir, "vdeadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000-dead.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")

    # guide :274 — refuse young cutoffs
    with pytest.raises(MaintenanceError):
        remove_orphan_files(t, older_than=time.time())
    # fresh orphan survives a legal sweep
    assert remove_orphan_files(t)["deleted_files"] == 0
    assert os.path.exists(orphan)

    # age the orphan AND its commit dir 25h (the sweep floors file age
    # at the dir's creation time so in-flight adoptions survive)
    old = time.time() - 25 * 3600
    os.utime(orphan, (old, old))
    os.utime(orphan_dir, (old, old))
    assert remove_orphan_files(t)["deleted_files"] == 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan_dir)  # empty commit dir pruned
    # live data untouched
    assert t.read().count() == 5

    # guide :218-224 — gc.enabled=false blocks destructive maintenance
    t.set_properties({"gc.enabled": "false"})
    with pytest.raises(MaintenanceError):
        remove_orphan_files(t)
    with pytest.raises(MaintenanceError):
        expire_snapshots(t, retain_last=1)


def test_writer_honors_target_file_size_and_hash_mode(spark, lake):
    lake.create_namespace("lab")
    # ~800KB of data with a 64KB target => many files
    t = lake.create_table(
        "lab.sized",
        schema="id bigint, pad string",
        properties={"write.target-file-size-bytes": "65536"},
    )
    df = spark.range(0, 20000).select("id", F.lpad(F.col("id").cast("string"), 40, "x").alias("pad"))
    t.append(df)
    n_small = t.files().count()
    assert n_small > 1

    # hash distribution mode (guide :326) shuffles by the declared key
    t2 = lake.create_table(
        "lab.hashed",
        schema="id bigint, pad string",
        properties={
            "write.distribution-mode": "hash",
            "write.hash-columns": "id",
        },
    )
    t2.append(df)
    assert t2.read().count() == 20000


def test_time_travel_by_timestamp(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.tt", schema="id bigint")
    t.append(spark.range(0, 3).select("id"))
    mid = time.time()
    time.sleep(0.05)
    t.append(spark.range(3, 6).select("id"))
    assert t.read().count() == 6
    assert t.read(as_of=mid).count() == 3
    with pytest.raises(ValueError):
        t.read(as_of=0.0)


def test_delete_where_rewrites_only_affected_files(spark, lake):
    """COW pruning: a delete touching one hash bucket must carry the
    other buckets' files over untouched (same paths in the new state)."""
    nation = (
        spark.range(0, 40)
        .select(F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("v"))
    )
    lake.create_namespace("lab")
    t = lake.create_table("lab.del_prune")
    t.append(nation.repartition(4, "k"))
    before = set(t.log.state_at().keys())
    assert len(before) == 4
    # delete exactly one existing key: matches live in exactly one bucket file
    t.delete_where("k = 7")
    after = set(t.log.state_at().keys())
    assert t.read().count() == 39
    carried = before & after
    assert len(carried) == 3, (before, after)  # 3 files untouched
    assert len(after - before) >= 1  # rewritten survivor file(s)
    # snapshots view records the operation
    ops = [r.operation for r in t.snapshots().collect()]
    assert ops[-1] == "delete"


def test_delete_where_no_match_is_noop(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.del_noop")
    t.append(spark.range(0, 10).select(F.col("id").alias("k")))
    v_before = t.log.latest_version()
    t.delete_where("k = 999")
    assert t.log.latest_version() == v_before
    assert t.read().count() == 10


def test_merge_upserts_and_prunes(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.merge_t")
    t.append(
        spark.range(0, 20)
        .select(F.col("id").alias("k"), F.lit("old").alias("v"))
        .repartition(4, "k")
    )
    before = set(t.log.state_at().keys())
    src = spark.createDataFrame(
        [(3, "new"), (200, "new")], "k bigint, v string"
    )
    t.merge(src, key_cols=["k"])
    assert t.read().count() == 21
    got = {r.k: r.v for r in t.read().filter(F.col("k").isin(3, 200)).collect()}
    assert got == {3: "new", 200: "new"}
    assert t.read().filter(F.col("v") == "old").count() == 19
    # only the file holding k=3 rewrote
    after = set(t.log.state_at().keys())
    assert len(before & after) == 3


def test_merge_into_empty_table_appends(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.merge_empty")
    src = spark.createDataFrame([(1, "a")], "k bigint, v string")
    t.merge(src, key_cols=["k"])
    assert t.read().count() == 1


def test_incremental_read_append_only_and_guard(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.inc_t")
    t.append(spark.range(0, 10).select(F.col("id").alias("k")))
    v1 = t.log.latest_version()
    t.append(spark.range(10, 13).select(F.col("id").alias("k")))
    delta = t.read_incremental(v1)
    assert sorted(r.k for r in delta.collect()) == [10, 11, 12]
    # empty range -> empty frame with the table schema
    assert t.read_incremental(t.log.latest_version()).count() == 0
    # a rewriting commit poisons the range
    t.delete_where("k = 0")
    with pytest.raises(ValueError, match="append-only"):
        t.read_incremental(v1)


def test_schema_evolution_add_column(spark, lake):
    """Added columns read as null from pre-evolution files; time travel
    sees the schema as of the version read."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.evo")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    v1 = t.log.latest_version()
    t.append(
        spark.createDataFrame([(3, "c", 9.5)], "k bigint, v string, score double")
    )
    cur = t.read()
    assert set(cur.columns) == {"k", "v", "score"}
    got = {r.k: r.score for r in cur.collect()}
    assert got == {1: None, 2: None, 3: 9.5}
    # time travel: v1 predates the column
    assert set(t.read(version=v1).columns) == {"k", "v"}
    # guards: missing columns and type changes raise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing table columns"):
        t.append(spark.createDataFrame([(4,)], "k bigint"))
    with _pytest.raises(ValueError, match="type change"):
        t.append(
            spark.createDataFrame([(4, "d", "oops")], "k bigint, v string, score string")
        )


def test_table_schema_is_a_private_copy(lake):
    """table.schema() hands each caller its own StructType: mutating one
    (add a field, flip nullability) must not change what the next call,
    or another handle on the same table, returns."""
    from pyspark.sql import types as T

    lake.create_namespace("lab")
    t = lake.create_table("lab.sch", schema="k bigint, v string")
    first = t.schema()
    want = first.simpleString()
    first.add("junk", T.StringType())
    first.fields[0].nullable = False
    again = t.schema()
    assert again is not first
    assert again.simpleString() == want
    assert all(f.nullable for f in again.fields)
    assert lake.table("lab.sch").schema().simpleString() == want


def test_schema_evolution_merge_across_old_files(spark, lake):
    """MERGE whose source carries an added column must upsert cleanly
    over pre-evolution files (carried rows project null)."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.evo_m")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t.append(spark.createDataFrame([(3, "c", 1.0)], "k bigint, v string, score double"))
    src = spark.createDataFrame([(2, "B", 2.0), (9, "Z", 3.0)], "k bigint, v string, score double")
    t.merge(src, key_cols=["k"])
    got = {r.k: (r.v, r.score) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("B", 2.0), 3: ("c", 1.0), 9: ("Z", 3.0)}


def test_schema_evolution_type_promotion(spark, lake):
    """Numeric widening both ways: narrower writes upcast to the table
    type; wider writes promote the table schema (int->bigint), and old
    narrower files still read correctly through the widened schema."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.evo_w")
    t.append(spark.createDataFrame([(1, 1.5)], "k int, x float"))
    # wider write promotes the table schema
    t.append(spark.createDataFrame([(2**40, 2.5)], "k bigint, x double"))
    st = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
    assert st == {"k": "bigint", "x": "double"}
    got = sorted((r.k, round(r.x, 1)) for r in t.read().collect())
    assert got == [(1, 1.5), (2**40, 2.5)]
    # narrower write upcasts into the (now wider) table type
    t.append(spark.createDataFrame([(7, 3.5)], "k int, x float"))
    assert t.read().count() == 3
    assert {f.dataType.simpleString() for f in t.read().schema.fields} == {"bigint", "double"}


def test_add_column_is_metadata_only(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.addcol")
    t.append(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    files_before = set(t.log.state_at().keys())
    t.add_column("score", "double")
    assert set(t.log.state_at().keys()) == files_before  # no data rewritten
    row = t.read().first()
    assert row.score is None and set(t.read().columns) == {"k", "v", "score"}
    # subsequent writes may fill it
    t.append(spark.createDataFrame([(2, "b", 1.5)], "k bigint, v string, score double"))
    assert t.read().filter(F.col("score").isNotNull()).count() == 1
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("score", "double")


def test_sort_strategy_compaction_clusters_key_ranges(spark, tmp_path):
    """rewrite_data_files(strategy='sort') must produce files holding
    DISJOINT key ranges (range-partitioned + sorted), so parquet
    min/max footers let selective scans skip whole files — verified
    straight from the footers."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from local_datalakehouse_phase2_spark.lakehouse import (
        Lakehouse,
        MaintenanceError,
        rewrite_data_files,
    )

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.sorted",
        schema="k bigint, v string",
        properties={"write.target-file-size-bytes": "4096"},
    )
    # interleaved appends: every file initially spans the whole key range
    for off in (0, 1, 2):
        t.append(
            spark.range(0, 3000, 3).select(
                (F.col("id") + off).alias("k"),
                F.concat(F.lit("val"), F.col("id")).alias("v"),
            )
        )
    res = rewrite_data_files(t, target_file_size_bytes=8192, strategy="sort", sort_order="k")
    assert not res["skipped"] and res["added_files"] >= 2

    ranges = []
    for fi in t.log.state_at().values():
        md = pq.ParquetFile(f"{t.table_dir}/{fi.path}").metadata
        stats = [md.row_group(i).column(0) for i in range(md.num_row_groups)]
        assert all(s.path_in_schema == "k" for s in stats)
        ranges.append(
            (
                min(s.statistics.min for s in stats),
                max(s.statistics.max for s in stats),
            )
        )
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file ranges overlap: {ranges}"
    # data intact
    assert t.read().count() == 3000
    assert t.read().agg(F.sum("k")).first()[0] == sum(range(0, 3000, 3)) * 3 + 3000

    with pytest.raises(MaintenanceError, match="sort_order"):
        rewrite_data_files(t, strategy="sort")
    with pytest.raises(MaintenanceError, match="strategy"):
        rewrite_data_files(t, strategy="zorder")


def test_zorder_compaction_prunes_on_every_dimension(spark, tmp_path):
    """strategy='zorder' must cluster so that BOTH z-columns prune
    files — the property plain sort cannot give the trailing column —
    with row sets exactly preserved."""
    from pyspark.sql import functions as F

    from local_datalakehouse_phase2_spark.lakehouse import (
        Lakehouse,
        MaintenanceError,
        rewrite_data_files,
    )

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_namespace("lab")

    def grid_table(name):
        t = lake.create_table(name, schema="a bigint, b bigint, v string")
        t.append(
            spark.range(0, 4096).select(
                (F.col("id") % 64).alias("a"),
                (F.col("id") / 64).cast("bigint").alias("b"),
                F.concat(F.lit("v"), F.col("id")).alias("v"),
            ).repartition(8)
        )
        return t

    tz = grid_table("lab.z")
    res = rewrite_data_files(tz, target_file_size_bytes=6000, strategy="zorder", sort_order="a,b")
    assert not res["skipped"] and res["added_files"] >= 4

    ts = grid_table("lab.s")
    rewrite_data_files(ts, target_file_size_bytes=6000, strategy="sort", sort_order="a,b")

    for col in ("a", "b"):
        plan = tz.scan_plan([(col, "=", 10)])
        assert plan["files_scanned"] < plan["files_total"], (col, plan)
        assert tz.read(filters=[(col, "=", 10)]).count() == 64
    # sort clusters the leading column only: b-filter scans everything
    sort_b = ts.scan_plan([("b", "=", 10)])
    assert sort_b["files_scanned"] == sort_b["files_total"]
    z_b = tz.scan_plan([("b", "=", 10)])
    assert z_b["files_scanned"] < z_b["files_total"]
    # row set identical to pre-compaction content
    assert tz.read().count() == 4096
    assert tz.read().agg(F.sum("a"), F.sum("b")).first() == ts.read().agg(
        F.sum("a"), F.sum("b")
    ).first()

    with pytest.raises(MaintenanceError, match=">= 2"):
        rewrite_data_files(tz, strategy="zorder", sort_order="a")
    # string z-dimension: lexicographic-prefix clustering must let a
    # string-equality filter prune files too
    tsv = grid_table("lab.zs")
    res = rewrite_data_files(
        tsv, target_file_size_bytes=6000, strategy="zorder", sort_order="a,v"
    )
    assert not res["skipped"]
    plan = tsv.scan_plan([("v", "=", "v100")])
    assert plan["files_scanned"] < plan["files_total"], plan
    assert tsv.read(filters=[("v", "=", "v100")]).count() == 1
    tbad = lake.create_table("lab.zbad", schema="a bigint, f boolean")
    tbad.append(spark.range(0, 4).selectExpr("id AS a", "id % 2 = 0 AS f"))
    with pytest.raises(MaintenanceError, match="unsupported type"):
        rewrite_data_files(tbad, strategy="zorder", sort_order="a,f")
    with pytest.raises(MaintenanceError, match="not in table schema"):
        rewrite_data_files(tz, strategy="zorder", sort_order="a,missing")


# ---- file-group compaction semantics (Iceberg BinPackStrategy) --------


def _mk_rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.concat(F.lit("v_"), F.col("id").cast("string")).alias("v")
    )


def test_compaction_is_idempotent(spark, lake):
    """A second rewrite_data_files on an already-compacted table must
    rewrite NOTHING: the compacted file sits alone in its group and
    single small files are never re-rewritten."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.idem")
    t.append(_mk_rows(spark, 0, 200).repartition(4, "k"))
    t.append(_mk_rows(spark, 200, 400).repartition(4, "k"))
    res1 = rewrite_data_files(t, target_file_size_bytes=134217728)
    assert res1["rewritten_files"] == 8 and res1["added_files"] == 1
    paths_after = set(t.log.state_at().keys())

    res2 = rewrite_data_files(t, target_file_size_bytes=134217728)
    assert res2["skipped"] is True and res2["rewritten_files"] == 0
    assert set(t.log.state_at().keys()) == paths_after  # untouched


def test_compaction_selects_only_out_of_band_files(spark, lake):
    """Well-sized files (inside [0.75x, 1.8x] of target) are not
    rewrite candidates; only the small-file debris rewrites."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.select")
    t.append(_mk_rows(spark, 0, 5000).repartition(1))  # one "big" file
    big = max(fi.size_bytes for fi in t.log.state_at().values())
    t.append(_mk_rows(spark, 5000, 5040).repartition(4, "k"))  # 4 tiny files
    state = t.log.state_at()
    assert len(state) == 5
    big_paths = {p for p, fi in state.items() if fi.size_bytes == big}

    # target chosen so the big file is in-band and the tiny ones below it
    res = rewrite_data_files(t, target_file_size_bytes=big)
    assert res["rewritten_files"] == 4 and res["file_groups"] == 1
    after = set(t.log.state_at().keys())
    assert big_paths <= after  # the well-sized file was NOT rewritten
    assert t.read().count() == 5040


def test_partial_progress_keeps_earlier_group_commits(spark, lake):
    """partial-progress.enabled=true: a commit conflict on one file
    group loses only that group; groups committed before it stand."""
    import time as _time

    from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry
    from local_datalakehouse_phase2_spark.lakehouse.maintenance import (
        _MAX_FILE_SIZE_RATIO,
        _plan_file_groups,
    )

    lake.create_namespace("lab")
    t = lake.create_table("lab.pp")
    for i in range(4):
        t.append(_mk_rows(spark, i * 100, (i + 1) * 100).repartition(1))
    state = t.log.state_at()
    assert len(state) == 4
    target = 134217728
    # group to exactly 2 files per group (near-equal sizes)
    sizes = sorted((fi.size_bytes for fi in state.values()), reverse=True)
    max_group = sizes[0] + sizes[1] + 1  # two files per group, never three
    groups = _plan_file_groups(
        sorted(state.items()), max_group, 1, int(target * _MAX_FILE_SIZE_RATIO)
    )
    assert len(groups) >= 2, [len(g) for g in groups]
    victim = groups[-1][0][0]  # an input file of the LAST group

    orig = t._write_files
    calls = {"n": 0}

    def racing(df, **kw):
        files = orig(df, **kw)
        calls["n"] += 1
        if calls["n"] == len(groups):
            # racing commit removes one of the last group's inputs
            # while the compaction is still staging/committing
            def mk(v):
                return LogEntry(
                    version=v,
                    snapshot_id=v,
                    committed_at=_time.time(),
                    operation="delete",
                    removed_files=(victim,),
                )

            t.log.append(mk)
        return files

    t._write_files = racing
    try:
        res = rewrite_data_files(
            t,
            target_file_size_bytes=target,
            max_file_group_size_bytes=max_group,
            partial_progress_enabled=True,
        )
    finally:
        t._write_files = orig

    assert res["failed_groups"] == 1
    assert res["file_groups"] == len(groups)
    # earlier groups' commits stand: their inputs are gone from the
    # live state, replaced by compacted files
    live = set(t.log.state_at().keys())
    for p, _ in groups[0]:
        assert p not in live
    # the failed group's OTHER input is still live (never replaced)
    for p, _ in groups[-1][1:]:
        assert p in live
    # replace commits landed for the successful groups only
    ops = [e.operation for e in t.log.entries()]
    assert ops.count("replace") == len(groups) - 1


def test_partial_progress_all_groups_commit_cleanly(spark, lake):
    """No conflict: every group commits; one replace commit per group."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.pp_ok")
    for i in range(4):
        t.append(_mk_rows(spark, i * 100, (i + 1) * 100).repartition(1))
    state = t.log.state_at()
    sizes = sorted((fi.size_bytes for fi in state.values()), reverse=True)
    max_group = sizes[0] + sizes[1] + 1  # two files per group, never three
    res = rewrite_data_files(
        t,
        target_file_size_bytes=134217728,
        max_file_group_size_bytes=max_group,
        max_concurrent_file_group_rewrites=2,
        partial_progress_enabled=True,
    )
    assert res["failed_groups"] == 0 and res["file_groups"] >= 2
    assert res["rewritten_files"] == 4
    assert t.read().count() == 400
    ops = [e.operation for e in t.log.entries()]
    assert ops.count("replace") == res["file_groups"]


# ---- named refs: branches/tags (Nessie git-like refs analog) ----------


def test_branch_and_tag_refs(spark, lake):
    """Runbook-replay for the one configured-but-unmodeled Nessie
    capability: named refs. Branch + tag created mid-history, reads
    through both refs see their pinned snapshots, a branch can
    fast-forward, a tag cannot move, and expiry keeps ref targets."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.refs", schema="k bigint, v string")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    v1 = t.log.latest_version()
    t.create_branch("audit", at=v1)
    t.append(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    v2 = t.log.latest_version()
    t.create_tag("release-1.0", at=v2)
    t.append(spark.createDataFrame([(4, "d")], "k bigint, v string"))

    # reads through refs see the pinned snapshots; head sees everything
    assert t.read(ref="audit").count() == 2
    assert t.read(ref="release-1.0").count() == 3
    assert t.read().count() == 4
    refs = {r.name: (r.type, r.snapshot_id) for r in t.refs().collect()}
    assert refs == {"audit": ("BRANCH", v1), "release-1.0": ("TAG", v2)}

    # branch advances; tag refuses to move; duplicate create refuses
    t.fast_forward("audit")
    assert t.read(ref="audit").count() == 4
    with pytest.raises(ValueError, match="immutable"):
        t.fast_forward("release-1.0")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("audit")
    with pytest.raises(ValueError, match="does not exist"):
        t.read(ref="nope")

    # expiry keeps ref-pinned snapshots (the tag at v2)
    res = expire_snapshots(t, retain_last=1)
    assert t.read(ref="release-1.0").count() == 3  # still readable
    remaining = {r.snapshot_id for r in t.snapshots().collect()}
    assert v2 in remaining and v1 not in remaining
    # the HEAD state must survive a gapped expiry (kept set {tag, head}
    # with expired versions in between): gap checkpointing at work
    assert t.read().count() == 4

    # dropping the tag unpins it: next expiry can remove v2
    t.drop_ref("release-1.0")
    expire_snapshots(t, retain_last=1)
    assert {r.snapshot_id for r in t.snapshots().collect()} == {t.log.latest_version()}
    with pytest.raises(ValueError, match="does not exist"):
        t.create_tag("late", at=v2)  # can't tag an expired snapshot


def test_ref_on_missing_snapshot_rejected(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.refs2", schema="k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    with pytest.raises(ValueError, match="does not exist"):
        t.create_branch("b", at=999)
    with pytest.raises(ValueError, match="invalid ref name"):
        t.create_branch("bad/name")


# ---- snapshot-management procedures (Iceberg parity) ------------------


def test_rollback_to_timestamp_and_set_current(spark, lake):
    from local_datalakehouse_phase2_spark.lakehouse import (
        rollback_to_timestamp,
        set_current_snapshot,
    )

    lake.create_namespace("lab")
    t = lake.create_table("lab.snapmgmt", schema="k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    ts_after_v1 = time.time()
    time.sleep(0.05)
    t.append(spark.createDataFrame([(2,)], "k bigint"))
    v2 = t.log.latest_version()

    res = rollback_to_timestamp(t, ts_after_v1)
    assert res["rolled_back_to"] == 1
    assert t.read().count() == 1
    with pytest.raises(MaintenanceError, match="no snapshot"):
        rollback_to_timestamp(t, 0.0)

    # set_current_snapshot moves FORWARD too (rollback's sibling)
    res = set_current_snapshot(t, v2)
    assert res["set_to"] == v2
    assert t.read().count() == 2


def test_cherrypick_snapshot_replays_append(spark, lake):
    from local_datalakehouse_phase2_spark.lakehouse import (
        cherrypick_snapshot,
        rollback_to_snapshot,
    )

    lake.create_namespace("lab")
    t = lake.create_table("lab.cherry", schema="k bigint")
    t.append(spark.createDataFrame([(1,), (2,)], "k bigint"))
    v1 = t.log.latest_version()
    t.append(spark.createDataFrame([(3,)], "k bigint"))
    v2 = t.log.latest_version()
    # roll back past the second append, then cherry-pick it back on
    rollback_to_snapshot(t, v1)
    assert t.read().count() == 2
    res = cherrypick_snapshot(t, v2)
    assert res["cherrypicked"] == v2
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    # double-apply is a commit conflict (files already live)
    from local_datalakehouse_phase2_spark.lakehouse import CommitConflictError

    with pytest.raises(CommitConflictError, match="already live"):
        cherrypick_snapshot(t, v2)
    # rewriting snapshots refuse
    t.delete_where("k = 1")
    vdel = t.log.latest_version()
    with pytest.raises(MaintenanceError, match="only append"):
        cherrypick_snapshot(t, vdel)


def test_write_audit_publish_flow(spark, lake):
    """WAP: a staged append is invisible to main (and to incremental
    reads), survives the orphan sweep, audits through the snapshots
    view, and publishes exactly once."""
    from local_datalakehouse_phase2_spark.lakehouse import publish_changes

    lake.create_namespace("lab")
    t = lake.create_table("lab.wap", schema="k bigint")
    t.append(spark.createDataFrame([(1,), (2,)], "k bigint"))
    v1 = t.log.latest_version()

    staged = t.stage_append(spark.createDataFrame([(3,), (4,)], "k bigint"), wap_id="job-42")
    # invisible to main and to incremental reads over the staged range
    assert t.read().count() == 2
    assert t.read_incremental(v1).count() == 0
    # auditable: the stage snapshot is in the snapshots view
    ops = {r.snapshot_id: r.operation for r in t.snapshots().collect()}
    assert ops[staged.snapshot_id] == "stage"
    # staged files survive the orphan sweep even when OLDER than the
    # cutoff (backdate their mtimes 48h: without the stage-protection
    # they would be unreferenced-and-old, i.e. swept)
    for fi in staged.added_files:
        full = os.path.join(t.table_dir, fi.path)
        os.utime(full, (time.time() - 48 * 3600, time.time() - 48 * 3600))
    res_sweep = remove_orphan_files(t, older_than=time.time() - 24 * 3600 - 1)
    assert res_sweep["deleted_files"] == 0
    # publish graduates it into main; double publish refuses
    res = publish_changes(t, "job-42")
    assert t.read().count() == 4
    assert {r.k for r in t.read().collect()} == {1, 2, 3, 4}
    assert t.read_incremental(v1).count() == 2
    with pytest.raises(MaintenanceError, match="already published"):
        publish_changes(t, "job-42")
    with pytest.raises(MaintenanceError, match="no staged"):
        publish_changes(t, "nope")


def test_wap_publish_via_sql_call(spark, lake):
    from local_datalakehouse_phase2_spark.lakehouse import LakehouseSQL

    lake.create_namespace("lab")
    t = lake.create_table("lab.wap_sql", schema="k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    t.stage_append(spark.createDataFrame([(2,)], "k bigint"), wap_id="w1")
    q = LakehouseSQL(lake, catalog_name="nessie")
    res = q.sql("CALL nessie.system.publish_changes(table => 'lab.wap_sql', wap_id => 'w1')").first()
    assert res.published_wap == "w1"
    assert t.read().count() == 2


def test_expiry_preserves_unpublished_stage_snapshots(spark, lake):
    """expire_snapshots must never expire an UNPUBLISHED stage snapshot
    (that would break its pending publish and orphan the staged data);
    once published, the stage entry is expirable like any other."""
    from local_datalakehouse_phase2_spark.lakehouse import publish_changes

    lake.create_namespace("lab")
    t = lake.create_table("lab.wap_exp", schema="k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    staged = t.stage_append(spark.createDataFrame([(2,)], "k bigint"), wap_id="w1")
    t.append(spark.createDataFrame([(3,)], "k bigint"))
    t.append(spark.createDataFrame([(4,)], "k bigint"))

    expire_snapshots(t, retain_last=1)
    # the stage snapshot survived; publish still works
    assert staged.version in t.log.versions()
    publish_changes(t, "w1")
    assert {r.k for r in t.read().collect()} == {1, 2, 3, 4}
    # now published: a further expiry may drop the stage entry
    expire_snapshots(t, retain_last=1)
    assert staged.version not in t.log.versions()
    assert {r.k for r in t.read().collect()} == {1, 2, 3, 4}


def test_rollback_never_targets_stage_snapshots(spark, lake):
    from local_datalakehouse_phase2_spark.lakehouse import (
        rollback_to_snapshot,
        rollback_to_timestamp,
    )

    lake.create_namespace("lab")
    t = lake.create_table("lab.wap_rb", schema="k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    staged = t.stage_append(spark.createDataFrame([(2,)], "k bigint"), wap_id="w1")
    with pytest.raises(MaintenanceError, match="stage"):
        rollback_to_snapshot(t, staged.version)
    # timestamp resolution skips the stage entry: lands on the append
    res = rollback_to_timestamp(t, time.time())
    assert res["rolled_back_to"] == 1


def test_compaction_converges_on_fractional_target_multiples(spark, lake):
    """A group totaling ~1.4x target must compact to ONE in-band file
    (not two 0.7x files that the next run re-selects forever)."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.conv")
    for i in range(4):
        t.append(_mk_rows(spark, i * 100, (i + 1) * 100).repartition(1))
    gbytes = sum(fi.size_bytes for fi in t.log.state_at().values())
    target = int(gbytes / 1.4)  # group is 1.4x target; each file ~0.35x
    res1 = rewrite_data_files(t, target_file_size_bytes=target)
    assert res1["rewritten_files"] == 4
    sizes = [fi.size_bytes for fi in t.log.state_at().values()]
    assert len(sizes) == 1, sizes  # floor choice: one 1.4x in-band file
    res2 = rewrite_data_files(t, target_file_size_bytes=target)
    assert res2["skipped"] is True and res2["rewritten_files"] == 0
    assert t.read().count() == 400


def test_wap_audit_read_and_ref_guard(spark, lake):
    """read(version=<stage id>) is the AUDIT read: main-as-of-then plus
    the staged rows — exactly what publishing would produce. Refs may
    never point at an unpublished stage snapshot."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.wap_audit", schema="k bigint")
    t.append(spark.createDataFrame([(1,), (2,)], "k bigint"))
    staged = t.stage_append(spark.createDataFrame([(3,)], "k bigint"), wap_id="w1")
    t.append(spark.createDataFrame([(4,)], "k bigint"))

    # audit read: pre-stage main (1,2) + staged (3); NOT the later (4)
    assert {r.k for r in t.read(version=staged.version).collect()} == {1, 2, 3}
    # current read still excludes staged
    assert {r.k for r in t.read().collect()} == {1, 2, 4}
    with pytest.raises(ValueError, match="stage"):
        t.create_branch("bad", at=staged.version)
    with pytest.raises(ValueError, match="stage"):
        t.create_tag("badtag", at=staged.version)


def test_timestamp_travel_never_resolves_to_stage(spark, lake):
    """TIMESTAMP AS OF must skip stage snapshots — unpublished data can
    only be read via the explicit by-version audit read."""
    lake.create_namespace("lab")
    t = lake.create_table("lab.wap_ts", schema="k bigint")
    t.append(spark.createDataFrame([(1,)], "k bigint"))
    t.stage_append(spark.createDataFrame([(2,)], "k bigint"), wap_id="w1")
    time.sleep(0.05)
    assert {r.k for r in t.read(as_of=time.time()).collect()} == {1}
