"""The Iceberg metadata-table surface beyond .snapshots/.files:
`.history`, `.entries`, `.all_files`, `.position_deletes` — plus their
SQL suffixes through the statement router. The reference's guide
builds its whole verification methodology on metadata-table queries
(/root/reference/SPARK_ICEBERG_GUIDE.md:132-134, :175-185, :304-316);
these are the remaining tables Iceberg exposes for the same audits.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from local_datalakehouse_phase2_spark.lakehouse import (
    Lakehouse,
    LakehouseSQL,
    rollback_to_snapshot,
)


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )


def test_history_rollback_marks_abandoned_lineage(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.h", schema="k bigint, v string")
    t.append(_mk(spark, 0, 10))
    v1 = t.log.latest_version()
    t.append(_mk(spark, 10, 20))
    v2 = t.log.latest_version()
    rollback_to_snapshot(t, v1)
    hist = {r.snapshot_id: r for r in t.history().collect()}
    assert hist[v2].is_current_ancestor is False  # rolled over
    assert hist[v1].is_current_ancestor is True
    # the rollback snapshot's parent is its TARGET, not v2
    head = max(hist)
    assert hist[head].parent_id == v1 and hist[head].is_current_ancestor
    # roll forward again: v2 rejoins the lineage through the new head
    rollback_to_snapshot(t, v2)
    hist2 = {r.snapshot_id: r for r in t.history().collect()}
    assert hist2[v2].is_current_ancestor is True
    assert hist2[head].is_current_ancestor is False  # the first rollback


def test_history_excludes_stage_snapshots(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.hs", schema="k bigint, v string")
    t.append(_mk(spark, 0, 5))
    t.stage_append(_mk(spark, 5, 8), wap_id="audit-1")
    ids = {r.snapshot_id for r in t.history().collect()}
    stage = [e for e in t.log.entries() if e.operation == "stage"]
    assert stage and all(e.snapshot_id not in ids for e in stage)
    # snapshots view still shows it (the audit view) — history does not
    assert t.snapshots().filter("operation = 'stage'").count() == 1


def test_entries_tracks_added_and_deleted(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.e", schema="k bigint, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(_mk(spark, 0, 10).coalesce(1))
    t.append(_mk(spark, 10, 20).coalesce(1))
    t.delete_where("k = 3")
    ent = t.entries().collect()
    assert sum(1 for r in ent if r.status == 1) == 3  # 2 data + 1 delete file
    assert sum(1 for r in ent if r.status == 2) == 0
    added_contents = {r.content for r in ent if r.status == 1}
    assert added_contents == {0, 1}
    t.overwrite(_mk(spark, 0, 5).coalesce(1))
    ent2 = t.entries().collect()
    assert sum(1 for r in ent2 if r.status == 2) == 3  # all three replaced


def test_all_files_supersets_live_files(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table("lab.af", schema="k bigint, v string")
    t.append(_mk(spark, 0, 10).coalesce(1))
    t.overwrite(_mk(spark, 0, 5).coalesce(1))
    live = {r.file_path for r in t.files().collect()}
    every = {r.file_path for r in t.all_files().collect()}
    assert live < every  # the overwritten file is still snapshot-reachable
    assert len(every) == 2 and len(live) == 1


def test_position_deletes_rows_and_source_files(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.pd", schema="k bigint, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(_mk(spark, 0, 30).coalesce(2))
    t.delete_where("k IN (1, 7, 20)")
    pd_rows = t.position_deletes().collect()
    assert len(pd_rows) == 3
    assert len({r.delete_file_path for r in pd_rows}) == 1  # AQE-sized: one file
    # referenced data files resolve to live content=0 files
    live = {r.file_path for r in t.files().filter("content = 0").collect()}
    assert all(any(lf.endswith(r.file_path) for lf in live) for r in pd_rows)


def test_sql_metadata_suffixes(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.sq", schema="k bigint, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(_mk(spark, 0, 10).coalesce(1))
    t.delete_where("k = 2")
    sql = LakehouseSQL(lake)
    assert sql.sql("SELECT COUNT(*) AS n FROM lab.sq.history").first().n == 3
    assert (
        sql.sql(
            "SELECT COUNT(*) AS n FROM lab.sq.entries WHERE status = 1"
        ).first().n
        == 2
    )
    assert sql.sql("SELECT COUNT(*) AS n FROM lab.sq.all_files").first().n == 2
    got = sql.sql(
        "SELECT pos FROM lab.sq.position_deletes ORDER BY pos"
    ).collect()
    assert [r.pos for r in got] == [2]
    # suffix must not shadow the plain table reference in the same query
    joined = sql.sql(
        "SELECT COUNT(*) AS n FROM lab.sq WHERE k NOT IN "
        "(SELECT pos FROM lab.sq.position_deletes)"
    ).first()
    assert joined.n == 9


def test_drop_column_metadata_only(spark, lake):
    from local_datalakehouse_phase2_spark.lakehouse import LakehouseSQL

    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.dc", schema="k bigint, v string, extra double",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(
        spark.range(0, 10).selectExpr(
            "id AS k", "concat('v', id) AS v", "CAST(id * 1.5 AS DOUBLE) AS extra"
        )
    )
    v1 = t.log.latest_version()
    files_before = {fi.path for fi in t.log.state_at().values()}
    t.drop_column("extra")
    assert t.read().columns == ["k", "v"]
    # metadata-only: zero files touched; time travel still sees it
    assert {fi.path for fi in t.log.state_at().values()} == files_before
    assert "extra" in t.read(version=v1).columns
    assert t.read(version=v1).agg({"extra": "sum"}).first()[0] == sum(
        i * 1.5 for i in range(10)
    )
    # appends after the drop need not carry the column
    t.append(spark.createDataFrame([(100, "x")], "k bigint, v string"))
    assert t.read().count() == 11
    with pytest.raises(ValueError, match="does not exist"):
        t.drop_column("extra")
    t.drop_column("k")  # legal: v remains
    with pytest.raises(ValueError, match="only column"):
        t.drop_column("v")


def test_drop_column_guards(spark, lake):
    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.dcg",
        schema="k bigint, cat string, v string",
        properties={"partition.spec": "cat", "write.sort-order": "v"},
    )
    t.append(
        spark.range(0, 6).selectExpr(
            "id AS k", "concat('c', id % 2) AS cat", "concat('v', id) AS v"
        )
    )
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("cat")
    with pytest.raises(ValueError, match="sort-order"):
        t.drop_column("v")
    t2 = lake.create_table("lab.dcg2", schema="k bigint, v string")
    t2.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t2.equality_delete(spark.createDataFrame([("a",)], "v string"), ["v"])
    with pytest.raises(ValueError, match="equality-delete"):
        t2.drop_column("v")
    # SQL surface
    from local_datalakehouse_phase2_spark.lakehouse import LakehouseSQL

    sql = LakehouseSQL(lake)
    t3 = lake.create_table("lab.dcg3", schema="k bigint, v string")
    sql.sql("ALTER TABLE lab.dcg3 DROP COLUMN v")
    assert [f.name for f in t3.schema().fields] == ["k"]


def test_metadata_views_are_local_relations_that_run_zero_jobs(spark, lake):
    """Every driver-built metadata view plans a LocalRelation whose
    schema is exactly its declared StructType (nullability included,
    JVM side too) and collects without a single Spark job -- a view is a
    log read, not a cluster job."""
    from pyspark.sql import types as T

    from local_datalakehouse_phase2_spark.lakehouse import table as tmod

    lake.create_namespace("lab")
    t = lake.create_table(
        "lab.z", schema="k bigint, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(_mk(spark, 0, 10).coalesce(1))
    t.append(_mk(spark, 10, 20).coalesce(1))
    t.delete_where("k = 3")  # a delete file + null entries columns
    t.overwrite(_mk(spark, 0, 5).coalesce(1))  # removed-file entries
    views = {
        "history": tmod.HISTORY_SCHEMA,
        "snapshots": tmod.SNAPSHOTS_SCHEMA,
        "entries": tmod.ENTRIES_SCHEMA,
        "files": tmod.FILES_SCHEMA,
        "all_files": tmod.FILES_SCHEMA,
        "partitions": tmod.PARTITIONS_SCHEMA,
        "refs": tmod.REFS_SCHEMA,
    }
    sc = spark.sparkContext
    jobs = {}
    for with_refs in (False, True):  # refs: empty, then populated
        if with_refs:
            t.create_branch("audit")
            t.create_tag("v1")
        for name, declared in views.items():
            df = getattr(lake.table("lab.z"), name)()
            plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            assert plan == "LocalRelation", (name, plan)
            assert df.schema == declared, name
            jvm = T._parse_datatype_json_string(df._jdf.schema().json())
            assert jvm == declared, (name, jvm)
            group = f"view-gate-{name}-{with_refs}"
            sc.setJobGroup(group, "metadata view collect")
            try:
                rows = df.collect()
            finally:
                sc.setJobGroup(None, None)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            assert rows or (name == "refs" and not with_refs), name
    assert jobs == {name: 0 for name in views}, f"Spark jobs per view: {jobs}"
