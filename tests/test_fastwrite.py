"""Driver-side fast write path (lakehouse/fastwrite.py).

The contract: a LocalRelation-backed append commits byte-equivalent
TABLE STATE to the Spark-writer path — same values under every reader
(engine read, footer-stats harvest, DuckDB second engine), same
row order inside the file (position deletes planned later must stay
valid) — while never claiming writes it can't reproduce exactly
(partition specs, sort orders, distribution modes, empty frames,
unsupported types all fall back to the Spark writer).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pytest

from pyspark.sql import functions as F

from local_datalakehouse_phase2_spark.lakehouse import Lakehouse
from local_datalakehouse_phase2_spark.lakehouse import fastwrite
from local_datalakehouse_phase2_spark.localrows import carried_rows, local_df


@pytest.fixture()
def lake(spark, tmp_path):
    lh = Lakehouse(spark, str(tmp_path / "warehouse"))
    lh.create_namespace("fw")
    return lh


def _spy(monkeypatch):
    """Count fast-path writes without changing behavior."""
    calls = []
    orig = fastwrite.write_rows

    def wrapper(tbl, path):
        calls.append(path)
        return orig(tbl, path)

    monkeypatch.setattr(fastwrite, "write_rows", wrapper)
    return calls


DDL = (
    "k bigint, s string, d double, dte date, ts timestamp, "
    "dec decimal(10,2), arr array<bigint>, b boolean"
)
ROWS = [
    (
        1,
        "alpha",
        1.5,
        dt.date(2024, 1, 2),
        dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
        Decimal("12.34"),
        [1, 2, None],
        True,
    ),
    (2, "it's — quoted", float("nan"), None, None, None, [], False),
    (3, None, None, None, None, None, None, None),
]


def test_local_append_takes_fast_path_and_round_trips(spark, lake, monkeypatch):
    calls = _spy(monkeypatch)
    t = lake.create_table("fw.t", schema=DDL)
    t.append(local_df(spark, ROWS, DDL))
    assert len(calls) == 1, "LocalRelation append must route driver-side"

    got = lake.read("fw.t").orderBy("k").collect()
    want = (
        spark.createDataFrame(ROWS, DDL).orderBy("k").collect()
    )
    for g, w in zip(got, want):
        for c in ("k", "s", "dte", "ts", "dec", "arr", "b"):
            assert g[c] == w[c], (c, g[c], w[c])
    # NaN compares unequal to itself — check identity-class instead
    assert got[1]["d"] != got[1]["d"] and want[1]["d"] != want[1]["d"]
    assert got[0]["d"] == 1.5 and got[2]["d"] is None


def test_fast_path_file_matches_spark_writer_for_second_engine(
    spark, lake, tmp_path, monkeypatch
):
    """DuckDB (the second engine) must read identical values from a
    fast-path file and a Spark-written file of the same rows."""
    calls = _spy(monkeypatch)
    t = lake.create_table("fw.dual", schema=DDL)
    t.append(local_df(spark, ROWS, DDL))  # fast path
    # same rows via the Spark writer: scan-backed plans are ineligible
    t2 = lake.create_table("fw.dual_spark", schema=DDL)
    t2.append(spark.createDataFrame(ROWS, DDL).repartition(2).sortWithinPartitions("k"))
    assert len(calls) == 1

    q = (
        "SELECT k, s, CAST(d AS VARCHAR) AS d, dte, CAST(ts AS VARCHAR) AS ts, dec, arr, b "
        "FROM read_parquet('{}/fw/{}/data/**/*.parquet') ORDER BY k"
    )
    con = duckdb.connect()
    a = con.execute(q.format(lake.warehouse_dir, "dual")).fetchall()
    b = con.execute(q.format(lake.warehouse_dir, "dual_spark")).fetchall()
    assert [r[:2] for r in a] == [r[:2] for r in b]
    assert a == b


def test_fast_path_records_footer_stats(spark, lake, monkeypatch):
    calls = _spy(monkeypatch)
    t = lake.create_table("fw.stats", schema="k bigint, s string")
    t.append(local_df(spark, [(5, "m"), (9, "z"), (1, "a")], "k bigint, s string"))
    assert calls
    [fi] = t.log.state_at().values()
    assert fi.row_count == 3
    assert fi.stats["k"][:2] == [1, 9]
    assert fi.stats["s"][:2] == ["a", "z"]


def test_scan_backed_and_unsupported_fall_back(spark, lake, sf_small, monkeypatch):
    calls = _spy(monkeypatch)
    t = lake.create_table("fw.fb", schema="n_nationkey bigint, n_name string")
    nation = spark.read.parquet(f"{sf_small}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    t.append(nation.filter(F.col("n_nationkey") < 3))  # scan-backed
    m = lake.create_table("fw.map", schema="m map<string,bigint>")
    mdf = local_df(spark, [({"a": 1},)], "m map<string,bigint>")
    assert (
        mdf._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        == "LocalRelation"
    ), "precondition: the map frame must reach the fast-path gate"
    m.append(mdf)  # unsupported column type -> Spark writer
    assert calls == []
    assert lake.read("fw.fb").count() == 3


def test_empty_local_append_takes_fast_path_with_spark_shape(spark, lake, monkeypatch):
    """An EMPTY LocalRelation append is claimed by the fast path (r16)
    and its observable output matches the Spark writer's empty-frame
    special case exactly: ONE empty schema-bearing parquet file."""
    calls = _spy(monkeypatch)
    t = lake.create_table("fw.empty", schema="k bigint, v string")
    e = local_df(spark, [], "k bigint, v string")
    assert (
        e._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        == "LocalRelation"
    )
    entry = t.append(e)
    assert len(calls) == 1  # the pyarrow path wrote it
    assert len(entry.added_files) == 1  # one file, like Spark
    assert entry.added_files[0].row_count == 0
    assert lake.read("fw.empty").count() == 0
    assert lake.read("fw.empty").schema == e.schema  # schema survives


def test_delete_all_rows_commits_empty_survivors_via_fast_path(spark, lake, monkeypatch):
    """delete_where that empties every affected file: the survivors
    write takes the fast path (zero Spark write jobs) and the table
    reads back empty with one 0-row file in the state."""
    calls = _spy(monkeypatch)
    t = lake.create_table("fw.delall", schema="k bigint, v string")
    t.append(local_df(spark, [(1, "a"), (2, "b")], "k bigint, v string"))
    t.delete_where("k >= 0")
    assert any(calls), "survivors write must take the pyarrow path"
    state = t.log.state_at()
    assert [fi.row_count for fi in state.values()] == [0]
    assert t.read().count() == 0


def test_fast_path_respects_table_shaping_properties(spark, lake, monkeypatch):
    """Sort-order / distribution-mode / partition-spec tables keep the
    Spark writer: their file layout is observable (files metadata view,
    pruning demos) and the fast path must not change it."""
    calls = _spy(monkeypatch)
    rows = [(i, f"s{i}") for i in range(10)]
    for name, props in [
        ("fw.sorted", {"write.sort-order": "k desc"}),
        ("fw.hashed", {"write.distribution-mode": "hash", "write.hash-columns": "k"}),
        ("fw.parted", {"partition.spec": "bucket(4, k)"}),
    ]:
        t = lake.create_table(name, schema="k bigint, s string", properties=props)
        t.append(local_df(spark, rows, "k bigint, s string"))
        assert calls == [], name
        assert lake.read(name).count() == 10


def test_position_deletes_valid_against_fast_path_file(spark, lake, monkeypatch):
    """Row order inside a fast-path file must support position deletes
    planned AFTER the write (merge-on-read DELETE)."""
    calls = _spy(monkeypatch)
    rows = [(i, f"v{i}") for i in range(20)]
    t = lake.create_table("fw.mor", schema="k bigint, s string")
    t.append(local_df(spark, rows, "k bigint, s string"))
    assert len(calls) == 1
    t.delete_where("k % 3 = 0", mode="merge-on-read")
    got = sorted(r.k for r in lake.read("fw.mor").collect())
    assert got == [i for i in range(20) if i % 3 != 0]


FLAT = "k bigint, s string, d double, ts timestamp"
FLAT_ROWS = [
    (i, f"s{i}", i * 0.25, dt.datetime(2024, 1, 1, 0, 0, i % 60, i)) for i in range(50)
]


def test_derived_frames_write_their_own_rows(spark, lake, monkeypatch):
    """Only the frame local_df returns carries rows: every derived frame
    (filter, limit, select, withColumn, a write-path cast) must commit
    ITS rows, never the carried source rows."""
    calls = _spy(monkeypatch)
    src = local_df(spark, FLAT_ROWS, FLAT)
    assert carried_rows(src) is not None
    derived = {
        "filter": (src.filter(F.col("k") % 7 == 0), FLAT),
        "limit": (src.limit(5), FLAT),
        "select": (src.select("k", "s"), "k bigint, s string"),
        "with_column": (src.withColumn("d", F.col("d") * 2), FLAT),
    }
    for name, (frame, ddl) in derived.items():
        assert carried_rows(frame) is None, name
        t = lake.create_table(f"fw.derived_{name}", schema=ddl)
        t.append(frame)
        stored = lake.read(f"fw.derived_{name}").collect()
        assert sorted(stored) == sorted(frame.collect()), name
    assert len(calls) == len(derived)  # all still driver-side writes

    # a narrower frame: _align_for_write casts int -> bigint, float ->
    # double; the commit must hold the cast values
    narrow = local_df(spark, [(i, i + 0.5) for i in range(10)], "k int, d float")
    assert carried_rows(narrow) is not None
    t = lake.create_table("fw.derived_cast", schema="k bigint, d double")
    t.append(narrow)
    got = lake.read("fw.derived_cast")
    assert got.schema.simpleString() == "struct<k:bigint,d:double>"
    assert sorted(got.collect()) == [(i, i + 0.5) for i in range(10)]


@pytest.mark.parametrize("zone", [None, "America/New_York"])
def test_carried_rows_equal_collect(spark, monkeypatch, zone):
    """The rows the writer takes instead of collect() are collect(),
    value for value and type for type: float32 rounding, bytes, and
    timestamps (naive, and aware in another zone) included -- also when
    the driver's local zone (which collect renders instants in) is not
    the session's UTC."""
    import time

    if zone is not None:
        monkeypatch.setenv("TZ", zone)
        time.tzset()
    try:
        _check_carried_rows_equal_collect(spark)
    finally:
        monkeypatch.undo()
        time.tzset()


def _check_carried_rows_equal_collect(spark):
    rows = [
        (1, 7, 0.1, 1 / 3, "a'b", b"\x00\xff", dt.date(2024, 1, 2),
         dt.datetime(2024, 1, 2, 3, 4, 5, 123456), True),
        (-(2**62), None, None, -0.0, "", bytearray(b"x"), None,
         dt.datetime(2024, 6, 1, 12, tzinfo=dt.timezone(dt.timedelta(hours=2))), None),
    ]
    df = local_df(
        spark, rows,
        "k bigint, i int, f float, d double, s string, raw binary, "
        "dte date, ts timestamp, b boolean",
    )
    carried, collected = carried_rows(df), df.collect()
    assert list(carried) == collected
    for c, r in zip(carried, collected):
        assert [type(v) for v in c] == [type(v) for v in r], (c, r)


def test_local_append_skips_plan_inspection_and_collect(spark, lake, monkeypatch):
    """The commit of a local_df frame makes no JVM round trip for its
    rows: zero DataFrame.collect calls, zero optimizedPlan() calls --
    zero py4j method calls at all -- and still one fastwrite.write_rows
    file."""
    from py4j import clientserver, java_gateway
    from pyspark.sql import DataFrame

    t = lake.create_table("fw.counted", schema=FLAT)
    t.schema()  # the table DDL's one-time parse is not the commit's cost
    frame = local_df(spark, FLAT_ROWS, FLAT)
    writes = _spy(monkeypatch)
    counts = {"collect": 0, "optimizedPlan": 0, "py4j_calls": 0}
    orig_collect = DataFrame.collect

    def collect(self):
        counts["collect"] += 1
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", collect)
    for conn in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):

        def send(self, command, _orig=conn.send_command):
            kind, _target, method = (command.split("\n") + ["", ""])[:3]
            if kind == "c":  # a method call (not a GC dereference)
                counts["py4j_calls"] += 1
                counts["optimizedPlan"] += method == "optimizedPlan"
            return _orig(self, command)

        monkeypatch.setattr(conn, "send_command", send)
    t.append(frame)
    monkeypatch.undo()
    assert counts["collect"] == 0, f"append called DataFrame.collect {counts['collect']} time(s)"
    assert counts["optimizedPlan"] == 0, (
        f"append inspected the optimized plan {counts['optimizedPlan']} time(s)"
    )
    assert counts["py4j_calls"] == 0, f"append made {counts['py4j_calls']} py4j call(s)"
    assert len(writes) == 1, f"{len(writes)} fastwrite.write_rows file(s), want 1"
    assert sorted(lake.read("fw.counted").collect()) == sorted(frame.collect())
