"""Single-partition, JVM-only DataFrames from small driver-held row lists.

`spark.createDataFrame(rows, schema)` parallelizes pickled rows into
``defaultParallelism`` Python-runner partitions: a 20-row frame costs a
multi-task job to collect (~280 ms on local[32]) and ~500 ms to write.
The engine builds hundreds of such frames: metadata views
(snapshots/files/history), SQL result frames (SHOW/DESCRIBE/CALL),
micro-batch commits and the lifecycle queries' verification rows.
`local_df` builds each one as a LocalRelation instead (pure JVM, single
partition, no Python runner, no shuffle; collect runs no Spark job), by
one of two paths picked from the schema's column types:

- **Arrow** (every column flat: boolean, integers, float, double,
  string, binary, date, timestamp -- the types the lakehouse's driver-
  side writer `fastwrite` writes). The rows become a `pyarrow.Table`
  and `spark.createDataFrame(table, schema)` plans it as a
  LocalRelation with the declared nullability. A value whose Python
  type the column does not claim (an int in a timestamp column, a
  float in an integer column: pyarrow would reinterpret or truncate
  them) sends the frame to the VALUES path instead, so both paths
  accept exactly the same inputs. Empty frames of any schema take this
  path too: with no rows there is no value to convert.
- **VALUES** (maps, arrays, decimals, structs, timestamp_ntz). The rows
  render as a ``SELECT CAST(...) FROM VALUES`` text that Spark's
  parser folds to a LocalRelation. Every literal renders round-
  trippable (repr for floats, microsecond timestamps, hex for binary)
  and each column is CAST to its declared type, so values are
  identical to the createDataFrame spelling. A nullable field is
  wrapped as ``IF(true, x, NULL)`` (an all-literal VALUES column is
  otherwise non-nullable); a non-nullable field is a bare CAST.

  The VALUES path stays for these types because the Arrow path is not
  value-exact on them: on pyspark 4.1.2 a null map cell comes back as
  an empty map. Repro::

      s = "m map<string,array<string>>"
      t = pa.table({"m": pa.array([None], type=pa.map_(pa.string(),
                                                    pa.list_(pa.string())))})
      spark.createDataFrame(t, s).collect()       # [Row(m={})]
      spark.createDataFrame([(None,)], s).collect()  # [Row(m=None)]

  `files.column_stats` is exactly that column type.

Either way the frame's schema is exactly the declared one, nullability
included: the Arrow path hands Spark the declared schema, and the
VALUES path checks its analyzed schema against it. A VALUES mismatch
(a null in a non-nullable field), more than `_MAX_ROWS` rows (the SQL
text would be megabytes), or a row that is not a positional
tuple/list/Row falls back to `spark.createDataFrame(rows, schema)`.

**Carried rows.** An Arrow-built frame also carries its rows: the
exact DataFrame object `local_df` returns holds them, and `carried_rows`
hands them out, equal value for value to what ``df.collect()`` would
return (timestamps as naive local datetimes, floats at the column's
precision) -- they are read back from the Arrow columns, not copied
from the input. The lakehouse commit writer uses them instead of
inspecting the plan and collecting. Any derived frame (filter, select,
a write-path cast) is a new object without them, so it is never
written with the source frame's rows.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_MAX_ROWS = 500

# (session id, schema json) -> the empty-LocalRelation frame. Empty
# frames are pure values (immutable plan, no data), so one build per
# schema per session serves every caller -- lifecycle entries build the
# same empty shapes repeatedly (changelog per-version diffs, delete-all
# survivors) and each build is several py4j round trips otherwise.
_EMPTY_MEMO: dict = {}

_ROWS_ATTR = "_lh_local_rows"

# flat Spark type -> the Python classes the Arrow path takes for it
_FLAT = {
    T.BooleanType: bool,
    T.ByteType: int,
    T.ShortType: int,
    T.IntegerType: int,
    T.LongType: int,
    T.FloatType: (float, int),
    T.DoubleType: (float, int),
    T.StringType: str,
    T.BinaryType: (bytes, bytearray),
    T.DateType: _dt.date,
    T.TimestampType: _dt.datetime,
}

__all__ = ["local_df", "carried_rows"]


def carried_rows(df: DataFrame) -> tuple | None:
    """The rows an Arrow-built `local_df` frame carries (equal to its
    ``collect()``), or None for any other frame, derived ones included."""
    return vars(df).get(_ROWS_ATTR)


def _schema_of(schema: T.StructType | str) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


class _Unrenderable(Exception):
    pass


def _lit(v, dt: T.DataType) -> str:
    """Render one Python value as a Spark SQL literal of `dt`."""
    if v is None:
        return "NULL"
    if isinstance(dt, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return str(int(v))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        f = float(v)
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(f):
            return f"CAST('{'Infinity' if f > 0 else '-Infinity'}' AS DOUBLE)"
        return repr(f)  # shortest round-trip repr parses back exactly
    if isinstance(dt, T.DecimalType):
        return f"CAST({Decimal(v)} AS {dt.simpleString().upper()})"
    if isinstance(dt, T.StringType):
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if isinstance(dt, T.BinaryType):
        return f"X'{bytes(v).hex()}'"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:  # session TZ is UTC (session.py)
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            kw = "TIMESTAMP_NTZ" if isinstance(dt, T.TimestampNTZType) else "TIMESTAMP"
            return f"{kw} '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
        raise _Unrenderable(type(v))
    if isinstance(dt, T.DateType):
        if isinstance(v, _dt.date):
            return f"DATE '{v.isoformat()}'"
        raise _Unrenderable(type(v))
    if isinstance(dt, T.ArrayType):
        if isinstance(v, (list, tuple)):
            inner = ", ".join(_lit(e, dt.elementType) for e in v)
            return f"ARRAY({inner})"
        raise _Unrenderable(type(v))
    if isinstance(dt, T.MapType):
        if isinstance(v, dict):
            if not v:
                kt = dt.keyType.simpleString()
                vt = dt.valueType.simpleString()
                return f"CAST(MAP() AS MAP<{kt}, {vt}>)"
            parts = []
            for k, mv in v.items():
                parts.append(_lit(k, dt.keyType))
                parts.append(_lit(mv, dt.valueType))
            return f"MAP({', '.join(parts)})"
        raise _Unrenderable(type(v))
    raise _Unrenderable(dt)  # structs etc. -> fallback


def _carry(df: DataFrame, rows: tuple, sch: T.StructType) -> DataFrame:
    setattr(df, _ROWS_ATTR, rows)
    # pyspark 4.1's DataFrame.schema is a cached_property that asks the
    # JVM (two py4j calls) on first use; the JVM schema of an Arrow-built
    # frame IS the declared one, so seed the cache with a private copy
    # (a no-op where `schema` is a plain property)
    vars(df)["schema"] = T._parse_datatype_json_string(sch.json())
    return df


def _empty_df(spark: SparkSession, sch: T.StructType) -> DataFrame:
    """The memoized empty LocalRelation of `sch` (`createDataFrame([],
    sch)` would build a LogicalRDD whose every action runs a job over
    nothing, and the fast writer could not claim it)."""
    key = (id(spark), sch.json())  # json: nullability-exact
    out = _EMPTY_MEMO.get(key)
    if out is not None:
        return out
    try:
        empty = to_arrow_schema(sch).empty_table()
    except TypeError:  # a type Arrow cannot carry (char, varchar, interval)
        return spark.createDataFrame([], sch)
    out = _carry(spark.createDataFrame(empty, sch), (), sch)
    while len(_EMPTY_MEMO) >= 256:
        try:  # concurrent threads may race the eviction; a missed
            _EMPTY_MEMO.pop(next(iter(_EMPTY_MEMO)))  # pop is fine
        except (KeyError, StopIteration):
            break
    _EMPTY_MEMO[key] = out
    return out


def _arrow_df(spark: SparkSession, rows: list, sch: T.StructType) -> DataFrame | None:
    """The Arrow-built frame of a flat schema, carrying its rows as
    collect() returns them; None when a value's Python type is not the
    one its column claims (or does not fit it)."""
    arrow_schema = to_arrow_schema(sch)
    cols, collected = [], []
    for i, f in enumerate(sch.fields):
        vals = [r[i] for r in rows]
        ok = _FLAT[type(f.dataType)]
        if not all(v is None or isinstance(v, ok) for v in vals):
            return None
        if isinstance(f.dataType, T.TimestampType):
            # naive = session TZ (UTC, session.py), as in `_lit`; pyarrow
            # keeps an aware value's wall clock, so shift it to UTC here
            vals = [
                v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                if v is not None and v.tzinfo is not None
                else v
                for v in vals
            ]
        try:
            col = pa.array(vals, type=arrow_schema.field(i).type)
        except (pa.ArrowException, TypeError, ValueError, OverflowError):
            return None
        if col.null_count and not f.nullable:
            return None
        cols.append(col)
        if isinstance(f.dataType, T.TimestampType):
            # collect renders instants as naive local datetimes
            to_py = f.dataType.fromInternal
            collected.append(
                [None if v is None else to_py(v) for v in col.cast(pa.int64()).to_pylist()]
            )
        else:
            collected.append(col.to_pylist())
    df = spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow_schema), sch)
    make = Row(*sch.names)
    return _carry(df, tuple(make(*r) for r in zip(*collected)), sch)


def local_df(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A DataFrame of literal `rows` with `schema`, built as a pure-JVM
    LocalRelation when possible (see the module docstring for the
    Arrow and VALUES paths), else the plain `spark.createDataFrame`.

    `rows` are positional (tuple / list / Row). Intended for SMALL
    frames (metadata views, result rows, micro-batches); row lists
    longer than 500 fall back."""
    sch = _schema_of(schema)
    rows = list(rows)
    if len(rows) > _MAX_ROWS:
        return spark.createDataFrame(rows, sch)
    if not rows:
        return _empty_df(spark, sch)
    types = [f.dataType for f in sch.fields]
    if any(not isinstance(r, (tuple, list)) or len(r) != len(types) for r in rows):
        return spark.createDataFrame(rows, sch)
    if all(type(t) in _FLAT for t in types):
        out = _arrow_df(spark, rows, sch)
        if out is not None:
            return out
    try:
        rendered = [
            "(" + ", ".join(_lit(v, t) for v, t in zip(r, types)) + ")"
            for r in rows
        ]
    except _Unrenderable:
        return spark.createDataFrame(rows, sch)
    # IF(true, x, NULL) marks a nullable column nullable at analysis
    # time (an all-literal VALUES column would otherwise come out
    # non-nullable); the optimizer folds the IF away before execution
    casts = ", ".join(
        f"CAST({f'IF(true, col{i + 1}, NULL)' if f.nullable else f'col{i + 1}'} "
        f"AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(sch.fields)
    )
    out = spark.sql(f"SELECT {casts} FROM VALUES {', '.join(rendered)}")
    if out.schema != sch:  # e.g. a null in a non-null field -- stay exact
        return spark.createDataFrame(rows, sch)
    return out
