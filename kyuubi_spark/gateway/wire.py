"""Result-set wire encoding: Hive-style value rendering + TRowSet shapes.

Counterparts in the reference:
- RowSet.toHiveString (externals/kyuubi-spark-sql-engine/.../schema/
  RowSet.scala:40-58) delegates nested-value rendering to Spark's
  HiveResult: arrays `[a,b]`, maps `{k:v}` with sorted entries, structs
  `{"field":value}`, nested strings quoted, nested null lowercase.
- TRowSetGenerator.toRowBasedSet/toColumnBasedSet (kyuubi-common/.../engine/
  result/TRowSetGenerator.scala:25-59): protocol >= V6 ships columnar
  TColumns (one values vector + null bitmask per column), older protocols
  ship row-based TRows.

There is one TColumn writer, ``to_column_based_set``. It encodes a page
column by column straight from Arrow into TBinaryProtocol bytes, which
gateway.thrift splices into the FetchResults reply:

- fixed-width columns (boolean, tinyint .. bigint, float, double) become
  big-endian numpy bytes, nulls filled with 0;
- string and binary columns get a vectorised length-prefix interleave,
  nulls as empty strings;
- decimal and date columns render through an Arrow cast to string;
- the types whose Arrow text differs from HiveResult's fall back to
  ``to_hive_string`` per value, one column at a time: timestamps, day-time
  intervals, nested types (arrays, maps, structs, and the binary values
  nested in them, decoded as UTF-8) and decimal columns holding a value in
  scientific notation (see ``_text``);
- small pages of Python rows (metadata, log, plan-only, ``%json``,
  forwarded results) become Arrow columns of the carried type first.

The row-based shape stays a JSON-able dict of rendered cells.
"""

from __future__ import annotations

import math
import struct
from datetime import date, datetime, timedelta, tzinfo
from decimal import Decimal
from typing import Any, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

__all__ = [
    "to_hive_string",
    "to_row_based_set",
    "to_column_based_set",
    "wire_safe_df",
]


def _fmt_daytime_interval(td: timedelta) -> str:
    """HIVE-style day-time interval: ``[-]d hh:mm:ss.fffffffff`` with a
    9-digit fraction and the sign on the day field even for -0 — the
    exact strings the reference's RowSet ships (RowSet.scala
    toDayTimeIntervalString HIVE_STYLE; SparkDataTypeTests.scala:251-277
    pins e.g. ``-0 00:59:30.000000000``)."""
    micros = (
        td.days * 86_400_000_000 + td.seconds * 1_000_000 + td.microseconds
    )
    sign = "-" if micros < 0 else ""
    a = abs(micros)
    days, rest = divmod(a, 86_400_000_000)
    hh, rest = divmod(rest, 3_600_000_000)
    mm, rest = divmod(rest, 60_000_000)
    ss, us = divmod(rest, 1_000_000)
    return f"{sign}{days} {hh:02d}:{mm:02d}:{ss:02d}.{us * 1000:09d}"


def _fmt_float(v: float) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    return repr(v)


def _fmt_ts(v: datetime, tz: tzinfo | None) -> str:
    # session-tz wall clock, trailing zero micros trimmed (HiveResult)
    if tz is not None and v.tzinfo is not None:
        v = v.astimezone(tz)
    s = v.strftime("%Y-%m-%d %H:%M:%S")
    if v.microsecond:
        s += (".%06d" % v.microsecond).rstrip("0")
    return s


def to_hive_string(
    value: Any, dt: T.DataType, nested: bool = False, tz: tzinfo | None = None
) -> str:
    """Render one value the way HiveResult.toHiveString does (the wire
    format JDBC clients see for nested types, SchemaHelper maps
    ARRAY/MAP/STRUCT to STRING columns carrying these).  A zone-aware
    timestamp renders as its wall clock in ``tz``, the session time zone,
    when given."""
    if value is None:
        return "null" if nested else "NULL"
    if isinstance(dt, T.ArrayType):
        return "[" + ",".join(
            to_hive_string(v, dt.elementType, True, tz) for v in value
        ) + "]"
    if isinstance(dt, T.MapType):
        entries = sorted(
            to_hive_string(k, dt.keyType, True, tz)
            + ":"
            + to_hive_string(v, dt.valueType, True, tz)
            for k, v in value.items()
        )
        return "{" + ",".join(entries) + "}"
    if isinstance(dt, T.StructType):
        vals = list(value)
        return "{" + ",".join(
            f'"{f.name}":{to_hive_string(v, f.dataType, True, tz)}'
            for f, v in zip(dt.fields, vals)
        ) + "}"
    if isinstance(dt, T.BooleanType):
        return "true" if value else "false"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return _fmt_float(float(value))
    if isinstance(dt, T.DecimalType):
        # in the engineering form a JVM BigDecimal reaches Python in (it is
        # pickled as toEngineeringString): 1E-10 at scale 10 is "1.00E-10"
        return str(Decimal(Decimal(value).to_eng_string()))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return _fmt_ts(value, tz)
    if isinstance(dt, T.DayTimeIntervalType):
        return _fmt_daytime_interval(value)
    if isinstance(dt, T.DateType):
        return value.isoformat() if isinstance(value, date) else str(value)
    if isinstance(dt, T.BinaryType):
        return bytes(value).decode("utf-8", errors="replace")
    if isinstance(dt, T.StringType):
        return f'"{value}"' if nested else str(value)
    return str(value)


def to_row_based_set(rows: Sequence[Sequence[Any]], schema: T.StructType) -> dict:
    """Pre-V6 row-oriented shape: one rendered cell list per row."""
    return {
        "startRowOffset": 0,
        "rows": [
            [to_hive_string(v, f.dataType) for v, f in zip(row, schema.fields)]
            for row in rows
        ],
    }


# -- the TColumn writer ------------------------------------------------------

# TBinaryProtocol type codes of the TColumn layout
_T_BOOL, _T_BYTE, _T_DOUBLE, _T_I16, _T_I32, _T_I64 = 2, 3, 4, 6, 8, 10
_T_STRING, _T_STRUCT, _T_LIST = 11, 12, 15

# TColumn union slot of each Spark type (SchemaHelper's TTypeId → the
# T*Column it rides); every other type rides TStringColumn, slot 7
_SLOT = {
    T.BooleanType: 1, T.ByteType: 2, T.ShortType: 3, T.IntegerType: 4,
    T.LongType: 5, T.FloatType: 6, T.DoubleType: 6, T.BinaryType: 8,
}
# fixed-width slot → (element type, Arrow carrier, big-endian numpy dtype)
_FIXED = {
    1: (_T_BOOL, pa.bool_(), ">u1"),
    2: (_T_BYTE, pa.int8(), ">i1"),
    3: (_T_I16, pa.int16(), ">i2"),
    4: (_T_I32, pa.int32(), ">i4"),
    5: (_T_I64, pa.int64(), ">i8"),
    6: (_T_DOUBLE, pa.float64(), ">f8"),
}
_PY_FIXED = {1: bool, 2: int, 3: int, 4: int, 5: int, 6: float}
_BE_I32 = np.dtype(">i4")


def _slot(dt: T.DataType) -> int:
    return _SLOT.get(type(dt), 7)


def _is_string_carried(dt: T.DataType) -> bool:
    """Complex/temporal/decimal values ride the STRING TColumn, pre-rendered
    with toHiveString (ExecuteStatement.scala:245-247 stringifies complex
    types before the wire; SchemaHelper maps them to STRING)."""
    return _slot(dt) == 7 and not isinstance(dt, T.StringType)


def _python_column(values: list, dt: T.DataType) -> pa.Array:
    """A small page of Python values (metadata, log, plan text, forwarded
    rows) as an Arrow column of the type its TColumn carries."""
    slot = _slot(dt)
    if slot in _FIXED:
        conv = _PY_FIXED[slot]
        return pa.array(
            [None if v is None else conv(v) for v in values], _FIXED[slot][1]
        )
    carried = _is_string_carried(dt)
    out = []
    for v in values:
        if v is not None:
            if carried:
                v = to_hive_string(v, dt)
            if not isinstance(v, (str, bytes)):
                v = bytes(v) if slot == 8 else str(v)
        out.append(v)
    return pa.array(out, pa.binary())


def _zone_kept(dt: T.DataType) -> T.DataType:
    """``dt`` with every TIMESTAMP read as TIMESTAMP_NTZ: PySpark's Arrow
    converter then passes on the zone-aware datetimes Arrow yields, where
    it would move them to the gateway process's local zone."""
    if isinstance(dt, T.TimestampType):
        return T.TimestampNTZType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_zone_kept(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _zone_kept(dt.keyType), _zone_kept(dt.valueType), dt.valueContainsNull
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _zone_kept(f.dataType), f.nullable) for f in dt.fields]
        )
    return dt


def _hive_strings(col: pa.Array, dt: T.DataType, tz: tzinfo | None) -> pa.Array:
    """The per-value fallback: the column's Python values, converted the way
    PySpark builds Rows from Arrow but with timestamps kept zone-aware,
    rendered with to_hive_string."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    conv = ArrowTableToRowsConversion._create_converter(
        _zone_kept(dt), binary_as_bytes=False
    )
    return pa.array(
        [None if v is None else to_hive_string(conv(v), dt, tz=tz) for v in col.to_pylist()],
        pa.string(),
    )


def _text(col: pa.Array, dt: T.DataType, tz: tzinfo | None) -> pa.Array:
    """The string TColumn's values as an Arrow string/binary column.

    Strings (and the JVM-rendered intervals/variants of wire_safe_df) ride
    as they are; decimals and dates render through an Arrow cast, which
    matches to_hive_string except in scientific notation (Arrow writes
    ``0.E-10`` and ``1.E-10`` where to_hive_string writes ``0E-10`` and
    ``1.00E-10``), so a decimal column holding one falls back.  Types whose
    Arrow text differs from HiveResult's fall back to to_hive_string per
    value: timestamps (Arrow keeps trailing fraction zeros and appends
    ``Z``), day-time intervals, nested types (quoted strings, sorted map
    entries, ``null``) and binary nested in them (decoded as UTF-8)."""
    t = col.type
    if _offsets_dtype(t) is not None:
        return col
    if pa.types.is_null(t):
        return pa.nulls(len(col), pa.string())
    if pa.types.is_date32(t):
        return pc.cast(col, pa.string())
    if pa.types.is_decimal(t):
        text = pc.cast(col, pa.string())
        if not pc.any(pc.match_substring(text, "E")).as_py():
            return text
    return _hive_strings(col, dt, tz)


def _null_bitmask(col: pa.Array) -> bytes:
    """LSB-first null bitmask, one bit per row (the inverse of Arrow's
    validity bitmap)."""
    n = len(col)
    if not col.null_count:
        return bytes((n + 7) // 8)
    isnull = col.is_null().to_numpy(zero_copy_only=False)
    return np.packbits(isnull, bitorder="little").tobytes()


def _offsets_dtype(t: pa.DataType) -> np.dtype | None:
    """The offsets width of a string or binary Arrow type, else None."""
    if pa.types.is_string(t) or pa.types.is_binary(t):
        return np.dtype(np.int32)
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        return np.dtype(np.int64)
    return None


def _length_prefixed(col: pa.Array) -> bytes:
    """TBinaryProtocol strings back to back: a big-endian i32 length, then
    the bytes, per value; nulls ride as empty strings."""
    n = len(col)
    if n == 0:
        return b""
    if col.null_count:
        col = pc.fill_null(col, pa.scalar(b"", col.type))
    _, offsets_buf, data_buf = col.buffers()
    odt = _offsets_dtype(col.type)
    offsets = np.frombuffer(
        offsets_buf, odt, count=n + 1, offset=col.offset * odt.itemsize
    ).astype(np.int64)
    base, size = int(offsets[0]), int(offsets[-1] - offsets[0])
    data = (
        np.frombuffer(data_buf, np.uint8, count=size, offset=base)
        if size else np.empty(0, np.uint8)
    )
    out = np.empty(4 * n + size, np.uint8)
    starts = offsets[:-1] - base + 4 * np.arange(n)
    prefix = (starts[:, None] + np.arange(4)).ravel()
    out[prefix] = np.diff(offsets).astype(_BE_I32).view(np.uint8)
    is_data = np.ones(len(out), bool)
    is_data[prefix] = False
    out[is_data] = data
    return out.tobytes()


def _tcolumn(col: pa.Array, dt: T.DataType, tz: tzinfo | None) -> bytes:
    """One TColumn, TBinaryProtocol-encoded: the union field ``slot``
    holding T*Column{1: values list (nulls default-filled), 2: nulls}."""
    slot = _slot(dt)
    n = len(col)
    nulls = _null_bitmask(col)
    if slot in _FIXED:
        et, carrier, be = _FIXED[slot]
        if col.null_count:
            col = pc.fill_null(col, pa.scalar(False if slot == 1 else 0, col.type))
        values = col.to_numpy(zero_copy_only=False).astype(be).tobytes()
    else:
        et = _T_STRING
        values = _length_prefixed(_text(col, dt, tz) if slot == 7 else col)
    return b"".join((
        struct.pack(">bhbhbi", _T_STRUCT, slot, _T_LIST, 1, et, n),
        values,
        struct.pack(">bhi", _T_STRING, 2, len(nulls)),
        nulls,
        b"\x00\x00",  # STOP of T*Column, STOP of the TColumn union
    ))


def _zone(name: str) -> tzinfo | None:
    """The tzinfo of a session time zone ID; None for an ID Arrow cannot
    read, such as ``GMT+8``."""
    try:
        return pa.lib.string_to_tzinfo(name)
    except (KeyError, ValueError):
        return None


def to_column_based_set(
    page, schema: T.StructType, time_zone: str | None = None
) -> list[bytes]:
    """V6+ columnar shape (TRowSetGenerator.toColumnBasedSet): one
    TBinaryProtocol-encoded TColumn per schema column, in order.

    ``page`` is an Arrow table or record batch (statement results, held as
    Arrow) or a sequence of Python rows (metadata, log, plan-only and
    forwarded pages), which become Arrow columns of the carried type
    first; ``len(page)`` is its row count.  Arrow TIMESTAMP values render
    in ``time_zone``, the session's ``spark.sql.session.timeZone``, as
    HiveResult does; without it, in the zone their Arrow type carries."""
    tz = _zone(time_zone) if time_zone else None
    if isinstance(page, (pa.Table, pa.RecordBatch)):
        cols = [
            c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
            for c in page.columns
        ]
    else:
        cols = [
            _python_column([row[i] for row in page], f.dataType)
            for i, f in enumerate(schema.fields)
        ]
    return [_tcolumn(c, f.dataType, tz) for c, f in zip(cols, schema.fields)]


def wire_safe_df(df):
    """Replace columns whose values cannot cross the Python driver
    boundary with their JVM-rendered wire strings, keeping every other
    column intact.  Returns (df, changed).

    The reference stringifies these JVM-side before the wire too
    (ExecuteStatement.scala:245-247 + SchemaHelper: VARIANT and
    CalendarInterval map to STRING; RowSet renders year-month intervals
    HIVE-style, SparkDataTypeTests.scala:290-310 pins e.g. ``0-3``).
    PySpark additionally CANNOT collect YearMonthIntervalType /
    CalendarIntervalType / VariantType rows at all (fromInternal
    unimplemented), so the rendering must happen before collection:

    - year-month interval → normalize to INTERVAL YEAR TO MONTH, cast to
      the ANSI string, extract the quoted body: ``0-3`` / ``-3-1`` —
      exactly the HIVE_STYLE form;
    - calendar interval / variant → plain CAST(x AS STRING) (the Hive
      wording ``1 hours 2 minutes``, JSON text respectively).

    Day-time intervals are untouched: they collect as timedelta and
    to_hive_string renders them; Arrow ships them as duration[us].
    Metadata is unaffected — callers keep the ORIGINAL schema for
    GetResultSetMetadata, so clients still see INTERVAL_YEAR_MONTH etc.
    """
    from pyspark.sql import functions as F

    exprs = []
    changed = False
    for i, f in enumerate(df.schema.fields):
        col = df[i]  # positional: immune to duplicate/odd names
        if isinstance(f.dataType, T.YearMonthIntervalType):
            changed = True
            exprs.append(
                F.regexp_extract(
                    col.cast("interval year to month").cast("string"),
                    r"'(.*)'",
                    1,
                ).alias(f.name)
            )
        elif f.dataType.simpleString() in ("interval", "variant"):
            changed = True
            exprs.append(col.cast("string").alias(f.name))
        else:
            exprs.append(col)
    return (df.select(*exprs), True) if changed else (df, False)
