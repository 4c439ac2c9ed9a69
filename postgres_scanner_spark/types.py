"""Postgres ↔ Spark type mapping, both directions.

Postgres → Spark: parity with the reference's OID map (reference:
src/include/postgres_type_oids.hpp, src/postgres_utils.cpp
PostgresUtils::TypeToLogicalType). Arrays map to ArrayType, numeric
to DecimalType (or double when precision/scale unknown — same
fallback the reference uses), and composite, enum and exotic types
(uuid/json/range/inet/money/bit) to StringType, the reference's
varchar fallback (the reference reads a composite as a STRUCT; here
it arrives as its text form). `pg_array_as_varchar` flattens
arrays to their text form (reference: postgres_extension.cpp:171).

Spark → Postgres: ONE table, `SPARK_TO_OID`, maps each Spark type
class to the Postgres type it travels as — the reference makes the
same decision in one function, PostgresUtils::TypeToPostgres
(src/postgres_utils.cpp). Everything else derives from it: the type's
name (`spark_type_to_pg`: the `_OID_TO_NAME` spelling, `(p,s)` for
decimals, `[]` per array level) is both the scan's `::cast` and the
writer's DDL, and `wire_layout` gives the PGCOPY OIDs both codec
directions use. A type outside the table (struct, map) travels as
text and gets no read cast.
"""

from __future__ import annotations

from pyspark.sql import types as T

# OIDs from reference: src/include/postgres_type_oids.hpp
BOOLOID = 16
BYTEAOID = 17
CHAROID = 18
NAMEOID = 19
INT8OID = 20
INT2OID = 21
INT4OID = 23
TEXTOID = 25
OIDOID = 26
TIDOID = 27
JSONOID = 114
XMLOID = 142
POINTOID = 600
LSEGOID = 601
PATHOID = 602
BOXOID = 603
POLYGONOID = 604
LINEOID = 628
CIRCLEOID = 718
FLOAT4OID = 700
FLOAT8OID = 701
MONEYOID = 790
MACADDROID = 829
INETOID = 869
CIDROID = 650
BPCHAROID = 1042
VARCHAROID = 1043
DATEOID = 1082
TIMEOID = 1083
TIMESTAMPOID = 1114
TIMESTAMPTZOID = 1184
INTERVALOID = 1186
TIMETZOID = 1266
BITOID = 1560
VARBITOID = 1562
NUMERICOID = 1700
UUIDOID = 2950
JSONBOID = 3802
# range types (reference: postgres_utils.cpp maps every range to
# varchar text form; test/sql/scanner/daterange_array.test reads a
# daterange ARRAY). OIDs from pg_type.dat.
INT4RANGEOID = 3904
NUMRANGEOID = 3906
TSRANGEOID = 3908
TSTZRANGEOID = 3910
DATERANGEOID = 3912
INT8RANGEOID = 3926

# range OID → subtype OID, for the binary wire decoder (a range's
# send format embeds its bounds in the SUBTYPE's send format)
RANGE_SUBTYPE: dict[int, int] = {
    INT4RANGEOID: INT4OID, INT8RANGEOID: INT8OID,
    NUMRANGEOID: NUMERICOID, TSRANGEOID: TIMESTAMPOID,
    TSTZRANGEOID: TIMESTAMPTZOID, DATERANGEOID: DATEOID,
}

# name-keyed map (what you get from information_schema)
_NAME_TO_SPARK: dict[str, T.DataType] = {
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "bytea": T.BinaryType(),
    "char": T.StringType(),
    "bpchar": T.StringType(),
    "name": T.StringType(),
    "int2": T.ShortType(),
    "smallint": T.ShortType(),
    "int4": T.IntegerType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "int8": T.LongType(),
    "bigint": T.LongType(),
    "oid": T.LongType(),
    "tid": T.LongType(),  # ctid surfaces as page*2^16+row (reference: postgres_scanner.cpp:458)
    "float4": T.FloatType(),
    "real": T.FloatType(),
    "float8": T.DoubleType(),
    "float": T.DoubleType(),
    "double precision": T.DoubleType(),
    "double": T.DoubleType(),
    "decimal": T.DoubleType(),   # bare DECIMAL w/o (p,s), like NUMERIC
    "text": T.StringType(),
    "varchar": T.StringType(),
    "character varying": T.StringType(),
    "date": T.DateType(),
    "time": T.StringType(),       # Spark has no time-of-day type; text form (reference maps to TIME)
    "timetz": T.StringType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "interval": T.DayTimeIntervalType(),
    "uuid": T.StringType(),
    "json": T.StringType(),
    "jsonb": T.StringType(),
    "xml": T.StringType(),
    "money": T.StringType(),
    "macaddr": T.StringType(),
    "inet": T.StringType(),
    "cidr": T.StringType(),
    "bit": T.StringType(),
    "varbit": T.StringType(),
    # ranges → text form (reference varchar fallback); explicit so the
    # intent is visible even though unknown names fall back the same way
    "int4range": T.StringType(),
    "int8range": T.StringType(),
    "numrange": T.StringType(),
    "tsrange": T.StringType(),
    "tstzrange": T.StringType(),
    "daterange": T.StringType(),
    # built-in geometry (reference: postgres_utils.cpp TypeToLogicalType
    # GEOM_* annotations; test attach_geometry.test): point → {x,y}
    # struct, every other planar type → list<double>
    "point": T.StructType([T.StructField("x", T.DoubleType(), True),
                           T.StructField("y", T.DoubleType(), True)]),
    "line": T.ArrayType(T.DoubleType()),
    "lseg": T.ArrayType(T.DoubleType()),
    "box": T.ArrayType(T.DoubleType()),
    "path": T.ArrayType(T.DoubleType()),
    "polygon": T.ArrayType(T.DoubleType()),
    "circle": T.ArrayType(T.DoubleType()),
}

# geometry udt name → wire OID (decode_field has a branch per entry)
GEOMETRY_OIDS: dict[str, int] = {
    "point": POINTOID, "lseg": LSEGOID, "path": PATHOID, "box": BOXOID,
    "polygon": POLYGONOID, "line": LINEOID, "circle": CIRCLEOID,
}

_OID_TO_NAME: dict[int, str] = {
    BOOLOID: "bool", BYTEAOID: "bytea", CHAROID: "char", NAMEOID: "name",
    INT8OID: "int8", INT2OID: "int2", INT4OID: "int4", TEXTOID: "text",
    OIDOID: "oid", TIDOID: "tid", JSONOID: "json", XMLOID: "xml",
    POINTOID: "point", LSEGOID: "lseg", PATHOID: "path", BOXOID: "box",
    POLYGONOID: "polygon", LINEOID: "line", CIRCLEOID: "circle",
    FLOAT4OID: "float4", FLOAT8OID: "float8",
    MONEYOID: "money", MACADDROID: "macaddr", INETOID: "inet",
    CIDROID: "cidr", BPCHAROID: "bpchar", VARCHAROID: "varchar",
    DATEOID: "date", TIMEOID: "time", TIMESTAMPOID: "timestamp",
    TIMESTAMPTZOID: "timestamptz", INTERVALOID: "interval",
    TIMETZOID: "timetz", BITOID: "bit", VARBITOID: "varbit",
    NUMERICOID: "numeric", UUIDOID: "uuid", JSONBOID: "jsonb",
    INT4RANGEOID: "int4range", INT8RANGEOID: "int8range",
    NUMRANGEOID: "numrange", TSRANGEOID: "tsrange",
    TSTZRANGEOID: "tstzrange", DATERANGEOID: "daterange",
}


# standard PG array-type OID → element-type OID (pg_type.typelem for
# the built-in _<name> array types); used by the result-set schema
# probe, where cursor.description reports the ARRAY oid
ARRAY_OID_TO_ELEM: dict[int, int] = {
    1000: BOOLOID, 1001: BYTEAOID, 1002: CHAROID, 1003: NAMEOID,
    1005: INT2OID, 1007: INT4OID, 1016: INT8OID,
    1021: FLOAT4OID, 1022: FLOAT8OID,
    1009: TEXTOID, 1014: BPCHAROID, 1015: VARCHAROID,
    1115: TIMESTAMPOID, 1182: DATEOID, 1183: TIMEOID,
    1185: TIMESTAMPTZOID, 1187: INTERVALOID, 1231: NUMERICOID,
    199: JSONOID, 3807: JSONBOID, 2951: UUIDOID,
    # range arrays (daterange_array.test): _int4range, _numrange,
    # _tsrange, _tstzrange, _daterange, _int8range
    3905: INT4RANGEOID, 3907: NUMRANGEOID, 3909: TSRANGEOID,
    3911: TSTZRANGEOID, 3913: DATERANGEOID, 3927: INT8RANGEOID,
}


def spark_type_from_oid(
    oid: int,
    *,
    precision: int | None = None,
    scale: int | None = None,
    array_as_varchar: bool = False,
) -> T.DataType:
    """Map a wire-protocol type OID (what cursor.description reports
    for an arbitrary result set) to Spark — the result-set analog of
    the reference's PostgresQueryBind, which derives the scan schema
    from the executed query's result descriptor rather than the
    table catalog (reference: src/postgres_query.cpp). Unknown OIDs
    (enums, domains, UDTs) fall back to varchar, same as the
    reference's TypeToLogicalType default."""
    elem = ARRAY_OID_TO_ELEM.get(oid)
    if elem is not None:
        name = _OID_TO_NAME.get(elem, "varchar")
        return pg_type_to_spark(name, precision=precision, scale=scale,
                                array_dims=1,
                                array_as_varchar=array_as_varchar)
    name = _OID_TO_NAME.get(oid)
    if name is None:
        return T.StringType()
    return pg_type_to_spark(name, precision=precision, scale=scale)


def pg_type_to_spark(
    type_name: str,
    *,
    precision: int | None = None,
    scale: int | None = None,
    array_dims: int = 0,
    array_as_varchar: bool = False,
) -> T.DataType:
    """Map a Postgres type name (optionally an N-dim array) to Spark.

    Mirrors reference src/postgres_utils.cpp TypeToLogicalType:
    - numeric with known precision/scale → decimal(p,s), widened to
      decimal(p-s,0) for a negative scale and decimal(s,s) for a
      scale above p; unknown, or wider than 38 digits → double (the
      reference falls back to double for unconstrained NUMERIC)
    - enum/unknown → varchar
    - arrays → list (or varchar if array_as_varchar: pg_array_as_varchar)
    """
    base_name = type_name.strip().lower()
    if base_name.endswith("[]"):
        array_dims += base_name.count("[]")
        base_name = base_name.split("[", 1)[0].strip()
    if base_name == "numeric":
        dt: T.DataType = T.DoubleType()
        if precision:
            # Spark needs 0 <= scale <= precision; Postgres 15 also
            # allows numeric(5,-2) (whole hundreds, up to 9999900)
            # and numeric(2,4) (below 0.01)
            p, s = precision, scale or 0
            if s < 0:
                p, s = p - s, 0
            p = max(p, s)
            if p <= 38:
                dt = T.DecimalType(p, s)
    else:
        dt = _NAME_TO_SPARK.get(base_name, T.StringType())  # enum/unknown → varchar
    if array_dims > 0:
        if array_as_varchar:
            return T.StringType()
        for _ in range(array_dims):
            dt = T.ArrayType(dt)
    return dt


def numeric_typmod(typmod: int) -> tuple[int | None, int | None]:
    """(precision, scale) packed in a numeric (or numeric[]) column's
    typmod; (None, None) for an unconstrained numeric (typmod -1)."""
    if typmod < 4:
        return None, None
    # the scale is an 11-bit two's-complement field (PG 15+ allows
    # -1000..1000), the precision the 16 bits above it
    t = typmod - 4
    return t >> 16, ((t & 0x7FF) ^ 0x400) - 0x400


# Spark type class → the Postgres type it is written as, read back
# through and sent on the wire as (reference: postgres_utils.cpp
# TypeToPostgres); a class outside it travels as text
SPARK_TO_OID: dict[type, int] = {
    T.BooleanType: BOOLOID, T.ByteType: INT2OID, T.ShortType: INT2OID,
    T.IntegerType: INT4OID, T.LongType: INT8OID,
    T.FloatType: FLOAT4OID, T.DoubleType: FLOAT8OID,
    T.DecimalType: NUMERICOID, T.StringType: TEXTOID,
    T.BinaryType: BYTEAOID, T.DateType: DATEOID,
    T.TimestampType: TIMESTAMPTZOID, T.TimestampNTZType: TIMESTAMPOID,
    T.DayTimeIntervalType: INTERVALOID,
}


def spark_field_oid(dt: T.DataType) -> int:
    """Spark DataType → the OID whose send format carries it."""
    return SPARK_TO_OID.get(type(dt), TEXTOID)


def spark_type_to_pg(dt: T.DataType) -> str:
    """Spark DataType → its Postgres type name: the DDL type and the
    scan's read cast."""
    if isinstance(dt, T.ArrayType):
        return spark_type_to_pg(dt.elementType) + "[]"
    name = _OID_TO_NAME[spark_field_oid(dt)]
    if isinstance(dt, T.DecimalType):
        return f"{name}({dt.precision},{dt.scale})"
    return name


def wire_layout(schema: T.StructType, udts: dict[str, str] | None = None):
    """(oids, array_elem_oids, array_ndims, array_cols) of the PGCOPY
    stream carrying `schema`. Nested ArrayTypes unwrap to the LEAF
    element OID plus a dimension count — an array<array<int>> column
    is a genuine 2-D PG array frame. A column whose probed udt is a
    geometry type keeps its native send format, whatever its Spark
    type (reference: postgres_binary_reader.hpp ReadGeometry)."""
    oids, array_elem, array_ndims, array_cols = [], {}, {}, set()
    for i, f in enumerate(schema.fields):
        geom = GEOMETRY_OIDS.get((udts or {}).get(f.name))
        dt, depth = f.dataType, 0
        while geom is None and isinstance(dt, T.ArrayType):
            dt, depth = dt.elementType, depth + 1
        if depth:
            oids.append(0)
            array_elem[i], array_ndims[i] = spark_field_oid(dt), depth
            array_cols.add(i)
        else:
            oids.append(geom or spark_field_oid(dt))
    return oids, array_elem, array_ndims, array_cols
