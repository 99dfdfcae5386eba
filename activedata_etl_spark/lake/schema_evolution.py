"""Schema merging with the reference's widening lattice.

`_merge_type` at ``vendor/pyLibrary/env/elasticsearch.py:1710-1760`` widens
``boolean -> integer -> long -> float -> double -> string``; objects/nested
do not merge with scalars.  The jx-side equivalent is ``merge_types`` at
``vendor/jx_base/expressions.py:3207-3223``.

New columns are additive (analog of ``Index.add_property``,
``elasticsearch.py:419-432`` / ``net_new_properties``,
``vendor/mo_json/typed_encoder.py:137``) and always nullable.

The physical schema of a written parquet dir comes from one footer
(``read_parquet``), so table and journal reads plan without a
schema-inference job.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# widening lattice rank (higher wins)
_RANK = {
    "boolean": 0,
    "byte": 1, "short": 1, "integer": 1,
    "long": 2,
    "float": 3,
    "double": 4,
    "string": 5,
}


class SchemaMergeError(ValueError):
    pass


def _widen(a: T.DataType, b: T.DataType) -> T.DataType:
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _RANK and bn in _RANK:
        canon = {0: T.BooleanType(), 1: T.IntegerType(), 2: T.LongType(),
                 3: T.FloatType(), 4: T.DoubleType(), 5: T.StringType()}
        return canon[max(_RANK[an], _RANK[bn])]
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_widen(a.elementType, b.elementType), True)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        merged, _ = merge_schemas(a, b)
        return merged
    raise SchemaMergeError(f"cannot merge {a.simpleString()} with {b.simpleString()}")


def merge_schemas(
    current: T.StructType, incoming: T.StructType
) -> tuple[T.StructType, list[str]]:
    """Return (merged schema, human-readable change list).

    Field order: current fields first (possibly widened), then net-new
    incoming fields in their incoming order.
    """
    changes: list[str] = []
    incoming_by_name = {f.name: f for f in incoming.fields}
    out: list[T.StructField] = []
    for f in current.fields:
        g = incoming_by_name.get(f.name)
        if g is None or g.dataType == f.dataType:
            out.append(f)
            continue
        widened = _widen(f.dataType, g.dataType)
        if widened != f.dataType:
            changes.append(
                f"widen {f.name}: {f.dataType.simpleString()} -> {widened.simpleString()}"
            )
        out.append(T.StructField(f.name, widened, True))
    seen = {f.name for f in current.fields}
    for g in incoming.fields:
        if g.name not in seen:
            changes.append(f"add {g.name}: {g.dataType.simpleString()}")
            out.append(T.StructField(g.name, g.dataType, True))
    return T.StructType(out), changes


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier: any column name
    (dots, spaces, backticks, keywords) resolves as one top-level column."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(dt: T.DataType) -> str:
    """Spark SQL text of ``dt``, with struct field names quoted."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{sql_ident(f.name)}: {sql_type(f.dataType)}" for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def align_exprs(have: dict[str, T.DataType], schema: T.StructType) -> list[str]:
    """SQL projection list that aligns columns of types ``have`` (name ->
    type) to ``schema``: a column of another type is cast, a missing one
    is a typed null."""
    out = []
    for f in schema.fields:
        q = sql_ident(f.name)
        if f.name not in have:
            out.append(f"CAST(NULL AS {sql_type(f.dataType)}) AS {q}")
        elif have[f.name] != f.dataType:
            out.append(f"CAST({q} AS {sql_type(f.dataType)}) AS {q}")
        else:
            out.append(q)
    return out


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project/cast ``df`` to exactly ``schema`` (missing cols -> null).

    Casting is the read-time analog of type widening: old parquet files keep
    their narrow physical type; alignment upcasts on scan.  The projection
    is one ``selectExpr``, and a ``df`` already in ``schema``'s names,
    order and types is returned as is.
    """
    fields = df.schema.fields
    if [(f.name, f.dataType) for f in fields] \
            == [(f.name, f.dataType) for f in schema.fields]:
        return df
    return df.selectExpr(*align_exprs({f.name: f.dataType for f in fields},
                                      schema))


def align_arrow(table, phys: T.StructType | None, schema: T.StructType, jvm):
    """:func:`align_to_schema` for an Arrow ``table`` read driver-side from
    a dir of physical schema ``phys``: the same lattice casts, a missing
    column becomes a typed null, and the result has exactly the Arrow
    types ``spark.createDataFrame`` takes for ``schema`` (timestamps as
    UTC instants).

    Float/double -> string is the one cast whose text Arrow does not share
    with Spark (``1.0`` and ``1.0E20`` against ``1`` and ``1e+20``), and
    JDK 17's ``Double.toString`` digits are not the shortest round-trip
    digits either (``2e23`` prints ``1.9999999999999998E23``), so those
    values are formatted by the driver JVM's own ``toString``, the
    function Spark's cast calls (:func:`_jvm_float_text`)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    have = {} if phys is None else {f.name: f.dataType for f in phys.fields}
    cols = []
    for f, af in zip(schema.fields, target):
        if f.name not in table.column_names:
            cols.append(pa.nulls(table.num_rows, af.type))
            continue
        col = table.column(f.name).combine_chunks()
        cols.append(_cast_arrow(col, have.get(f.name, f.dataType),
                                f.dataType, af.type, jvm))
    return pa.Table.from_arrays(cols, schema=target)


def _cast_arrow(arr, src: T.DataType, dst: T.DataType, atype, jvm):
    import pyarrow as pa

    if isinstance(src, (T.FloatType, T.DoubleType)) \
            and isinstance(dst, T.StringType):
        vals = arr.to_pylist()
        text = iter(_jvm_float_text(
            jvm, [v for v in vals if v is not None],
            isinstance(src, T.FloatType)))
        return pa.array([None if v is None else next(text) for v in vals],
                        atype)
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType) \
            and src != dst:
        return pa.ListArray.from_arrays(
            arr.offsets,
            _cast_arrow(arr.values, src.elementType, dst.elementType,
                        atype.value_type, jvm),
            type=atype, mask=arr.is_null())
    # unsafe like Spark's cast: long -> double rounds instead of raising
    return arr.cast(atype, safe=False)


def _jvm_float_text(jvm, values: list[float], single: bool) -> list[str]:
    """``Float.toString``/``Double.toString`` of ``values`` in the driver
    JVM, in one batch of a few py4j calls whatever their number: the
    values travel as one big-endian byte array, and
    ``Arrays.toString(float[]/double[])`` prints each element with it."""
    import struct

    if not values:
        return []
    raw = jvm.java.nio.ByteBuffer.wrap(bytearray(struct.pack(
        f">{len(values)}{'f' if single else 'd'}", *values)))
    buf = jvm.java.nio.FloatBuffer if single else jvm.java.nio.DoubleBuffer
    arr = buf.allocate(len(values)).put(
        raw.asFloatBuffer() if single else raw.asDoubleBuffer()).array()
    return jvm.java.util.Arrays.toString(arr)[1:-1].split(", ")


# the key under which Spark stores its own schema JSON in every parquet
# footer it writes; Spark's schema inference reads it first, too
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(*paths: str) -> T.StructType | None:
    """Spark schema of the first parquet file among ``paths`` (files, or
    dirs holding ``*.parquet`` files), read from its footer driver-side
    with pyarrow.  ``spark.read.parquet`` otherwise infers the schema with
    a Spark job of its own on every call.

    A Spark-written footer carries Spark's schema JSON, which is what
    inference would return; a footer without it (pyarrow-written) converts
    from the Arrow schema.  Returns None when no footer can be read (no
    ``*.parquet`` file, an unreadable footer, or a type the conversion does
    not cover): the caller then infers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for p in paths:
        files = ([p] if os.path.isfile(p)
                 else sorted(glob.glob(os.path.join(p, "*.parquet"))))
        if not files:
            continue
        try:
            return spark_schema_of(pq.read_schema(files[0]))
        except (OSError, pa.ArrowException):
            return None
    return None


def spark_schema_of(arrow) -> T.StructType | None:
    """Spark schema of a parquet footer's Arrow schema: Spark's own schema
    JSON when the footer carries it, else the converted Arrow schema; None
    for a type the conversion does not cover."""
    try:
        from pyspark.sql.pandas.types import from_arrow_schema
    except ImportError:  # older pyspark: fall back to inference
        return None
    try:
        spark_json = (arrow.metadata or {}).get(_SPARK_ROW_METADATA)
        if spark_json is not None:
            return T.StructType.fromJson(json.loads(spark_json))
        return from_arrow_schema(arrow)
    except (KeyError, TypeError, ValueError):
        return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken from one footer
    (:func:`footer_schema`), so the read plans without a schema-inference
    job.  Every file under ``paths`` must share that physical schema —
    true for the output of one write.  Falls back to inference when no
    footer can be read."""
    schema = footer_schema(*paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)
