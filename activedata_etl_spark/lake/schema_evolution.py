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
from pyspark.sql import functions as F
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


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project/cast ``df`` to exactly ``schema`` (missing cols -> null).

    Casting is the read-time analog of type widening: old parquet files keep
    their narrow physical type; alignment upcasts on scan.
    """
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name in have:
            src = F.col(f.name)
            cols.append(src.cast(f.dataType).alias(f.name) if have[f.name].dataType != f.dataType else src)
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


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

    try:
        from pyspark.sql.pandas.types import from_arrow_schema
    except ImportError:  # older pyspark: fall back to inference
        return None
    for p in paths:
        files = ([p] if os.path.isfile(p)
                 else sorted(glob.glob(os.path.join(p, "*.parquet"))))
        if not files:
            continue
        try:
            arrow = pq.read_schema(files[0])
            spark_json = (arrow.metadata or {}).get(_SPARK_ROW_METADATA)
            if spark_json is not None:
                return T.StructType.fromJson(json.loads(spark_json))
            return from_arrow_schema(arrow)
        except (OSError, KeyError, TypeError, ValueError, pa.ArrowException):
            return None
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
