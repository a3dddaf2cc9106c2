"""The records (list[dict]) ↔ DataFrame boundary.

The reference is row-oriented end-to-end (``ListJsonType = list[dict]``,
gcpde/types.py:7). The engine preserves that contract *only at the API
edge* — internally everything is columnar (SURVEY.md §1.3).

Route in: :func:`records_to_dataframe` is the one way Python rows become
a DataFrame. Each record is checked by PySpark's own type verifier and
converted by ``StructType.toInternal``, the two steps
``createDataFrame(list, schema)`` runs, so values and validation errors
are those of that list route. The internal values are then packed into
one Arrow table and sent to the JVM once, where the frame is a
``LocalRelation``. A list-built frame is instead a ``LogicalRDD`` over a
parallelized pickle list, and every Spark job that reads it starts
Python workers; a ``LocalRelation`` frame starts none. Bound: the rows
stay on the driver (in the Python list, the Arrow table and the plan),
as they did on the list route — this boundary is for record batches,
not datasets.
"""

from __future__ import annotations

import decimal
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import to_arrow_type

from gcpde_spark.schema import infer_schema

# Rescaling context: wide enough for any decimal(38, s) value, so the
# rounding is the only change quantize makes.
_DEC_CTX = decimal.Context(prec=80)


def rows_to_records(rows: list[Row]) -> list[dict[str, Any]]:
    """Collected Rows → list[dict] (recursive, so RECORD columns are dicts)."""
    return [r.asDict(recursive=True) for r in rows]


def records_to_dataframe(
    spark: SparkSession,
    records: list[dict[str, Any]],
    schema: T.StructType | None = None,
) -> DataFrame:
    """records → DataFrame with the reference's inference semantics.

    With no explicit schema, uses :func:`gcpde_spark.schema.infer_schema`
    (conflict-raising, field-unioning — gcpde/bq.py:302-318) rather than
    Spark's widening inference.

    Records may be dicts (missing keys are NULL, extra keys ignored),
    Rows or tuples in field order. Each is verified and converted to
    Spark's internal values on the driver (TIMESTAMP → UTC micros,
    TIMESTAMP_NTZ → micros, DATE → days, DECIMAL rounded half-up to its
    scale), then all of them go to the JVM as one Arrow table: the
    frame's plan is a ``LocalRelation`` and no job over it runs Python
    workers. A wrong-typed value raises PySpark's own ``TypeError`` /
    ``ValueError`` here, before any Spark work. The rows are held on the
    driver, so the batch must fit there.
    """
    if schema is None:
        schema = infer_schema(records)
    verify = T._make_type_verifier(schema)
    convert = T._create_converter(schema)
    rows = []
    for rec in records:
        verify(rec)
        rows.append(schema.toInternal(convert(rec)))
    if schema.fields:
        columns = list(zip(*rows)) if rows else [() for _ in schema.fields]
        table = pa.Table.from_arrays(
            [_arrow_column(vals, f.dataType) for vals, f in zip(columns, schema.fields)],
            names=schema.names,
        )
    else:  # records of no fields are still rows
        table = pa.table({"_": pa.nulls(len(rows))}).select([])
    # The tail of createDataFrame(pyarrow.Table, schema) without its
    # re-localize-and-cast step: the columns already carry the exact
    # Arrow types, and that step rebuilds nested structs with every
    # field nullable, which its own cast then refuses for a REQUIRED
    # field inside a RECORD.
    jvm = spark._jvm
    jiter = spark.sparkContext._serialize_to_jvm(
        table.to_batches(max_chunksize=spark._jconf.arrowMaxRecordsPerBatch()),
        ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile,
        jvm.ArrowIteratorServer,
    )
    df = DataFrame(
        jvm.PythonSQLUtils.toDataFrame(jiter, schema.json(), spark._jsparkSession), spark
    )
    df._schema = schema
    return df


def _arrow_column(values: tuple, dtype: T.DataType) -> pa.Array:
    """One column of internal values → an Arrow array of ``dtype``'s
    Arrow type (TIMESTAMP as ``timestamp[us, UTC]``, the zone the JVM
    reads Arrow timestamps in)."""
    rescale = _decimal_rescaler(dtype)
    if rescale is not None:
        values = tuple(map(rescale, values))
    return pa.array(values, type=to_arrow_type(dtype))


def _decimal_rescaler(dtype: T.DataType) -> Callable[[Any], Any] | None:
    """A function rounding every DECIMAL inside a ``dtype`` value half-up
    to its scale, as the JVM does for list-built rows (Arrow refuses a
    lossy rescale); None when ``dtype`` holds no DECIMAL."""
    if isinstance(dtype, T.DecimalType):
        quantum = decimal.Decimal(1).scaleb(-dtype.scale)
        return lambda v: None if v is None else v.quantize(
            quantum, decimal.ROUND_HALF_UP, _DEC_CTX
        )
    if isinstance(dtype, T.ArrayType):
        elem = _decimal_rescaler(dtype.elementType)
        if elem is None:
            return None
        return lambda v: None if v is None else [elem(x) for x in v]
    if isinstance(dtype, T.MapType):
        key = _decimal_rescaler(dtype.keyType)
        val = _decimal_rescaler(dtype.valueType)
        if key is None and val is None:
            return None
        key, val = key or _same, val or _same
        return lambda v: None if v is None else {key(k): val(x) for k, x in v.items()}
    if isinstance(dtype, T.StructType):
        fields = [_decimal_rescaler(f.dataType) for f in dtype.fields]
        if all(f is None for f in fields):
            return None
        fields = [f or _same for f in fields]
        return lambda v: None if v is None else tuple(
            f(x) for f, x in zip(fields, v)
        )
    return None


def _same(v: Any) -> Any:
    return v
