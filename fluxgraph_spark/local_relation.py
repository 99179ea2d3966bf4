"""Driver-resident data -> DataFrame, through Arrow.

Every DataFrame the engine builds from driver memory (the SCD2 row
store's views, driver-tier outputs, small key/audit tables) goes through
:func:`local_dataframe`.  It builds a ``pyarrow.Table`` with the Spark
schema's Arrow types and hands it to ``createDataFrame``, which plans it
as a ``LocalTableScan`` under ``spark.sql.execution.arrow.
localRelationThreshold`` (48 MB by default) and as a JVM-side RDD of the
Arrow batches above it.  Neither runs a Python worker; a python-list
``createDataFrame`` is a pickled Python RDD that does, on every action.

Values mean what ``createDataFrame(<rows>, schema)`` made of them:

* naive ``datetime`` in a ``TimestampType`` column is process-local
  wall time (``TimestampType.toInternal``).  Arrow would localize a
  naive column with the *session* zone instead, so these columns are
  converted to UTC instants here first;
* ``Decimal`` values are rounded half-up to the column's scale, as the
  JVM does for the list path.
"""

from __future__ import annotations

import decimal
from typing import Any, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

# wide enough for any decimal(38, s) value plus its scale
_DECIMAL_CTX = decimal.Context(prec=80, rounding=decimal.ROUND_HALF_UP)


def local_dataframe(
    spark: SparkSession,
    data: Union[pa.Table, Sequence[Sequence[Any]]],
    schema: T.StructType,
) -> DataFrame:
    """A DataFrame over driver-resident ``data``: an Arrow table whose
    columns match ``schema`` by position, or one sequence of values per
    schema field (numpy arrays welcome)."""
    if not isinstance(data, pa.Table):
        if len(data) != len(schema.fields):
            raise ValueError(
                f"{len(data)} columns for a {len(schema.fields)}-field schema"
            )
        data = pa.Table.from_arrays(
            [_arrow_column(vals, f.dataType) for vals, f in zip(data, schema.fields)],
            names=schema.names,
        )
    return spark.createDataFrame(data, schema)


def _arrow_column(values: Sequence[Any], dtype: T.DataType) -> pa.Array:
    if isinstance(dtype, T.TimestampType):
        to_us = dtype.toInternal
        micros = [None if v is None else to_us(v) for v in values]
        return pa.array(micros, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    if isinstance(dtype, T.DecimalType):
        exp = decimal.Decimal(1).scaleb(-dtype.scale)
        values = [None if v is None else _DECIMAL_CTX.quantize(v, exp) for v in values]
    return pa.array(values, to_arrow_type(dtype))
