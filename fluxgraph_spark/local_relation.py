"""Driver-resident data <-> DataFrame, through Arrow.

Every driver tier (an in-process replay of a Spark operator that runs
when its input fits on the driver) collects its input through
:func:`bounded_arrow`, which decides with at most one bounded action
whether the input fits, and returns it as one Arrow table.

Every DataFrame the engine builds from driver memory (the SCD2 row
store's views, driver-tier outputs, small key/audit tables) goes through
:func:`local_dataframe`.  It builds a ``pyarrow.Table`` with the Spark
schema's Arrow types and hands it to ``createDataFrame``, which plans it
as a ``LocalTableScan`` under ``spark.sql.execution.arrow.
localRelationThreshold`` (48 MB by default) and as a JVM-side RDD of the
Arrow batches above it.  Neither runs a Python worker; a python-list
``createDataFrame`` is a pickled Python RDD that does, on every action.

The frame :func:`local_dataframe` returns holds its row count: its
``count()`` and ``isEmpty()`` answer from the Arrow table with no Spark
job (Spark folds Project, Filter and Limit over a local relation, but
plans ``count()`` as an aggregate that runs its jobs).  Only that frame
holds it: every transformation of it (``where``, ``select``, ``alias``,
joins, ...) is a plain ``DataFrame`` whose count Spark computes, while
``cache()``/``persist()`` return the frame itself, rows unchanged.

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
import os
from typing import Any, Callable, Sequence, Union
from urllib.parse import urlparse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import to_arrow_type

# wide enough for any decimal(38, s) value plus its scale
_DECIMAL_CTX = decimal.Context(prec=80, rounding=decimal.ROUND_HALF_UP)

# The id types the driver replays model.
_INTEGRAL = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)

# Per-row byte bound of the file-size proof: far above any real
# compressed row of the narrow tables the tiers collect, so a wrong
# "over" only skips a tier; it never picks a wrong result.
_PROBE_ROW_BYTES = 512


def bounded_arrow(
    df: DataFrame,
    cap: int,
    *,
    not_null: Sequence[str] = (),
    rows: Union[int, Callable[[], int], None] = None,
    file_rows: bool = False,
) -> "pa.Table | None":
    """``df`` as one Arrow table, or None when the tier must fall back:
    ``cap <= 0``, more than ``cap`` rows, or a NULL in a ``not_null``
    column.

    With ``rows`` (``df``'s exact row count, or a call returning it) the
    count decides and a parallel ``toArrow()`` collects; otherwise one
    ``limit(cap + 1)`` collect both decides and collects.  A limit
    funnels every row through one partition, so pass ``rows`` when the
    count is free or cheap (a checkpoint's, a file scan's).
    ``file_rows=True`` says ``df`` has as many rows as its input files,
    so :func:`files_prove_over` may decide with no job."""
    if cap <= 0 or (file_rows and files_prove_over(df, cap)):
        return None
    if rows is None:
        tbl = df.limit(cap + 1).toArrow()
        if tbl.num_rows > cap:
            return None
    else:
        if (rows() if callable(rows) else rows) > cap:
            return None
        tbl = df.toArrow()
    if any(tbl.column(c).null_count for c in not_null):
        return None
    return tbl


def integral(df: DataFrame, *cols: str) -> bool:
    """True when each of ``df``'s columns ``cols`` has an integer type
    (byte to long).  Needs no job."""
    return all(isinstance(df.schema[c].dataType, _INTEGRAL) for c in cols)


def files_prove_over(df: DataFrame, cap: int) -> bool:
    """True when ``df``'s local input files alone prove, at
    ``_PROBE_ROW_BYTES`` a row, that it has more than ``cap`` rows.
    Plans that do not read local files prove nothing.  Needs no job."""
    if _PROBE_ROW_BYTES <= 0:
        return False
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file plans
        return False
    budget = cap * _PROBE_ROW_BYTES
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return False
        try:
            total += os.path.getsize(u.path)
        except OSError:
            return False
        if total > budget:
            return True
    return False


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
    df = spark.createDataFrame(data, schema)
    if type(df) is ClassicDataFrame:
        df.__class__ = _HeldCountDataFrame
        df._held_rows = data.num_rows
    return df


class _HeldCountDataFrame(ClassicDataFrame):
    """A classic DataFrame over a local relation of ``_held_rows`` rows."""

    _held_rows: int

    def count(self) -> int:
        return self._held_rows

    def isEmpty(self) -> bool:
        return self._held_rows == 0


def _arrow_column(values: Sequence[Any], dtype: T.DataType) -> pa.Array:
    if isinstance(dtype, T.TimestampType):
        to_us = dtype.toInternal
        micros = [None if v is None else to_us(v) for v in values]
        return pa.array(micros, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    if isinstance(dtype, T.DecimalType):
        exp = decimal.Decimal(1).scaleb(-dtype.scale)
        values = [None if v is None else _DECIMAL_CTX.quantize(v, exp) for v in values]
    return pa.array(values, to_arrow_type(dtype))
