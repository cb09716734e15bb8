"""Driver-known rows as a Spark frame, built from Arrow.

``spark.createDataFrame(<python list>)`` is a Python RDD in classic PySpark:
every action over it runs Spark jobs whose tasks start Python workers, about
0.25 s per action on a 4-core local session before any table is touched.
The same rows handed over as a ``pyarrow.Table`` become a local relation: a
projection over it collects with no Spark job at all. Every frame the
lakehouse layer builds from rows it already holds on the driver (bucket
probes, inserted rows, metadata tables) goes through ``local_frame``.
"""

from __future__ import annotations

from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with the same rows, types and
    errors, as a local relation instead of a Python RDD.

    Each row (a tuple or ``Row`` in schema order) takes the list path's own
    steps: PySpark's type verifier (a ``str`` in a ``bigint`` column raises
    the same ``PySparkTypeError``), its field converter, then
    ``toInternal``. Arrow therefore receives internal values: a
    ``timestamp`` is the epoch micros ``toInternal`` derives in the
    process's time zone, exactly what the list path ships. A naive
    ``datetime`` put straight into Arrow's UTC-typed column would instead
    shift by the process's UTC offset."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    columns = list(zip(*internal)) if internal else [()] * len(schema.fields)
    arrays = [
        pa.array(list(values), to_arrow_type(f.dataType))
        for f, values in zip(schema.fields, columns)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, names=schema.names), schema
    )
