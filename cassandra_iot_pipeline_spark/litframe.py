"""Small literal DataFrames as pure-Catalyst plans (r12, guide §4).

``spark.createDataFrame(list_of_rows, schema)`` parallelizes PICKLED
rows into a defaultParallelism-task Python-RDD scan: every task spins a
Python worker just to deserialize a handful of constants. Measured at
sf0.1 (stage metrics): the funnel's 4-row step frame planned as a
32-task stage costing ~50 s of task time for ~0.4 s of CPU — per-task
Python-worker startup, nothing else — and the same shape sat under
token_frequencies and the incremental dedup's driver-built drop list.

``literal_frame`` renders the rows as ONE SQL ``VALUES`` clause (a
single py4j call — a per-cell Column-expression build was measured
SLOWER than the RDD scan it replaced: thousands of py4j round trips)
and casts each column to the declared type, yielding a JVM-only
LocalRelation with zero Python workers and zero scan tasks. Cells may
be int / float / bool / str / None or flat lists of those; anything
else raises ``TypeError``. Empty input is an empty LocalRelation built
on the JVM from the parsed schema (``createDataFrame([], schema)``
would be the Python-RDD scan again).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _sql_literal(value) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        # repr is the shortest round-tripping decimal; Spark parses it
        # back to the identical double
        return repr(value)
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(value, (list, tuple)):
        return "array(" + ", ".join(_sql_literal(v) for v in value) + ")"
    raise TypeError(type(value).__name__)


def _typed(field: T.StructField) -> str:
    """``field``'s column cast to its type. A CAST of non-null literals
    is typed non-nullable; NULLIF(x, NULL) is x, typed nullable, as a
    nullable field is declared."""
    cast = f"CAST({field.name} AS {field.dataType.simpleString()})"
    return f"NULLIF({cast}, NULL) AS {field.name}" if field.nullable else f"{cast} AS {field.name}"


def literal_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: str
) -> DataFrame:
    """Typed literal rows without a Python-RDD scan. ``schema`` is a DDL
    string (the same form ``createDataFrame`` takes), and the frame's
    schema is the DDL's, nullability included."""
    struct_type = T._parse_datatype_string(schema)
    if not rows:
        jsession = spark._jsparkSession
        return DataFrame(
            jsession.createDataFrame(
                spark._jvm.java.util.ArrayList(),
                jsession.parseDataType(struct_type.json()),
            ),
            spark,
        )
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    cols = ", ".join(_typed(f) for f in struct_type.fields)
    names = ", ".join(f.name for f in struct_type.fields)
    return spark.sql(
        f"SELECT {cols} FROM VALUES {values} AS _lit({names})"
    )
