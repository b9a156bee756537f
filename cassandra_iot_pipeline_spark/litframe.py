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

``arrow_frame`` is the same for rows that are already an Arrow table
(the driver-path serving reads): the batches go to the JVM as one Arrow
stream and come back as a LocalRelation, as in
``spark.createDataFrame(table)``, but in three py4j round trips, not
twenty-one. ``createDataFrame`` re-reads its confs, resolves each JVM
name by reflection and rebuilds the Spark schema on every call; here the
schemas are built once per Arrow schema, the JVM methods once per
gateway, and the only calls left are one conf read, the stream read and
``toDataFrame`` (two more for a table with a naive timestamp column).
"""

from __future__ import annotations

import functools
import weakref
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import (
    _check_arrow_table_timestamps_localize,
    from_arrow_schema,
    to_arrow_schema,
)


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


@functools.cache
def _sql_utils(jvm) -> tuple:
    """The ``PythonSQLUtils`` static methods ``arrow_frame`` calls,
    resolved once per gateway: each name lookup is a py4j round trip."""
    utils = jvm.PythonSQLUtils
    return utils.readArrowStreamFromFile, utils.toDataFrame, utils.isTimestampNTZPreferred


_JCONF: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _session_conf(spark: SparkSession):
    """The session's JVM ``SQLConf``, a fixed object that ``spark.conf``
    writes through to (``spark._jconf`` costs two round trips a call)."""
    if spark not in _JCONF:
        _JCONF[spark] = spark._jconf
    return _JCONF[spark]


@functools.lru_cache(maxsize=64)
def _has_naive_timestamp(arrow_schema: pa.Schema) -> bool:
    """Whether a field holds a timestamp with no time zone, at any
    depth: exactly then the Spark type depends on the preferred
    timestamp type, and the instants on the session time zone."""
    return from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True) != from_arrow_schema(
        arrow_schema
    )


@functools.lru_cache(maxsize=64)
def _schemas(
    arrow_schema: pa.Schema, prefer_ntz: bool, large_var_types: bool
) -> tuple[T.StructType, str, pa.Schema]:
    """The Spark schema ``createDataFrame`` infers for ``arrow_schema``,
    its JSON, and the Arrow schema the JVM reads the batches as."""
    struct = from_arrow_schema(arrow_schema, prefer_timestamp_ntz=prefer_ntz)
    target = to_arrow_schema(
        struct,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=large_var_types,
    )
    return struct, struct.json(), target


def arrow_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """``spark.createDataFrame(table)``: the same schema and rows (ns
    timestamps truncated to us, naive ones read in the session time
    zone), with the per-call lookups taken out. The batches go over as
    they are, one Arrow stream through PySpark's own hand-off (a temp
    file, or the socket server when I/O encryption is on); their size
    changes nothing below Spark's local-relation threshold."""
    read_stream, to_frame, ntz_preferred = _sql_utils(spark._jvm)
    jconf = _session_conf(spark)
    naive = _has_naive_timestamp(table.schema)
    # the JVM reads the stream with the offset width this conf names
    struct, json, target = _schemas(
        table.schema, naive and ntz_preferred(), jconf.arrowUseLargeVarTypes()
    )
    timezone = jconf.sessionLocalTimeZone() if naive else None
    table = _check_arrow_table_timestamps_localize(table, struct, True, timezone).cast(target)
    jiter = spark._sc._serialize_to_jvm(
        table.to_batches(),
        ArrowStreamSerializer(),
        read_stream,
        lambda: spark._jvm.ArrowIteratorServer(),
    )
    return DataFrame(to_frame(jiter, json, spark._jsparkSession), spark)
