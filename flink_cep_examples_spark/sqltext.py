"""SQL text for driver-side plan construction.

The CEP source and kernels build their plans as ``selectExpr`` /
``where`` strings instead of ``pyspark.sql.functions`` Column trees: a
Column call costs several py4j round-trips (PySpark records its call
site on every one), and every ``withColumn`` step is one more Dataset
for Spark to analyze. Every name and value spliced into that text goes
through the two helpers here — :func:`ident` for identifiers,
:func:`lit` for literals — and every type through :func:`type_sql`, so
no SQL is ever built from a raw column name or value.
"""

from __future__ import annotations

import decimal
import math

from pyspark.sql import types as T


def ident(name: str) -> str:
    """``name`` as one backtick-quoted identifier (a top-level column
    name, never a dotted path)."""
    return "`" + name.replace("`", "``") + "`"


def idents(names) -> str:
    return ", ".join(ident(n) for n in names)


def lit(value) -> str:
    """``value`` as a SQL literal of the type ``F.lit(value)`` gives."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value) or math.isinf(value):
            return f"CAST('{value!r}' AS DOUBLE)"
        return f"{value!r}D"
    if isinstance(value, decimal.Decimal):
        return f"{value}BD"
    if isinstance(value, str):
        if "'" in value or "\\" in value:
            # no escape syntax: its meaning depends on the parser conf
            # spark.sql.parser.escapedStringLiterals
            return f"decode(unhex('{value.encode().hex()}'), 'UTF-8')"
        return f"'{value}'"
    raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")


def type_sql(dt: T.DataType) -> str:
    """The SQL type name of ``dt``. TIMESTAMP is spelled TIMESTAMP_LTZ:
    the bare name follows ``spark.sql.timestampType``."""
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP_LTZ"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{type_sql(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{type_sql(dt.keyType)}, {type_sql(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{ident(f.name)}: {type_sql(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{inner}>"
    return dt.simpleString().upper()


def cast_as(expr: str, field: T.StructField) -> str:
    """``expr`` cast to ``field``'s type, named after it — one output
    column of a tier's final projection."""
    return f"CAST({expr} AS {type_sql(field.dataType)}) AS {ident(field.name)}"
