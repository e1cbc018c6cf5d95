"""SQL text for column expressions built in bulk.

A column expression composed from ``pyspark.sql.functions`` costs the
driver a py4j round trip for every function, literal and column
reference in it (three for a function: two lookups and the call), and
one more for each of those JVM objects when Python collects it. A pass
that rewrites every column of a wide frame thus makes thousands of
round trips, whose latency moves with the load on the machine. Written
as one SQL string per column, the same expression is parsed by the JVM
in one call; the parser builds the same unresolved expression tree.

The literals assume Spark's default string-literal parsing
(``spark.sql.parser.escapedStringLiterals=false``): backslash escapes.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string(value: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def literal(value: str | int | bool) -> str:
    """A Python string, integer or boolean as a SQL literal of the type
    ``F.lit`` gives it."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return string(value)
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")
