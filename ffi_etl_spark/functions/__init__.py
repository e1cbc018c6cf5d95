"""Column-expression builders (pure functions Column -> Column, or SQL
text -> SQL text where a pass rewrites many columns; see ``sqltext``).

Everything here stays JVM-side (built-in ``pyspark.sql.functions``), so
the expressions participate in whole-stage codegen and Catalyst's
constant folding — no Python UDFs in any hot path.
"""
