"""Projection / redaction / soft-delete transforms — the data plane of the
trifecta (reference templates/model_sql_pii.tpl:5-16,
templates/model_sql_safe.tpl:5-21, schema.py:105-112).

All three transforms are pure ``DataFrame -> DataFrame`` functions built from
Catalyst expressions: literal substitution constant-folds, the soft-delete
predicate pushes down to the parquet scan, and column pruning keeps unused
columns out of the read schema. No UDFs anywhere on this path.

The two projections are built from SQL text, one ``selectExpr`` call per
view, not from ``Column`` objects. In PySpark 4.1 classic every ``Column``
call (``F.col``, ``F.lit``, ``.cast``, ``.alias``) passes through
``pyspark.errors.utils._with_origin``, which captures the Python call site
and makes several Py4J round trips, and a 50-column SAFE view made 50-150
such calls. Measured on a 4-core host (one JVM per side, 7 repetitions,
min-median of two processes): 50 ``F.col`` calls took 71-146 ms, and the
24 projections of a 12-table x 50-column catalog took 2.09-2.67 s as
Column calls and 0.34-0.56 s as one ``selectExpr`` each. Each column is a
backtick-quoted reference, and a redaction is
``CAST(<literal> AS <type>) AS <column>`` — the text ``redaction_sql``
renders, which ``TrifectaBuilder.generate_sql`` also writes into the
artifacts, so the temp views and the SQL views cannot drift.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    MapType,
    NumericType,
    StructType,
)

from ..config import InvalidConfigurationException
from .identifiers import backtick


def pii_projection(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Pass-through projection in catalog (ordinal) order — the PII view
    (reference templates/model_sql_pii.tpl:5-13, relation.py:59-79).

    Explicit column list so the generated plan pins ordinal order even if
    the source evolves (reference invariant README.rst:22-24).
    """
    cols = columns if columns is not None else list(df.columns)
    return df.selectExpr(*[backtick(c) for c in cols])


def check_redaction_literal(column: str, dtype: DataType, literal: object) -> None:
    """Reject a redaction literal that cannot cast to its column's type.

    Runs when the view is planned, before any sink builds or writes
    anything: a literal that cannot cast would otherwise surface as an
    ANSI runtime error deep inside an executor (found by property
    testing)."""
    if isinstance(dtype, NumericType) and isinstance(literal, str):
        try:
            float(literal)
        except ValueError:
            raise InvalidConfigurationException(
                f"redaction literal {literal!r} for numeric column "
                f"{column!r} ({dtype.simpleString()}) is not a number"
            ) from None
    if isinstance(dtype, BooleanType) and isinstance(literal, str):
        if literal.strip().lower() not in ("true", "false"):
            raise InvalidConfigurationException(
                f"redaction literal {literal!r} for boolean column "
                f"{column!r} is not a boolean"
            )


def _sql_literal(literal: object) -> str:
    """SQL text of a redaction literal. Strings are escaped, never stripped,
    so "it's done" or an already-quoted value comes out intact."""
    if literal is None:
        return "NULL"
    if isinstance(literal, float) and not math.isfinite(literal):
        return f"'{literal}'"  # inf / nan: Spark casts these strings
    if isinstance(literal, (int, float)):
        return repr(literal)
    return "'" + str(literal).replace("\\", "\\\\").replace("'", "''") + "'"


def _sql_type(dtype: DataType) -> str:
    """Spark SQL text of a type: ``simpleString`` with struct field names
    backtick-quoted (``simpleString`` leaves ``struct<a b:int>`` bare,
    which does not parse). Nested nullability has no SQL spelling here:
    the cast's struct fields, array elements and map values are nullable,
    as every column read from a file already is."""
    if isinstance(dtype, StructType):
        fields = ",".join(f"{backtick(f.name)}:{_sql_type(f.dataType)}" for f in dtype.fields)
        return f"struct<{fields}>"
    if isinstance(dtype, ArrayType):
        return f"array<{_sql_type(dtype.elementType)}>"
    if isinstance(dtype, MapType):
        return f"map<{_sql_type(dtype.keyType)},{_sql_type(dtype.valueType)}>"
    return dtype.simpleString()


def redaction_sql(literal: object, dtype: DataType) -> str:
    """The value of a redacted column: the literal cast to the column's
    type, so SAFE and PII views keep identical schemas (the reference's
    views inherit Snowflake's type coercion; this makes it explicit).
    Redaction semantics per reference templates/model_sql_safe.tpl:8-9,
    docs/redacting_pii.rst:11-27."""
    return f"CAST({_sql_literal(literal)} AS {_sql_type(dtype)})"


def safe_projection(
    df: DataFrame,
    redactions: dict[str, object],
    columns: list[str] | None = None,
) -> DataFrame:
    """Redaction projection — the SAFE view (reference
    templates/model_sql_safe.tpl:5-17): same columns, same order, but
    columns present in the redaction policy are replaced by literals
    aliased to the original name."""
    cols = columns if columns is not None else list(df.columns)
    lowered = {k.lower(): v for k, v in redactions.items()}
    exprs = []
    for c in cols:
        if c.lower() in lowered:
            literal, dtype = lowered[c.lower()], df.schema[c].dataType
            check_redaction_literal(c, dtype, literal)
            exprs.append(f"{redaction_sql(literal, dtype)} AS {backtick(c)}")
        else:
            exprs.append(backtick(c))
    return df.selectExpr(*exprs)


def soft_delete_filter(
    df: DataFrame, column: str | None, predicate: str | None
) -> DataFrame:
    """Row filter appended to both views when the soft-delete column exists
    in the relation (reference schema.py:105-112,
    templates/model_sql_safe.tpl:19-21). ``predicate`` is a SQL fragment,
    e.g. ``IS NOT NULL`` — evaluated via ``F.expr`` so Catalyst can push it
    into the scan."""
    if column is None or predicate is None:
        return df
    if column.lower() not in {c.lower() for c in df.columns}:
        return df
    return df.where(F.expr(f"{backtick(column)} {predicate}"))
