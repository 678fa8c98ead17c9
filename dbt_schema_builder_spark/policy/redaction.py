"""Projection / redaction / soft-delete transforms — the data plane of the
trifecta (reference templates/model_sql_pii.tpl:5-16,
templates/model_sql_safe.tpl:5-21, schema.py:105-112).

All three transforms are pure ``DataFrame -> DataFrame`` functions built from
Catalyst expressions: literal substitution constant-folds, the soft-delete
predicate pushes down to the parquet scan, and column pruning keeps unused
columns out of the read schema. No UDFs anywhere on this path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DataType, NumericType

from ..config import InvalidConfigurationException


def pii_projection(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Pass-through projection in catalog (ordinal) order — the PII view
    (reference templates/model_sql_pii.tpl:5-13, relation.py:59-79).

    Explicit column list so the generated plan pins ordinal order even if
    the source evolves (reference invariant README.rst:22-24).
    """
    cols = columns if columns is not None else list(df.columns)
    return df.select(*[F.col(c) for c in cols])


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


def _redaction_literal(df: DataFrame, column: str, literal: object) -> Column:
    """Literal replacement aliased to the original name, cast to the source
    column's type so SAFE and PII views keep identical schemas (the
    reference's views inherit Snowflake's type coercion; we make it
    explicit). Redaction semantics per reference
    templates/model_sql_safe.tpl:8-9, docs/redacting_pii.rst:11-27."""
    dtype = df.schema[column].dataType
    check_redaction_literal(column, dtype, literal)
    return F.lit(literal).cast(dtype).alias(column)


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
    exprs: list[Column] = []
    for c in cols:
        if c.lower() in lowered:
            exprs.append(_redaction_literal(df, c, lowered[c.lower()]))
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


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
    return df.where(F.expr(f"`{column}` {predicate}"))
