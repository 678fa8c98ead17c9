"""Trifecta materialization: RAW / PII / SAFE views per application.

The reference emits Jinja SQL files that dbt later materializes as
CREATE VIEW in Snowflake (reference relation.py:226-288, README.rst:25-28).
The engine short-circuits that two-tool dance: one pure planner
(``TrifectaBuilder.plan``) takes every policy decision from the schemas,
and every sink renders the same per-view plan — temp views of DataFrames,
persistent CREATE OR REPLACE VIEW, and the Spark-SQL text artifacts
(reference A22 file sink).

Invariant preserved, in every sink: all trifecta members expose identical
column names, types and order (reference README.rst:22-24); order comes
from the catalog ordinals and redactions are cast to the column's type.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..config import AppPolicy, InvalidConfigurationException, assert_safe_identifier
from ..policy.identifiers import quote_identifier, relation_alias, upper_case_policy
from ..policy.redaction import (
    check_redaction_literal,
    pii_projection,
    redaction_sql,
    safe_projection,
    soft_delete_filter,
)

# the trifecta halves each pii_mode builds: False = SAFE, True = PII
HALVES = {"both": (False, True), "nopii": (False,), "piionly": (True,)}


@dataclass(frozen=True)
class RelationPlan:
    """One SAFE or PII view of one table, as every sink renders it:
    ``schema`` holds the columns left after banned columns are dropped
    (ordinal order, source case), ``redactions`` maps real column names
    to type-checked literals (empty on the PII half), ``soft_delete`` is
    ``(column, predicate)`` only when that column survives."""

    table: str
    name: str
    pii: bool
    raw: str
    schema: StructType
    redactions: dict[str, object]
    soft_delete: tuple[str, str] | None


@dataclass
class TrifectaResult:
    """One app's trifecta: the per-view ``plans`` and the RAW member of
    every selected table, plus — once a sink ran — {view_name: DataFrame}
    and the generated SQL text keyed the same way (A22 artifact
    surface)."""

    views: dict[str, DataFrame] = field(default_factory=dict)
    sql: dict[str, str] = field(default_factory=dict)
    skipped_unmanaged: list[str] = field(default_factory=list)
    downstream_sources: list[str] = field(default_factory=list)
    plans: list[RelationPlan] = field(default_factory=list)
    raw: dict[str, str] = field(default_factory=dict)


class TrifectaBuilder:
    """Apply an AppPolicy to a set of relations and materialize the
    SAFE/PII view pair per relation (reference app.py:60-95,
    relation.py:251-288).

    ``pii_mode``: "both" | "nopii" | "piionly" — the reference's
    --nopii/--piionly gating (reference schema_builder.py:65-80,
    app.py:32-42).

    ``spark`` is read only by ``materialize_persistent``, which runs the
    views' SQL in it; planning, ``generate_sql`` and ``materialize`` need
    no session, so the CLI passes None."""

    def __init__(
        self, spark: SparkSession | None, policy: AppPolicy, pii_mode: str = "both"
    ):
        if pii_mode not in HALVES:
            raise ValueError(f"invalid pii_mode {pii_mode!r}")
        self.spark = spark
        self.policy = policy
        self.pii_mode = pii_mode

    # -- naming ----------------------------------------------------------
    def view_name(self, table: str, pii: bool) -> str:
        """APP__ALIAS / APP_PII__ALIAS. Deliberate deviation from the
        reference's {app}_{relation} / {app}_PII_{relation} (reference
        relation.py:104-129), which splits app and relation across
        Snowflake *schemas*. These views share ONE Spark namespace, where
        APP_PII_X would be ambiguous ("APP" + "PII_X" or "APP_PII" + "X"),
        so the double underscore is the app/relation boundary; prefix
        variants still apply to the alias half (policy/metadata.py)."""
        return self._name(self._source_for(table), table, pii)

    def _name(self, source, table: str, pii: bool) -> str:
        alias = relation_alias(table, source.prefix if source else None)
        suffix = "_PII" if pii else ""
        return upper_case_policy(f"{self.policy.app}{suffix}__{alias}")

    def _source_for(self, table: str):
        for source in self.policy.sources.values():
            if source.selects(table):
                return source
        return None

    # -- planning ---------------------------------------------------------
    def plan(self, schemas: dict[str, StructType]) -> TrifectaResult:
        """Every policy decision for the app, taken once from the tables'
        schemas: selection (A7/A8), unmanaged (A9), banned columns (A3),
        redactions, soft delete, pii_mode, view names and downstream
        membership (A10). Launches no Spark job; the sinks only render
        the returned plans."""
        result = TrifectaResult()
        banned = {b.upper() for b in self.policy.banned_columns}
        owner: dict[str, str] = {}
        for table, schema in schemas.items():
            source = self._source_for(table)
            if source is None:
                continue  # include/exclude filtered out (A7/A8)
            assert_safe_identifier(table)
            # the RAW member the generated SQL reads (reference README.rst:10-17)
            raw = result.raw[table] = upper_case_policy(f"{table}_RAW")
            if self.policy.is_unmanaged(table):
                result.skipped_unmanaged.append(table)  # A9
                continue
            kept = StructType([f for f in schema.fields if f.name.upper() not in banned])
            by_lower = {f.name.lower(): f for f in kept.fields}
            redactions = {
                by_lower[c].name: lit
                for c, lit in self.policy.redactions_for(table).items() if c in by_lower
            }
            for col, lit in redactions.items():
                check_redaction_literal(col, kept[col].dataType, lit)
            col, pred = source.soft_delete or ("", None)
            soft = (by_lower[col.lower()].name, pred) if col.lower() in by_lower else None
            for pii in HALVES[self.pii_mode]:
                name = self._name(source, table, pii)
                if name in owner:
                    # a PREFIX can make two tables alias to one view
                    raise InvalidConfigurationException(
                        f"tables {owner[name]!r} and {table!r} both map to view {name}"
                    )
                owner[name] = table
                result.plans.append(RelationPlan(
                    table, name, pii, raw, kept, {} if pii else redactions, soft
                ))
            if self.policy.in_downstream_sources(table):  # A10
                result.downstream_sources.append(table)
        return result

    def generate_sql(
        self, plan: RelationPlan, temporary: bool = True, database: str | None = None
    ) -> str:
        """CREATE OR REPLACE VIEW text for one plan (reference
        templates/model_sql_*.tpl) under the upper-case + reserved-word
        quoting policy. Redactions render through ``redaction_sql``, the text
        ``safe_projection`` selects, so the SQL view's schema is the
        DataFrame's."""
        parts = []
        for f in plan.schema.fields:
            name = quote_identifier(upper_case_policy(f.name))
            if f.name in plan.redactions:
                name = f"{redaction_sql(plan.redactions[f.name], f.dataType)} AS {name}"
            parts.append(f"    {name}")
        kind = "TEMPORARY VIEW" if temporary else "VIEW"
        # the database qualifier keeps persistent views clear of same-named
        # temp views; the FROM needs it too, since permanent views may not
        # reference temporary ones
        qualifier = f"{database}." if database else ""
        sql = (
            f"CREATE OR REPLACE {kind} {qualifier}{plan.name} AS\n"
            "SELECT\n" + ",\n".join(parts) + f"\nFROM {qualifier}{plan.raw}"
        )
        if plan.soft_delete:
            col, pred = plan.soft_delete
            sql += f"\nWHERE {quote_identifier(upper_case_policy(col))} {pred}"
        return sql

    # -- sinks ------------------------------------------------------------
    def materialize(self, tables: dict[str, DataFrame]) -> TrifectaResult:
        """Full refresh as temp views: idempotent re-registration of every
        planned view (reference builder.py:505-577; destructive clean +
        rebuild semantics map to CREATE OR REPLACE)."""
        result = self.plan({t: df.schema for t, df in tables.items()})
        for table, raw in result.raw.items():
            tables[table].createOrReplaceTempView(raw)
        filtered: dict[str, DataFrame] = {}
        for p in result.plans:
            if p.table not in filtered:  # one filter per table, shared by both halves
                col, pred = p.soft_delete or (None, None)
                filtered[p.table] = soft_delete_filter(tables[p.table], col, pred)
            df, cols = filtered[p.table], p.schema.fieldNames()
            if p.pii:
                view = pii_projection(df, cols)
            else:
                view = safe_projection(df, p.redactions, cols)
            view.createOrReplaceTempView(p.name)
            result.views[p.name] = view
            result.sql[p.name] = self.generate_sql(p)
        return result

    def materialize_persistent(
        self, tables: dict[str, DataFrame], database: str = "default"
    ) -> TrifectaResult:
        """Catalog-persistent trifecta: save each RAW member as a managed
        table, then run each plan's CREATE OR REPLACE VIEW — the analog of
        the reference's warehouse CREATE VIEW boundary (reference
        README.rst:25-28). Views live under ``database`` and survive
        temp-view cleanup."""
        assert_safe_identifier(database)
        result = self.plan({t: df.schema for t, df in tables.items()})
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        for table, raw in result.raw.items():
            tables[table].write.mode("overwrite").saveAsTable(f"{database}.{raw}", "parquet")
        for p in result.plans:
            result.sql[p.name] = self.generate_sql(p, temporary=False, database=database)
            self.spark.sql(result.sql[p.name])
            result.views[p.name] = self.spark.table(f"{database}.{p.name}")
        return result
