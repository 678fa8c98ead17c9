"""Policy layer unit tests — mirrors the reference's config/identifier test
coverage (reference tests/test_schema.py:11-166, tests/test_relation.py:292-352,
tests/test_builder.py:41-175)."""

import dataclasses
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dbt_schema_builder_spark.config import (
    AppPolicy,
    InvalidConfigurationException,
    SourcePolicy,
    assert_safe_identifier,
)
from dbt_schema_builder_spark.policy.identifiers import (
    quote_identifier,
    relation_alias,
)
from dbt_schema_builder_spark.policy.redaction import (
    pii_projection,
    safe_projection,
    soft_delete_filter,
)


class TestSourcePolicy:
    def test_include_filter(self):
        p = SourcePolicy(name="RAW", include=["customer", "orders"])
        assert p.selects("customer") and p.selects("ORDERS")
        assert not p.selects("lineitem")

    def test_exclude_filter(self):
        p = SourcePolicy(name="RAW", exclude=["embeddings"])
        assert p.selects("customer")
        assert not p.selects("EMBEDDINGS")

    def test_include_exclude_mutually_exclusive(self):
        # reference schema.py:99-102
        with pytest.raises(InvalidConfigurationException):
            SourcePolicy(name="RAW", include=["a"], exclude=["b"])

    def test_from_config_rejects_unknown_keys(self):
        # reference builder.py:219-241
        with pytest.raises(InvalidConfigurationException):
            SourcePolicy.from_config("RAW", {"BOGUS": []})

    def test_from_config_soft_delete_shape(self):
        # reference builder.py:249-263
        with pytest.raises(InvalidConfigurationException):
            SourcePolicy.from_config("RAW", {"SOFT_DELETE": {"a": "x", "b": "y"}})


class TestAppPolicy:
    def test_injection_guard(self):
        # reference builder.py:154-159
        with pytest.raises(InvalidConfigurationException):
            assert_safe_identifier("bad;drop table")
        assert assert_safe_identifier("GOOD_1") == "GOOD_1"

    def test_redactions_for_is_case_insensitive(self):
        p = AppPolicy(
            app="MAIN",
            redactions={"main.Customer": {"C_Name": "x"}, "MAIN.CUSTOMER": {"c": 1}},
        )
        assert p.redactions_for("CUSTOMER") == {"c_name": "x"}  # first key wins
        assert p.redactions_for("orders") == {}
        p.redactions_for("customer")["c_name"] = "changed"  # callers get a copy
        assert p.redactions_for("customer") == {"c_name": "x"}
        moved = dataclasses.replace(p, redactions={"MAIN.ORDERS": {"O_X": 0}})
        assert moved.redactions_for("orders") == {"o_x": 0}
        assert moved.redactions_for("customer") == {}

    def test_unmanaged_regex_anchored(self):
        # reference relation.py:140-154: '$' appended, so PART matches
        # MAIN.PART.* but PARTSUPP does not match MAIN.PART
        p = AppPolicy(app="MAIN", unmanaged_tables=["MAIN.SUPPLIER", "MAIN.PART.*"])
        assert p.is_unmanaged("supplier")
        assert p.is_unmanaged("part")
        assert p.is_unmanaged("partsupp")  # PART.* matches PARTSUPP
        assert not p.is_unmanaged("supplier2")  # anchored: SUPPLIER$ != SUPPLIER2

    def test_unmanaged_invalid_regex_raises(self):
        # reference builder.py:341-376
        with pytest.raises(InvalidConfigurationException):
            AppPolicy(app="MAIN", unmanaged_tables=["MAIN.["])

    def test_downstream_allow_list_empty_means_all(self):
        # reference relation.py:164-175
        assert AppPolicy(app="M").in_downstream_sources("anything")
        p = AppPolicy(app="M", downstream_allow_list=["M.CUSTOMER", "m.Orders"])
        assert p.in_downstream_sources("customer")
        assert p.in_downstream_sources("ORDERS")
        assert not p.in_downstream_sources("lineitem")


class TestIdentifiers:
    def test_keyword_collision_rename(self):
        # reference relation.py:48-57, tests/test_relation.py:292-336
        assert relation_alias("START") == "_START"
        assert relation_alias("customer") == "customer"
        assert relation_alias("START", prefix="EVT") == "EVT_START"
        assert relation_alias("customer", prefix="EVT") == "EVT_customer"

    def test_keyword_quoting(self):
        # reference relation.py:63-70, tests/test_relation.py:339-352
        assert quote_identifier("ORDER") == "`ORDER`"
        assert quote_identifier("C_NAME") == "C_NAME"
        assert quote_identifier("weird col") == "`weird col`"


class TestRedaction:
    def test_safe_projection_replaces_literals(self, spark, tables):
        df = tables["customer"]
        safe = safe_projection(df, {"c_name": "<redacted>", "c_acctbal": 0})
        assert safe.columns == df.columns  # trifecta parity README.rst:22-24
        row = safe.limit(1).collect()[0]
        assert row["c_name"] == "<redacted>"
        assert row["c_acctbal"] == 0.0
        # literal cast keeps source type
        assert dict(safe.dtypes)["c_acctbal"] == dict(df.dtypes)["c_acctbal"]

    def test_pii_projection_passthrough(self, spark, tables):
        df = tables["customer"]
        assert pii_projection(df).columns == df.columns
        assert pii_projection(df).count() == df.count()

    def test_soft_delete_filter_applies_only_when_column_exists(self, tables):
        li = tables["lineitem"]
        filtered = soft_delete_filter(li, "l_shipdate", "IS NOT NULL")
        assert filtered.count() <= li.count()
        # absent column: no-op
        assert soft_delete_filter(li, "nope", "IS NULL").count() == li.count()

    def test_projections_match_the_column_api_form(self, spark):
        # awkward names (backtick, space, dot, reserved words, mixed case,
        # a struct field with a space) and literals (quote, backslash, None,
        # negative float, numeric string, "true" on a boolean, 0 on a decimal)
        df = spark.createDataFrame(
            [("x", "y", 1, 2.5, True, "m", 10, "k", decimal.Decimal("1.50"), 0.5, (1,)),
             (None, "z", None, None, False, None, None, "j", None, None, None)],
            StructType([
                StructField("a`b", StringType()),
                StructField("with space", StringType()),
                StructField("x.y", IntegerType()),
                StructField("order", DoubleType()),
                StructField("select", BooleanType()),
                StructField("MixedCase", StringType()),
                StructField("plain", LongType()),
                StructField("Dot.Kept", StringType()),
                StructField("amount", DecimalType(10, 2)),
                StructField("ratio", DoubleType()),
                StructField("nested", StructType([StructField("a b", IntegerType())])),
            ]),
        )
        redactions = {
            "A`B": "it's",
            "with space": "back\\slash",
            "X.Y": "42",
            "ORDER": -1.5,
            "select": "true",
            "mixedcase": None,
            "amount": 0,
            "nested": None,
        }
        columns = list(reversed(df.columns))

        def ref(c):
            return F.col("`" + c.replace("`", "``") + "`")

        def column_api(redactions):
            lowered = {k.lower(): v for k, v in redactions.items()}
            return df.select(*[
                F.lit(lowered[c.lower()]).cast(df.schema[c].dataType).alias(c)
                if c.lower() in lowered else ref(c)
                for c in columns
            ])

        for got, want in (
            (safe_projection(df, redactions, columns), column_api(redactions)),
            (pii_projection(df, columns), column_api({})),
            (pii_projection(df), df.select(*[ref(c) for c in df.columns])),
        ):
            assert got.schema == want.schema  # names, types, nullability, order
            assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
        safe = safe_projection(df, redactions, columns).first()
        assert (safe["a`b"], safe["with space"], safe["x.y"]) == ("it's", "back\\slash", 42)
        assert (safe["order"], safe["select"], safe["MixedCase"]) == (-1.5, True, None)
        # SQL has no infinity literal: the string cast gives the same value
        # (a nullable column, where the Column form's literal was not)
        inf = safe_projection(df, {"ratio": float("-inf")}).first()["ratio"]
        assert inf == float("-inf")
