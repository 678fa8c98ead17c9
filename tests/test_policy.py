"""Policy layer unit tests — mirrors the reference's config/identifier test
coverage (reference tests/test_schema.py:11-166, tests/test_relation.py:292-352,
tests/test_builder.py:41-175)."""

import pytest

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
        p = AppPolicy(app="M", downstream_allow_list=["M.CUSTOMER"])
        assert p.in_downstream_sources("customer")
        assert not p.in_downstream_sources("orders")


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
