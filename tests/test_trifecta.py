"""Trifecta end-to-end tests (reference app.py / builder.py:505-577,
tests/test_app.py, tests/test_builder.py:178-211)."""

import dataclasses

import pytest

from dbt_schema_builder_spark.config import (
    AppPolicy,
    InvalidConfigurationException,
    SourcePolicy,
)
from dbt_schema_builder_spark.policy.metadata import (
    assemble_schema_doc,
    find_duplicates,
    merge_prior_metadata,
)
from dbt_schema_builder_spark.views import TrifectaBuilder


@pytest.fixture()
def policy():
    return AppPolicy(
        app="MAIN",
        sources={
            "RAW": SourcePolicy(
                name="RAW",
                include=["customer", "orders", "lineitem", "supplier"],
                soft_delete=("l_shipdate", "IS NOT NULL"),
            )
        },
        redactions={"MAIN.CUSTOMER": {"C_NAME": "<redacted>", "C_ACCTBAL": 0}},
        banned_columns=["PROPS"],
        unmanaged_tables=["MAIN.SUPPLIER"],
        downstream_allow_list=["MAIN.CUSTOMER", "MAIN.ORDERS"],
    )


def test_materialize_trifecta(spark, tables, policy):
    builder = TrifectaBuilder(spark, policy)
    result = builder.materialize(
        {k: tables[k] for k in ("customer", "orders", "lineitem", "supplier")}
    )
    # supplier unmanaged, others produce SAFE + PII
    assert result.skipped_unmanaged == ["supplier"]
    assert set(result.views) == {
        "MAIN__CUSTOMER", "MAIN_PII__CUSTOMER",
        "MAIN__ORDERS", "MAIN_PII__ORDERS",
        "MAIN__LINEITEM", "MAIN_PII__LINEITEM",
    }
    safe = spark.table("MAIN__CUSTOMER")
    pii = spark.table("MAIN_PII__CUSTOMER")
    # trifecta parity: identical column count and order (README.rst:22-24)
    assert safe.columns == pii.columns == list(tables["customer"].columns)
    assert safe.select("c_name").distinct().collect()[0][0] == "<redacted>"
    assert pii.select("c_name").distinct().count() > 1
    # soft delete applied to lineitem only
    assert (
        spark.table("MAIN__LINEITEM").count()
        == tables["lineitem"].where("l_shipdate IS NOT NULL").count()
    )
    # downstream allow-list (A10)
    assert result.downstream_sources == ["customer", "orders"]


def test_pii_mode_gating(spark, tables, policy):
    # reference --nopii / --piionly (schema_builder.py:65-80, app.py:32-42)
    nopii = TrifectaBuilder(spark, policy, pii_mode="nopii").materialize(
        {"customer": tables["customer"]}
    )
    assert set(nopii.views) == {"MAIN__CUSTOMER"}
    piionly = TrifectaBuilder(spark, policy, pii_mode="piionly").materialize(
        {"customer": tables["customer"]}
    )
    assert set(piionly.views) == {"MAIN_PII__CUSTOMER"}


def test_generated_sql_text(spark, tables, policy):
    builder = TrifectaBuilder(spark, policy)
    result = builder.materialize({"lineitem": tables["lineitem"]})
    sql = result.sql["MAIN__LINEITEM"]
    assert "CREATE OR REPLACE TEMPORARY VIEW MAIN__LINEITEM" in sql
    assert "WHERE L_SHIPDATE IS NOT NULL" in sql
    red_sql = builder.materialize({"customer": tables["customer"]}).sql[
        "MAIN__CUSTOMER"
    ]
    # every redaction is cast to its column's type, as the DataFrame view is
    assert "CAST('<redacted>' AS string) AS C_NAME" in red_sql
    assert "CAST(0 AS double) AS C_ACCTBAL" in red_sql


def test_idempotent_full_refresh(spark, tables, policy):
    # reference builder.py:378-387 destructive clean + rebuild ==
    # CREATE OR REPLACE: materializing twice is stable
    builder = TrifectaBuilder(spark, policy)
    r1 = builder.materialize({"customer": tables["customer"]})
    r2 = builder.materialize({"customer": tables["customer"]})
    assert set(r1.views) == set(r2.views)
    assert spark.table("MAIN__CUSTOMER").count() == tables["customer"].count()


def test_materialize_persistent_views(spark, tables, policy):
    builder = TrifectaBuilder(spark, policy)
    result = builder.materialize_persistent(
        {"customer": tables["customer"]}, database="trifecta_test"
    )
    assert set(result.views) == {"MAIN__CUSTOMER", "MAIN_PII__CUSTOMER"}
    # persistent: addressable with a database qualifier, not a temp view
    safe = spark.table("trifecta_test.MAIN__CUSTOMER")
    assert safe.select("c_name").distinct().collect()[0][0] == "<redacted>"
    assert (
        spark.table("trifecta_test.MAIN_PII__CUSTOMER").count()
        == tables["customer"].count()
    )
    # listTables also returns session temp views; filter to the database
    persistent = {
        t.name.lower(): t.tableType
        for t in spark.catalog.listTables("trifecta_test")
        if t.namespace == ["trifecta_test"]
    }
    assert persistent["main__customer"] == "VIEW"
    assert persistent["customer_raw"] == "MANAGED"


def test_bad_redaction_literal_fails_before_persistent_write(spark, tables, policy):
    # the literal is checked against the column type when the view is
    # planned, so nothing reaches the catalog
    policy = dataclasses.replace(policy, redactions={"MAIN.CUSTOMER": {"C_ACCTBAL": "abc"}})
    with pytest.raises(InvalidConfigurationException, match="abc"):
        TrifectaBuilder(spark, policy).materialize_persistent(
            {"customer": tables["customer"]}, database="trifecta_bad_literal"
        )
    assert not spark.catalog.databaseExists("trifecta_bad_literal")


def test_view_name_collision_is_rejected(spark):
    # PREFIX EVT aliases x to EVT_X, the alias of evt_x in another source
    policy = AppPolicy(
        app="MAIN",
        sources={
            "EVENTS": SourcePolicy(name="EVENTS", include=["x"], prefix="EVT"),
            "RAW": SourcePolicy(name="RAW", include=["evt_x"]),
        },
    )
    frames = {t: spark.createDataFrame([(1,)], "id int") for t in ("x", "evt_x")}
    with pytest.raises(InvalidConfigurationException, match="MAIN__EVT_X") as exc:
        TrifectaBuilder(spark, policy).materialize(frames)
    assert "'x'" in str(exc.value) and "'evt_x'" in str(exc.value)


def test_merge_prior_metadata_prefix_variants():
    # reference relation.py:81-138, tests/test_relation.py:107-224
    prior = {"THIS_TABLE": {"description": "kept"}, "EVT_OTHER": {"description": "p"}}
    merged = merge_prior_metadata(["THIS_TABLE", "OTHER", "NEW_ONE"], prior, prefix="EVT")
    assert merged["THIS_TABLE"]["description"] == "kept"
    assert merged["OTHER"]["description"] == "p"  # matched via prefix variant
    assert merged["NEW_ONE"]["description"] == ""  # fresh defaults


def test_find_duplicates(spark, tables):
    dupes = find_duplicates(tables["orders"], ["o_custkey"])
    assert dupes.where("n <= 1").count() == 0


def test_assemble_schema_doc():
    doc = assemble_schema_doc(
        "MAIN", "TESTDB", {"RAW": ["customer"]}, {"MAIN__CUSTOMER": ["c_custkey"]}
    )
    assert doc["version"] == 2
    assert doc["sources"][0]["tables"] == [{"name": "customer"}]
    assert doc["models"][0]["columns"] == [{"name": "c_custkey"}]
