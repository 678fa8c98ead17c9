"""The generated SQL artifacts are executable Spark SQL, and executing
them produces exactly the same result as the DataFrame-built views —
pinning that the two representations of the policy pipeline agree
(reference emits SQL text for dbt to run; our text must be live)."""

import pytest

from dbt_schema_builder_spark.config import AppPolicy, SourcePolicy
from dbt_schema_builder_spark.views import TrifectaBuilder


@pytest.fixture()
def policy():
    return AppPolicy(
        app="EXEC",
        sources={
            "RAW": SourcePolicy(
                name="RAW",
                include=["customer", "lineitem"],
                soft_delete=("l_shipdate", "IS NOT NULL"),
            )
        },
        redactions={"EXEC.CUSTOMER": {"C_NAME": "<redacted>", "C_ACCTBAL": 0}},
    )


def test_generated_sql_executes_and_matches_dataframe_views(
    spark, tables, policy
):
    builder = TrifectaBuilder(spark, policy)
    result = builder.materialize(
        {"customer": tables["customer"], "lineitem": tables["lineitem"]}
    )
    for view_name, sql in result.sql.items():
        df_rows = sorted(map(tuple, result.views[view_name].collect()))
        # re-create the view from the generated SQL text and compare
        spark.sql(sql)
        sql_rows = sorted(map(tuple, spark.table(view_name).collect()))
        assert sql_rows == df_rows, view_name


def test_redaction_literals_with_quotes_survive_sql_roundtrip(spark, tables):
    """A redaction literal containing (or starting/ending with) single
    quotes must execute as valid SQL and come back byte-identical —
    quote-doubling escape, never strip(\"'\"). Also pins that a malicious-
    looking literal stays a literal (no SQL injection through config)."""
    tricky = {
        "C_NAME": "it's ''already'' quoted",
        "C_MKTSEGMENT": "'; DROP TABLE x; --",
    }
    policy = AppPolicy(
        app="QUOT",
        sources={"RAW": SourcePolicy(name="RAW", include=["customer"])},
        redactions={"QUOT.CUSTOMER": tricky},
    )
    builder = TrifectaBuilder(spark, policy)
    result = builder.materialize({"customer": tables["customer"]})
    safe_name = builder.view_name("customer", pii=False)
    spark.sql(result.sql[safe_name])  # must parse and execute
    row = spark.table(safe_name).first()
    assert row["C_NAME"] == "it's ''already'' quoted"
    assert row["C_MKTSEGMENT"] == "'; DROP TABLE x; --"


def _every_feature_policy() -> AppPolicy:
    """Banned column, string, numeric and NULL redaction (one on a banned
    column), soft delete whose column is present (lineitem) and absent
    (customer, order), a prefix, a reserved-word table and columns, and
    an unmanaged table."""
    return AppPolicy(
        app="DIFF",
        sources={
            "EVENTS": SourcePolicy(name="EVENTS", include=["events"], prefix="EVT"),
            "RAW": SourcePolicy(
                name="RAW",
                include=["customer", "lineitem", "order", "supplier"],
                soft_delete=("l_shipdate", ">= '1998-06-01'"),
            ),
        },
        redactions={
            "DIFF.CUSTOMER": {"C_NAME": "it's <redacted> \\ here", "C_ACCTBAL": 0},
            "DIFF.EVENTS": {"PROPS": "{}", "VALUE": -1},
            "DIFF.LINEITEM": {"L_RETURNFLAG": None},
            "DIFF.ORDER": {"SELECT": "<kw>"},
        },
        banned_columns=["PROPS"],
        unmanaged_tables=["DIFF.SUPPLIER"],
    )


@pytest.mark.parametrize(
    "pii_mode, halves",
    [("both", (False, True)), ("nopii", (False,)), ("piionly", (True,))],
    ids=["both", "nopii", "piionly"],
)
def test_every_sink_renders_the_same_views(spark, tables, pii_mode, halves):
    """The temp view, the persistent view and the view the artifact SQL
    creates agree on upper-cased column names, types, order and rows,
    for every policy feature and pii_mode; the banned column reaches
    none of them."""
    frames = {t: tables[t] for t in ("customer", "lineitem", "events", "supplier")}
    frames["order"] = spark.createDataFrame(
        [(1, "a", "x"), (2, None, "y")], "id int, `order` string, `select` string"
    )
    builder = TrifectaBuilder(spark, _every_feature_policy(), pii_mode=pii_mode)
    database = f"diff_{pii_mode}"
    persistent = builder.materialize_persistent(frames, database=database)
    temp = builder.materialize(frames)

    managed = ("customer", "lineitem", "events", "order")
    expected = {builder.view_name(t, pii) for t in managed for pii in halves}
    assert set(temp.views) == set(persistent.views) == expected
    assert temp.skipped_unmanaged == persistent.skipped_unmanaged == ["supplier"]
    # the prefix and the reserved-word rename shape the view names
    assert builder.view_name("events", False) == "DIFF__EVT_EVENTS"
    assert builder.view_name("order", True) == "DIFF_PII___ORDER"

    shapes = {}
    for table in managed:
        source_cols = [c.upper() for c in frames[table].columns if c.upper() != "PROPS"]
        for pii in halves:
            name = builder.view_name(table, pii)
            spark.sql(temp.sql[name])  # re-creates the temp view from the artifact
            sinks = {
                "temp": temp.views[name],
                "persistent": spark.table(f"{database}.{name}"),
                "sql": spark.table(name),
            }
            got = {
                sink: (
                    [(c.upper(), t) for c, t in df.dtypes],
                    sorted(map(tuple, df.collect()), key=repr),
                )
                for sink, df in sinks.items()
            }
            assert got["temp"] == got["persistent"] == got["sql"], name
            assert [c for c, _ in got["temp"][0]] == source_cols, name
            shapes.setdefault(table, []).append(got["temp"][0])
    # SAFE and PII halves of one table expose the same names and types
    assert all(len({tuple(s) for s in v}) == 1 for v in shapes.values())

    rows = {t: frames[t].count() for t in managed}
    kept = frames["lineitem"].where("l_shipdate >= '1998-06-01'").count()
    assert 0 < kept < rows["lineitem"]
    for pii in halves:
        assert temp.views[builder.view_name("lineitem", pii)].count() == kept
        assert temp.views[builder.view_name("customer", pii)].count() == rows["customer"]
        assert temp.views[builder.view_name("order", pii)].count() == rows["order"]
    if False in halves:  # the SAFE half is built
        safe = temp.views[builder.view_name("customer", False)].first()
        assert safe["c_name"] == "it's <redacted> \\ here"
        assert safe["c_acctbal"] == 0.0
        assert temp.views[builder.view_name("order", False)].first()["select"] == "<kw>"
