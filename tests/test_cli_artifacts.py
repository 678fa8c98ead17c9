"""CLI + artifact-sink tests (reference schema_builder.py arg handling,
relation.py:251-288 file layout, app.py:222-229, builder.py:378-387)."""

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import yaml

from dbt_schema_builder_spark.cli import main, parse_args, policy_from_config
from dbt_schema_builder_spark.session import (
    TABLES,
    footer_schema,
    load_tables,
    read_table,
    source_schemas,
)
from dbt_schema_builder_spark.views.artifacts import (
    InvalidManualDirException,
    manual_models,
)
from dbt_schema_builder_spark.views.trifecta import TrifectaBuilder

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def config_file(tmp_path):
    cfg = {
        "apps": {
            "MAIN": {
                "sources": {
                    "RAW": {
                        "INCLUDE": ["customer", "orders", "lineitem"],
                        "SOFT_DELETE": {"l_shipdate": "IS NOT NULL"},
                    }
                },
                "redactions": {
                    "MAIN.CUSTOMER": {"C_NAME": "<redacted>", "C_ACCTBAL": 0}
                },
                "unmanaged_tables": ["MAIN.SUPPLIER"],
            }
        }
    }
    p = tmp_path / "config.yml"
    p.write_text(yaml.safe_dump(cfg))
    return str(p)


def test_nopii_piionly_mutually_exclusive(config_file, tmp_path):
    # reference schema_builder.py:65-80
    with pytest.raises(SystemExit):
        parse_args(
            ["build", "--destination-project", str(tmp_path), "--source-dir",
             "/root/testdata/sf0.001", "--config", config_file,
             "--nopii", "--piionly"]
        )


def test_destination_project_required(config_file):
    # reference schema_builder.py:90-94
    with pytest.raises(SystemExit):
        parse_args(["build", "--source-dir", "x", "--config", config_file])


def test_build_writes_artifacts(config_file, tmp_path, sf_dir):
    out = str(tmp_path / "out")
    os.makedirs(out)
    rc = main(
        ["build", "--destination-project", out, "--source-dir", sf_dir,
         "--config", config_file]
    )
    assert rc == 0
    # trifecta SQL files in APP/ and APP_PII/ dirs
    safe_files = sorted(os.listdir(os.path.join(out, "MAIN")))
    pii_files = sorted(os.listdir(os.path.join(out, "MAIN_PII")))
    assert "MAIN__CUSTOMER.sql" in safe_files
    assert "MAIN_PII__CUSTOMER.sql" in pii_files
    assert len(safe_files) == len(pii_files) == 3  # customer, orders, lineitem
    sql = open(os.path.join(out, "MAIN", "MAIN__CUSTOMER.sql")).read()
    assert "CAST('<redacted>' AS string) AS C_NAME" in sql
    # schema doc + downstream doc
    doc = yaml.safe_load(open(os.path.join(out, "MAIN.yml")))
    assert doc["version"] == 2
    assert any(s["name"] == "RAW" for s in doc["sources"])
    ds = yaml.safe_load(
        open(os.path.join(out, "automatically_generated_sources", "MAIN.yml"))
    )
    assert ds["version"] == 2
    # downstream doc exposes the SAFE schema and its _PII twin
    assert {s["name"] for s in ds["sources"]} == {"MAIN", "MAIN_PII"}


def test_rebuild_is_destructive_clean(config_file, tmp_path, sf_dir):
    # reference builder.py:378-387: stale models from removed tables vanish
    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "MAIN"), exist_ok=True)
    stale = os.path.join(out, "MAIN", "MAIN__GONE.sql")
    open(stale, "w").write("SELECT 1")
    rc = main(
        ["build", "--destination-project", out, "--source-dir", sf_dir,
         "--config", config_file]
    )
    assert rc == 0
    assert not os.path.exists(stale)


def test_manual_models_skip_generation(config_file, tmp_path, sf_dir):
    # reference relation.py:156-162: hand-written model suppresses generation
    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "MAIN_MANUAL"))
    open(os.path.join(out, "MAIN_MANUAL", "customer.sql"), "w").write(
        "-- hand written"
    )
    rc = main(
        ["build", "--destination-project", out, "--source-dir", sf_dir,
         "--config", config_file]
    )
    assert rc == 0
    assert "MAIN__CUSTOMER.sql" not in os.listdir(os.path.join(out, "MAIN"))
    assert "MAIN__ORDERS.sql" in os.listdir(os.path.join(out, "MAIN"))


def test_manual_dir_must_be_flat(tmp_path):
    # reference relation.py:177-204
    os.makedirs(tmp_path / "MAIN_MANUAL" / "nested")
    with pytest.raises(InvalidManualDirException):
        manual_models(str(tmp_path), "MAIN")


def test_nopii_mode_writes_only_safe(config_file, tmp_path, sf_dir):
    out = str(tmp_path / "out")
    rc = main(
        ["build", "--destination-project", out, "--source-dir", sf_dir,
         "--config", config_file, "--nopii"]
    )
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "MAIN"))
    assert not os.path.isdir(os.path.join(out, "MAIN_PII"))


def test_rebuild_keeps_hand_written_descriptions(config_file, tmp_path, sf_dir):
    # reference builder.py:476-503: a full refresh carries the prior
    # APP.yml metadata forward and drops tables that left the catalog
    out = str(tmp_path / "out")
    argv = ["build", "--destination-project", out, "--source-dir", sf_dir,
            "--config", config_file]
    assert main(argv) == 0
    doc_path = os.path.join(out, "MAIN.yml")
    doc = yaml.safe_load(open(doc_path))
    (raw,) = [s for s in doc["sources"] if s["name"] == "RAW"]
    for t in raw["tables"]:
        if t["name"] == "customer":
            t["description"] = "hand-written"
    yaml.safe_dump(doc, open(doc_path, "w"))
    cfg = yaml.safe_load(open(config_file))
    cfg["apps"]["MAIN"]["sources"]["RAW"]["INCLUDE"].remove("orders")
    yaml.safe_dump(cfg, open(config_file, "w"))
    assert main(argv) == 0
    (raw,) = [
        s for s in yaml.safe_load(open(doc_path))["sources"] if s["name"] == "RAW"
    ]
    tables = {t["name"]: t for t in raw["tables"]}
    assert set(tables) == {"customer", "lineitem"}
    assert tables["customer"]["description"] == "hand-written"
    assert tables["lineitem"]["description"] == ""


def test_view_name_collision_exits_1(tmp_path, capsys):
    # x under PREFIX EVT and evt_x both alias to view MAIN__EVT_X
    cfg = {"apps": {"MAIN": {"sources": {
        "EVENTS": {"INCLUDE": ["x"], "PREFIX": "EVT"},
        "RAW": {"INCLUDE": ["evt_x"]},
    }}}}
    config = tmp_path / "config.yml"
    config.write_text(yaml.safe_dump(cfg))
    for t in ("x", "evt_x"):  # schema-only tables: build reads no rows
        pq.write_table(pa.table({"id": pa.array([], pa.int32())}), tmp_path / f"{t}.parquet")
    rc = main(
        ["build", "--destination-project", str(tmp_path / "out"), "--source-dir",
         str(tmp_path), "--config", str(config)]
    )
    assert rc == 1
    assert "both map to view MAIN__EVT_X" in capsys.readouterr().err


def test_build_starts_no_jvm(config_file, tmp_path, sf_dir):
    # no java anywhere: JAVA_HOME points nowhere and PATH holds only the
    # interpreter, so any Spark session would fail with JAVA_GATEWAY_EXITED
    out = tmp_path / "out"
    env = {**os.environ, "JAVA_HOME": "/nonexistent",
           "PATH": os.path.dirname(sys.executable)}
    proc = subprocess.run(
        [sys.executable, "-m", "dbt_schema_builder_spark", "build",
         "--destination-project", str(out), "--source-dir", sf_dir,
         "--config", config_file],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    assert "MAIN: 6 views, 8 artifacts, 0 unmanaged skipped" in proc.stdout
    written = sorted(
        os.path.relpath(os.path.join(d, f), out)
        for d, _, files in os.walk(out) for f in files
    )
    assert written == [
        "MAIN.yml",
        "MAIN/MAIN__CUSTOMER.sql",
        "MAIN/MAIN__LINEITEM.sql",
        "MAIN/MAIN__ORDERS.sql",
        "MAIN_PII/MAIN_PII__CUSTOMER.sql",
        "MAIN_PII/MAIN_PII__LINEITEM.sql",
        "MAIN_PII/MAIN_PII__ORDERS.sql",
        "automatically_generated_sources/MAIN.yml",
    ]


def test_source_schemas_scans_the_source_dir(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    table = pa.table({"id": pa.array([1, 2], pa.int64()), "name": ["a", "b"]})
    pq.write_table(table, src / "extra.parquet")  # file table, not in TABLES
    (src / "t.parquet").mkdir()  # directory table with a commit marker
    pq.write_table(table, src / "t.parquet" / "part-0.parquet")
    (src / "t.parquet" / "_SUCCESS").write_text("")
    (src / "p.parquet" / "k=1").mkdir(parents=True)  # Hive-partitioned
    pq.write_table(table, src / "p.parquet" / "k=1" / "part-0.parquet")
    for hidden in (".hidden.parquet", "_tmp.parquet"):
        pq.write_table(table, src / hidden)
    (src / "notes.txt").write_text("not a table")

    schemas = source_schemas(str(src))
    assert list(schemas) == ["extra", "p", "t"]
    assert "extra" not in TABLES
    for name, schema in schemas.items():
        assert schema == read_table(spark, str(src / f"{name}.parquet")).schema, name
    assert schemas["extra"] == footer_schema(str(src / "extra.parquet"))[0]
    assert schemas["p"].fieldNames() == ["id", "name", "k"]
    assert footer_schema(str(src / "p.parquet"))[0] is None  # the inferred path

    # a dir without the fixture tables builds, and the extra table is built
    cfg = {"apps": {"MAIN": {"sources": {"RAW": {"INCLUDE": ["extra", "p"]}}}}}
    config = tmp_path / "config.yml"
    config.write_text(yaml.safe_dump(cfg))
    out = tmp_path / "out"
    rc = main(["build", "--destination-project", str(out), "--source-dir", str(src),
               "--config", str(config)])
    assert rc == 0
    assert sorted(os.listdir(out / "MAIN")) == ["MAIN__EXTRA.sql", "MAIN__P.sql"]
    assert "    K\nFROM P_RAW" in (out / "MAIN" / "MAIN__P.sql").read_text()


# every policy feature: a prefix, soft delete present (lineitem) and absent
# (customer), a banned column, string / double / NULL-on-timestamp_ntz
# redactions with a quote, an unmanaged table and a mixed-case allow-list
FULL_CONFIG = {"apps": {
    "MAIN": {
        "sources": {
            "RAW": {
                "INCLUDE": ["customer", "orders", "lineitem", "supplier", "embeddings"],
                "SOFT_DELETE": {"l_shipdate": "IS NOT NULL"},
            },
            "EVENTS": {"INCLUDE": ["events", "documents"], "PREFIX": "EVT"},
        },
        "redactions": {
            "MAIN.CUSTOMER": {"C_NAME": "it's <redacted>", "C_ACCTBAL": 0.5},
            "MAIN.EVENTS": {"TS": None, "EVENT_TYPE": "x"},
        },
        "banned_columns": ["PROPS"],
        "unmanaged_tables": ["MAIN.SUPPLIER"],
        "downstream_allow_list": ["MAIN.CUSTOMER", "main.Events"],
    },
    "OTHER": {"sources": {"RAW": {"INCLUDE": ["region", "nation"]}}},
}}


@pytest.mark.parametrize("pii_mode", ["both", "nopii", "piionly"])
def test_build_sql_matches_the_dataframe_sink(spark, tmp_path, sf_dir, pii_mode):
    # the footer-schema path of build renders what materialize renders from
    # the DataFrames read_table gives
    config = tmp_path / "config.yml"
    config.write_text(yaml.safe_dump(FULL_CONFIG))
    out = tmp_path / "out"
    argv = ["build", "--destination-project", str(out), "--source-dir", sf_dir,
            "--config", str(config)]
    assert main(argv + ([] if pii_mode == "both" else [f"--{pii_mode}"])) == 0
    for app, raw in FULL_CONFIG["apps"].items():
        builder = TrifectaBuilder(spark, policy_from_config(app, raw), pii_mode=pii_mode)
        expected = builder.materialize(load_tables(spark, sf_dir)).sql
        assert expected
        written = {
            f[: -len(".sql")]: (out / d / f).read_text()
            for d in (app, f"{app}_PII") if (out / d).is_dir()
            for f in os.listdir(out / d)
        }
        assert written == {name: sql + "\n" for name, sql in expected.items()}


AWKWARD = ["it's \"quoted\"", "two\nlines", "naïve café", "yes", "on", "~",
           "null", "x" * 120, "inf", "None", "", " lead", "a: b", "- c", "#d",
           "é" * 90, "tab\tand " * 12, float("inf"), None, True, 1.5]


def test_yaml_artifacts_equal_pure_python_safe_dump(tmp_path, sf_dir, monkeypatch):
    # with libyaml's emitter and parser where PyYAML has them, build writes
    # the text of the pure-Python safe_dump and reads back what safe_load
    # would; the first build's docs take the libyaml emitter, the rebuild's
    # awkward hand-written metadata the pure-Python one
    from dbt_schema_builder_spark import cli
    from dbt_schema_builder_spark.views import artifacts

    if yaml.__with_libyaml__:
        assert artifacts._DUMPER is yaml.CSafeDumper
        assert artifacts._LOADER is yaml.CSafeLoader
    for node in (AWKWARD, {"": 1}, {"k" * 130: 1}):
        assert not artifacts._libyaml_writes_same_text(node)
    docs = {}

    def spy(out_dir, app, result, schema_doc=None, downstream_doc=None):
        docs[app] = (schema_doc, downstream_doc)
        return artifacts.write_artifacts(out_dir, app, result, schema_doc, downstream_doc)

    monkeypatch.setattr(cli, "write_artifacts", spy)
    config = tmp_path / "config.yml"
    config.write_text(yaml.safe_dump(FULL_CONFIG))
    out = tmp_path / "out"
    argv = ["build", "--destination-project", str(out), "--source-dir", sf_dir,
            "--config", str(config)]

    def check():
        for app, (schema_doc, downstream_doc) in docs.items():
            for doc, path in ((schema_doc, out / f"{app}.yml"), (
                    downstream_doc, out / "automatically_generated_sources" / f"{app}.yml")):
                assert path.read_text() == yaml.safe_dump(doc, sort_keys=False)

    assert main(argv) == 0
    check()
    assert all(artifacts._libyaml_writes_same_text(d) for pair in docs.values() for d in pair)
    # a rebuild reads hand-written table metadata back through the loader
    doc_path = out / "MAIN.yml"
    doc = yaml.safe_load(doc_path.read_text())
    for source in doc["sources"]:
        for t in source["tables"]:
            t["meta"] = {"notes": AWKWARD}
    doc_path.write_text(yaml.safe_dump(doc, sort_keys=False))
    assert main(argv) == 0
    check()
    carried = [t for s in docs["MAIN"][0]["sources"] for t in s["tables"]]
    assert len(carried) == 7
    assert all(t["meta"] == {"notes": AWKWARD} for t in carried)
