"""CLI + artifact-sink tests (reference schema_builder.py arg handling,
relation.py:251-288 file layout, app.py:222-229, builder.py:378-387)."""

import os

import pytest
import yaml

from dbt_schema_builder_spark import cli
from dbt_schema_builder_spark.cli import main, parse_args
from dbt_schema_builder_spark.views.artifacts import (
    InvalidManualDirException,
    manual_models,
)


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


def test_build_writes_artifacts(spark, config_file, tmp_path, sf_dir):
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


def test_rebuild_is_destructive_clean(spark, config_file, tmp_path, sf_dir):
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


def test_manual_models_skip_generation(spark, config_file, tmp_path, sf_dir):
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


def test_nopii_mode_writes_only_safe(spark, config_file, tmp_path, sf_dir):
    out = str(tmp_path / "out")
    rc = main(
        ["build", "--destination-project", out, "--source-dir", sf_dir,
         "--config", config_file, "--nopii"]
    )
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "MAIN"))
    assert not os.path.isdir(os.path.join(out, "MAIN_PII"))


def test_rebuild_keeps_hand_written_descriptions(
    spark, config_file, tmp_path, sf_dir
):
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


def test_view_name_collision_exits_1(spark, tmp_path, monkeypatch, capsys):
    # x under PREFIX EVT and evt_x both alias to view MAIN__EVT_X
    cfg = {"apps": {"MAIN": {"sources": {
        "EVENTS": {"INCLUDE": ["x"], "PREFIX": "EVT"},
        "RAW": {"INCLUDE": ["evt_x"]},
    }}}}
    config = tmp_path / "config.yml"
    config.write_text(yaml.safe_dump(cfg))
    frames = {t: spark.createDataFrame([(1,)], "id int") for t in ("x", "evt_x")}
    monkeypatch.setattr(cli, "load_tables", lambda spark, source_dir: frames)
    rc = main(
        ["build", "--destination-project", str(tmp_path / "out"), "--source-dir",
         str(tmp_path), "--config", str(config)]
    )
    assert rc == 1
    assert "both map to view MAIN__EVT_X" in capsys.readouterr().err
