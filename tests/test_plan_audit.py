"""tools/plan_audit.py capture mode: ``plan_audit.py <label> <key>...``
writes each key's formatted physical plan to plans/<label>/<key>.txt."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import plan_audit  # noqa: E402


def test_capture_writes_each_keys_formatted_plan(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(plan_audit, "get_spark", lambda **_: spark)
    plan_audit.main(["lbl", "q_hash_agg", "x_dedup_lines"], root=str(tmp_path))
    out = tmp_path / "plans" / "lbl"
    assert sorted(os.listdir(out)) == ["q_hash_agg.txt", "x_dedup_lines.txt"]
    plan = (out / "q_hash_agg.txt").read_text()
    assert "== Physical Plan ==" in plan
    assert "HashAggregate" in plan
    assert not (tmp_path / "PLANS.md").exists()
