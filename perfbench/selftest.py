#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no Spark needed, a few seconds):

    python3 perfbench/selftest.py

* the same seed generates byte-identical inputs, another seed does not;
* every metric in BENCHMARK.json prints by name with its unit;
* the output checks pass a correct result and fail deliberately
  corrupted ones (a view that keeps the banned column, a lost
  redaction, a missing artifact, a wrong oracle value);
* the traced run's per-pass layer figures (self time, job charging,
  streaming overhead) add up on a hand-built span tree;
* a streaming query's jobs go to the streaming span open when they ran;
* a traced run that misses a per-layer metric, or produces one of a
  layer listed as never called, is caught;
* warm-up does not stop inside a falling ramp of pass times.
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import shutil
import sys
import unittest
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from checks import check_catalog, compare_rows  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

SCRATCH = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    return (
        not cmp.left_only and not cmp.right_only
        and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                for f in cmp.common_files)
    )


def catalog_fixture(seed: int = 5, n_tables: int = 7) -> tuple[dict, tuple]:
    """A correct build of a generated catalog, made without Spark the way
    the trifecta defines it: the expected facts and the check inputs."""
    src = os.path.join(SCRATCH, f"fixture-{seed}")
    cat = datagen.write_catalog(src, seed, n_tables, 20)
    pol = cat["policy"]
    banned = datagen.BANNED_COLUMN.lower()

    def name(t: str, pii: bool) -> str:
        return f"{datagen.APP}{'_PII' if pii else ''}__{datagen.PREFIX}_{t}".upper()

    redacted, views, sql_cols, files, rows = {}, {}, {}, {}, {}
    for t in cat["managed"]:
        cols = [c for c in pq.read_schema(os.path.join(src, f"{t}.parquet")).names
                if c != banned]
        red = {c.lower(): v for c, v in
               pol["redactions"].get(f"{datagen.APP}.{t.upper()}", {}).items()}
        for pii in (False, True):
            n = name(t, pii)
            views[n] = list(cols)
            sql_cols[n] = [c.upper() for c in cols]
            select = ",\n".join(
                f"    {v!r} AS {c.upper()}".replace('"', "'")
                if (c in red and not pii) else f"    {c.upper()}"
                for c, v in ((c, red.get(c)) for c in cols)
            )
            files[f"{'PII' if pii else 'SAFE'}/{n}.sql"] = (
                f"CREATE OR REPLACE TEMPORARY VIEW {n} AS\nSELECT\n{select}\n"
                f"FROM {t.upper()}_RAW\nWHERE DELETED_AT IS NOT NULL\n"
            )
            rows[n] = [{c: (red[c] if c in red and not pii else 1) for c in cols}] * 2
        if red:
            redacted[name(t, False)] = red
    files["WIDE.yml"] = "version: 2\n"
    files["automatically_generated_sources/WIDE.yml"] = "version: 2\n"
    expected = {
        "managed": cat["managed"],
        "safe": {t: name(t, False) for t in cat["managed"]},
        "pii": {t: name(t, True) for t in cat["managed"]},
        "redacted": redacted,
        "rows": 2,
        "banned": datagen.BANNED_COLUMN,
        "absent": [name(t, p) for t in cat["names"] if t not in cat["managed"]
                   for p in (False, True)],
    }
    return expected, (views, sql_cols, files, rows, 0)


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for sub, write in (
            ("catalog", lambda d, s: datagen.write_catalog(d, s, 6, 30)),
            ("star", lambda d, s: datagen.write_star_schema(d, s, 0.001)),
        ):
            a, b, c = (os.path.join(SCRATCH, f"{sub}-{k}") for k in "abc")
            write(a, 7)
            write(b, 7)
            write(c, 8)
            self.assertTrue(same_tree(a, b), f"{sub}: same seed, different bytes")
            self.assertFalse(same_tree(a, c), f"{sub}: seeds 7 and 8 agree")


class Metrics(unittest.TestCase):
    def test_every_metric_prints_with_its_unit(self):
        spec = run.load_spec()
        for kind in ("end_to_end", "per_layer"):
            values = {m["name"]: 1.5 for m in spec[kind]}
            line = json.dumps({"correct": True, "attempted": 1, "failed": 0,
                               "metrics": run.report(spec[kind], values)})
            printed = json.loads(line)["metrics"]
            self.assertEqual(list(printed), [m["name"] for m in spec[kind]])
            for m in spec[kind]:
                self.assertEqual(printed[m["name"]],
                                 {"value": 1.5, "unit": m["unit"]})


class LayerGaps(unittest.TestCase):
    def setUp(self):
        self.spec = run.load_spec()["per_layer"]
        self.never = ("streaming.",)
        self.full = {m["name"]: 1.0 for m in self.spec
                     if not m["name"].startswith(self.never)}

    def test_complete_run_has_no_gap(self):
        self.assertEqual(run.layer_gaps(self.spec, self.full, self.never), [])

    def test_missing_metric_is_a_gap(self):
        partial = dict(self.full)
        del partial["views.generate_sql.s"]
        gaps = run.layer_gaps(self.spec, partial, self.never)
        self.assertEqual(gaps, ["views.generate_sql.s: not produced"])
        with self.assertRaises(KeyError):
            run.report(self.spec, partial)

    def test_metric_of_a_never_called_layer_is_a_gap(self):
        extra = dict(self.full, **{"streaming.batches": 2.0})
        gaps = run.layer_gaps(self.spec, extra, self.never)
        self.assertEqual(len(gaps), 1)
        self.assertIn("streaming.batches", gaps[0])


class WarmUp(unittest.TestCase):
    def test_ramp_is_not_settled(self):
        self.assertFalse(run.settled([10.6, 8.2, 7.5, 6.6]))
        # one slow pass inside a ramp does not end the warm-up
        self.assertFalse(run.settled([10.6, 8.2, 9.0, 7.5]))

    def test_flat_passes_are_settled(self):
        self.assertTrue(run.settled([10.6, 8.2, 6.5, 6.4, 6.3]))
        self.assertTrue(run.settled([6.5, 6.6, 6.4]))


class LayerFigures(unittest.TestCase):
    def test_self_time_jobs_and_streaming_overhead(self):
        def span(i, parent, name, layer, start, end, jobs=()):
            return {"id": i, "parent": parent, "name": name, "layer": layer,
                    "start": start, "end": end, "jobs": list(jobs)}

        op = span(0, None, "op.build", "op", 0.0, 4.0)
        construct = span(1, 0, "construct", "driver", 0.0, 3.0, [1, 2, 3])
        construct["stream_progress"] = [{
            "runId": "r", "batchDuration": 500, "numInputRows": 10,
            "durationMs": {"addBatch": 300, "walCommit": 50},
            "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 2**20}],
        }]
        materialize = span(2, 1, "views.materialize", "views", 0.5, 2.5)
        safe = span(3, 2, "policy.safe_projection", "policy", 1.0, 1.5)
        read = span(4, 1, "session.read_table", "session", 0.0, 0.5, [1, 2])
        dedup = span(5, 1, "operators.dedup.dedup_clusters", "operators.dedup",
                     2.5, 3.0, [3])
        execute = span(6, 0, "execute", "spark", 3.0, 4.0, [4])
        spans = [safe, materialize, read, dedup, construct, execute, op]
        m = tracing.pass_layer_metrics(
            [{"op": op, "construct": construct, "execute": execute}], spans
        )
        self.assertAlmostEqual(m["views.materialize.self_s"], 1.5)
        self.assertEqual(m["session.read_table.jobs"], 2)
        self.assertEqual(m["driver.construct_jobs"], 3)
        self.assertEqual(m["spark.jobs"], 4)
        self.assertAlmostEqual(m["operators.dedup.construct_s"], 0.5)
        self.assertAlmostEqual(m["operators.dedup.execute_s"], 1.0)
        self.assertAlmostEqual(m["streaming.overhead_s"], 2.5)
        self.assertEqual(m["streaming.state_rows"], 4)


class StreamJobs(unittest.TestCase):
    def test_stream_job_goes_to_the_streaming_span_open_then(self):
        tracer = tracing.Tracer.__new__(tracing.Tracer)
        t0 = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc).timestamp()
        tracer.spans = [
            {"name": "session.read_table", "layer": "session",
             "wall_start": t0, "wall_end": t0 + 3},
            {"name": "streaming.stream_events", "layer": "streaming",
             "wall_start": t0, "wall_end": t0 + 0.5},
            {"name": "streaming.run_stream_to_memory", "layer": "streaming",
             "wall_start": t0 + 0.5, "wall_end": t0 + 2},
        ]
        owner = tracer._stream_span("2026-01-02T03:04:06.250GMT")
        self.assertEqual(owner["name"], "streaming.run_stream_to_memory")
        self.assertIsNone(tracer._stream_span("2026-01-02T03:04:08.000GMT"))


class Checks(unittest.TestCase):
    def setUp(self):
        self.expected, self.args = catalog_fixture()

    def failures(self, args=None):
        return check_catalog(self.expected, *(args or self.args))

    def test_correct_build_passes(self):
        self.assertEqual(self.failures(), [])

    def test_view_keeping_banned_column_fails(self):
        views, sql_cols, files, rows, dupes = copy.deepcopy(self.args)
        first = self.expected["safe"][self.expected["managed"][0]]
        views[first].append(datagen.BANNED_COLUMN.lower())
        out = self.failures((views, sql_cols, files, rows, dupes))
        self.assertTrue(any("banned column" in f for f in out), out)

    def test_banned_column_in_artifact_fails(self):
        views, sql_cols, files, rows, dupes = copy.deepcopy(self.args)
        path = next(p for p in files if p.endswith(".sql"))
        files[path] = files[path].replace("SELECT\n", "SELECT\n    SSN,\n")
        out = self.failures((views, sql_cols, files, rows, dupes))
        self.assertTrue(any("banned column" in f for f in out), out)

    def test_lost_redaction_fails(self):
        views, sql_cols, files, rows, dupes = copy.deepcopy(self.args)
        safe, red = next(iter(self.expected["redacted"].items()))
        col = next(iter(red))
        rows[safe] = [dict(r, **{col: "leaked"}) for r in rows[safe]]
        out = self.failures((views, sql_cols, files, rows, dupes))
        self.assertTrue(any("not redacted" in f for f in out), out)

    def test_missing_artifact_and_dupes_fail(self):
        views, sql_cols, files, rows, _ = copy.deepcopy(self.args)
        del files[next(p for p in files if p.endswith(".sql"))]
        out = self.failures((views, sql_cols, files, rows, 1))
        self.assertTrue(any("SQL artifacts" in f for f in out), out)
        self.assertTrue(any("dupe check" in f for f in out), out)

    def test_oracle_comparison(self):
        cols, rows = ["k", "v"], [(1, 0.5), (2, None)]
        self.assertIsNone(compare_rows(cols, rows, ["V", "K"],
                                       [(None, 2), (0.5, 1)]))
        self.assertIsNotNone(compare_rows(cols, rows, cols, [(1, 0.5), (2, 0.0)]))
        self.assertIsNotNone(compare_rows(cols, rows, cols, rows[:1]))
        self.assertIsNotNone(compare_rows(cols, rows, ["k", "w"], rows))


if __name__ == "__main__":
    try:
        unittest.main(verbosity=2)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
