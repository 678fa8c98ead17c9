"""Vanilla-session analysis gate.

Round-2 postmortem: every query analyzed fine under the engine session but
4 of them failed under the driver's *vanilla* Spark 4.1.2 session, because
`events.ts` (naive TIMESTAMP(MICROS)) surfaces as TIMESTAMP_NTZ there and
`unix_millis` rejects NTZ. driver_sim missed it because it ran with
engine-like confs. This gate builds a SparkSession with NO engine confs —
exactly what the driver harness does — and forces analysis of every
`queries()` entry at sf0.001 (`.schema` triggers the analyzer; queries
that execute eagerly, e.g. streaming-to-memory, run outright).

Exit 0 = every query analyzes. Run directly or via
tests/test_vanilla_gate.py (subprocess, so the pytest JVM's configured
session can't mask anything).

Env: GATE_SF_DIR (default /root/testdata/sf0.001), GATE_ONLY=q_a,q_b.
"""
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# NO engine confs on purpose — mirror the driver harness.
spark = SparkSession.builder.master("local[8]").appName("vanilla-gate").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as m  # noqa: E402

sf = os.environ.get("GATE_SF_DIR", "/root/testdata/sf0.001")
only = {s for s in os.environ.get("GATE_ONLY", "").split(",") if s}

ok, failed = 0, []
for name, fn in m.queries().items():
    if only and name not in only:
        continue
    try:
        df = fn(spark, sf)
        _ = df.schema  # forces full analysis under the vanilla session
        ok += 1
    except Exception as e:
        failed.append(name)
        print(f"GATE FAIL {name}: {type(e).__name__}: {e}", file=sys.stderr)
        traceback.print_exc(limit=3)

# entry() smoke under the vanilla session too (driver t1)
if not only:
    try:
        _ = m.entry(spark).schema
        ok += 1
    except Exception as e:
        failed.append("entry")
        print(f"GATE FAIL entry: {type(e).__name__}: {e}", file=sys.stderr)

print(f"vanilla gate: {ok} analyzed, {len(failed)} failed {failed or ''}")
sys.exit(1 if failed else 0)
