#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady it is.

    python3 perfbench/steadiness.py --seeds 1-10 --sets 2 --out perfbench/results/run.json
    python3 perfbench/steadiness.py --workloads query_ops --seeds 1-5

Runs ``run.py`` once per (seed, workload, set), one at a time, with
``run_seconds`` from ``BENCHMARK.json``. With ``--sets 2`` the two sets
are interleaved: for each seed and workload, a run of set A and then a
run of set B, so a drift of the host's speed lands on both sets alike.

For each set and end-to-end metric it prints the median and the spread:
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
a third of the metric's bound. For each later set it prints how much
worse its median is than set A's, next to the bound. ``--out`` keeps
every run's result line and wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SET_NAMES = "ABCDEFGH"


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> tuple[float, float]:
    """Median, and the interquartile distance as a share of it (0 when
    every value is 0, as for a layer the workload never calls)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else 0.0


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of
    ``first`` (negative when it is better)."""
    if not first:
        return 0.0
    change = (second - first) / first
    return change if better == "lower" else -change


def summarize(spec: dict, runs: list[dict], workloads: list[str], sets: str,
              trace: int) -> dict:
    report = {}
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    for workload in workloads:
        medians: dict[str, dict[str, float]] = {}
        for set_name in sets:
            ok = [r["result"] for r in runs
                  if r["workload"] == workload and r["set"] == set_name and r["result"]]
            for m in metrics:
                values = [r["metrics"][m["name"]]["value"] for r in ok]
                if len(values) < 2:
                    continue
                med, spr = spread(values)
                bound = m.get("bound")
                medians.setdefault(m["name"], {})[set_name] = med
                entry = {"median": med, "spread": spr, "n": len(values), "bound": bound}
                key = f"{workload}/{m['name']}"
                if set_name != sets[0] and sets[0] in medians[m["name"]]:
                    entry["worse_than_A"] = worse_by(
                        medians[m["name"]][sets[0]], med, m["better"]
                    )
                report.setdefault(key, {})[set_name] = entry
                flag = "" if bound is None or spr < bound / 3 else "  > bound/3"
                line = (f"{set_name} {workload:14s} {m['name']:28s} median {med:12.4f} "
                        f"spread {spr:7.2%} (n={len(values)}, bound {bound}){flag}")
                if "worse_than_A" in entry:
                    w = entry["worse_than_A"]
                    line += f"; worse than A by {w:+.2%}"
                    if bound is not None and w > bound:
                        line += "  > bound"
                print(line)
    return report


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    sets = SET_NAMES[:args.sets]
    runs = []

    def save(extra: dict) -> None:
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"runs": runs, **extra}, f, indent=1)

    for seed in parse_seeds(args.seeds):
        for workload in workloads:
            for set_name in sets:
                cmd = spec["command"] + [
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
                ]
                t = time.perf_counter()
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                wall = time.perf_counter() - t
                lines = proc.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if proc.returncode == 0 else None
                runs.append({"set": set_name, "workload": workload, "seed": seed,
                             "exit": proc.returncode, "wall_s": round(wall, 2),
                             "summary": lines[:-1], "result": result})
                print(f"{set_name} {workload} seed {seed}: exit {proc.returncode}, "
                      f"{wall:.1f} s; "
                      + (" ".join(lines[:-1]) if lines else proc.stderr[-2000:]),
                      flush=True)
                # keep the runs made so far even if the invocation stops
                save({})
    save({"spreads": summarize(spec, runs, workloads, sets, args.trace)})
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
