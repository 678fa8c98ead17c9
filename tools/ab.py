#!/usr/bin/env python
"""Cross-JVM code-version A/B: the working tree (A) against a commit (B).

Each pass runs one fresh-JVM worker per side; passes alternate which side
runs first. A worker times each key with bench.py's discipline
(construction inside the timer, noop sink, release_caches + clearCache
between keys, one sf0.001 warm-up pass) and reports the median of 3 warm
samples. The summary prints both sides' medians and their ratio.

Usage:
  python tools/ab.py <commit-for-B> <key> [key ...] [--passes N]
Keys are __spark_entry__.queries() keys or bench.EXTRA names (x_*).
Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture dir), SPARK_GRAFT_CPUS.
B is exported with `git archive` into /tmp/ab_<sha>, reused across runs.
"""
from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker(tree: str, targets: list[str]) -> None:
    sys.path.insert(0, tree)
    import time

    import __spark_entry__ as entrymod
    from dbt_schema_builder_spark.session import get_spark, release_caches

    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()
    try:
        import bench as benchmod

        extras = dict(getattr(benchmod, "EXTRA", {}))
    except Exception:
        extras = {}

    def build(name: str, sf_dir: str):
        if name in queries:
            return queries[name](spark, sf_dir)
        if name in extras:
            return extras[name](spark, sf_dir)
        raise KeyError(name)

    def one_pass(sf_dir: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in targets:
            spark.sparkContext.setJobDescription(f"ab: {name}")
            t0 = time.perf_counter()
            build(name, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            out[name] = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            release_caches()
            spark.catalog.clearCache()
        return out

    one_pass("/root/testdata/sf0.001")  # warm-up (JIT/codegen)
    reps = [one_pass(sf) for _ in range(3)]
    med = {t: statistics.median([r[t] for r in reps]) for t in targets}
    print("RESULT " + json.dumps(med), flush=True)


def export_tree(commit: str) -> str:
    """A plain copy of ``commit``'s files, made once per commit."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{commit}^{{commit}}"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout.strip()
    tree = f"/tmp/ab_{sha[:12]}"
    if not os.path.isdir(tree):
        os.makedirs(f"{tree}.part", exist_ok=True)
        archive = subprocess.Popen(
            ["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE
        )
        subprocess.run(
            ["tar", "-x", "-C", f"{tree}.part"], stdin=archive.stdout, check=True
        )
        if archive.wait() != 0:
            raise SystemExit(f"git archive {sha} failed")
        os.rename(f"{tree}.part", tree)
    return tree


def main() -> None:
    args = sys.argv[1:]
    passes = 3
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i : i + 2]
    if len(args) < 2:
        raise SystemExit(__doc__)
    commit, targets = args[0], args[1:]
    sides = [("A(worktree)", REPO), (f"B({commit})", export_tree(commit))]
    samples = {s: {t: [] for t in targets} for s, _ in sides}
    for i in range(passes):
        # alternate which side runs first, so drift within a pass
        # falls on both sides equally
        for side, tree in sides if i % 2 == 0 else sides[::-1]:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", tree]
                + targets,
                capture_output=True,
                text=True,
                check=True,
                cwd=tree,
            )
            line = [
                ln
                for ln in proc.stdout.splitlines()
                if ln.startswith("RESULT ")
            ][-1]
            for t, v in json.loads(line[len("RESULT "):]).items():
                samples[side][t].append(v)
            print(
                f"pass {i + 1} {side}: "
                + ", ".join(
                    f"{t}={samples[side][t][-1]:.2f}s" for t in targets
                ),
                flush=True,
            )
    print()
    (sa, _), (sb, _) = sides
    for t in targets:
        a = statistics.median(samples[sa][t])
        b = statistics.median(samples[sb][t])
        print(
            f"{t}: A median {a:.2f} s vs B median {b:.2f} s -> "
            f"A/B {a / b:.2f}x  "
            f"(A {[round(x, 2) for x in samples[sa][t]]}, "
            f"B {[round(x, 2) for x in samples[sb][t]]})"
        )


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3:])
    else:
        main()
