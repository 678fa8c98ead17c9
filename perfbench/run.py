#!/usr/bin/env python3
"""Benchmark of dbt_schema_builder_spark: one workload per invocation.

    python3 perfbench/run.py --workload catalog_build --seed 1 --seconds 15 --trace 0

Run from the repository root. The command generates its inputs from the
seed under ``.perfbench_work/`` (removed on exit), starts Spark on
``local[nproc]`` through the package's ``get_spark``, runs one pass that
checks every output, warms up until pass time stops falling, times whole
passes for ``--seconds``, and prints one JSON object as the last
line of standard output. With ``--trace 0`` it reports the end-to-end
metrics listed in ``BENCHMARK.json``; with ``--trace 1`` the per-layer
metrics, from wrappers installed at runtime (``tracing.py``), with the
trace written to ``.perfbench_out/``. See ``NOTES.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Warm-up, after the first pass (which checks every output): at least
# WARM_MIN_PASSES passes, then stop once pass time has stopped falling,
# that is once WARM_SETTLED passes in a row were each no more than
# WARM_TOLERANCE faster than the fastest pass before them. WARM_MAX_PASSES
# caps the warm-up, and WARM_CAP_S keeps a run within its time limit.
WARM_MIN_PASSES = 4
WARM_SETTLED = 2
WARM_TOLERANCE = 0.05
WARM_MAX_PASSES = 16
WARM_CAP_S = 75.0
RSS_INTERVAL_S = 0.1
# Hard stop below the 180 s a run may take; Spark is still stopped.
DEADLINE_S = 170
# The driver keeps the program's maximum heap (get_spark's
# spark.driver.memory), but starts with a fixed heap and young generation.
# With G1's own sizing, peak memory spread by 17-39% across seeds
# (results/default-heap-AB-partial.json); with the initial heap pinned at
# the maximum, G1 grew the young generation until the tree's peak was
# 6.3-7.0 GB and runs outgrew their time budget
# (results/tuning3-xms8g-query_ops-seeds21-25.json). See NOTES.md.
HEAP_OPTIONS = "-Xms2g -Xmn384m"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def preflight() -> None:
    """Exit non-zero, before printing anything, when the program under
    test is not beside the benchmark."""
    missing = [
        p for p in ("__spark_entry__.py", "dbt_schema_builder_spark/__init__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        sys.exit(f"perfbench: program files missing under {ROOT}: {missing}")


def process_tree(root: int) -> list[int]:
    """``root`` and every process descended from it, from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier.extend(c for c, p in parent.items() if p == pid)
    return tree


class TreeRss:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc.

    Each process counts its proportional set size (PSS): resident pages,
    with a page shared by n processes counted 1/n in each. Python workers
    are forked from one daemon and share its pages, so a plain RSS sum
    would count those pages once per worker."""

    def __init__(self) -> None:
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        self.peak = max(self.peak, total)
        self.samples += 1
        return total

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def prepare_environment(work: str) -> None:
    """Pin the run to this host and keep every file it writes in ``work``."""
    for sub in ("tmp", "spark-local", "java-tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the JVM runs with the program's own settings (driver memory, codegen
    # cache), as a library user gets them
    for name in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CODEGEN_CACHE"):
        os.environ.pop(name, None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package (and __spark_entry__) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from dbt_schema_builder_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'java-tmp')} {HEAP_OPTIONS}",
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM it launched, and the Python
    workers the JVM launched, have all ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits once its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers' daemon exits when the JVM does; they are no longer our
    # children, so poll for them
    deadline = time.monotonic() + 10
    while started and time.monotonic() < deadline:
        started = [p for p in started if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Loop:
    """Pass bookkeeping for one run."""

    def __init__(self, workload) -> None:
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.index = 0

    def one(self, tracer=None, check: bool = False) -> tuple[float, int, list[dict]]:
        t = time.perf_counter()
        n, failed, records = self.workload.run_pass(self.index, tracer, check)
        dt = time.perf_counter() - t
        self.index += 1
        self.attempted += n
        self.failed += failed
        return dt, n - failed, records

    def warm_up(self) -> tuple[float, list[float], bool]:
        """The checking pass, then warm-up passes until pass time stops
        falling; returns the checking pass's time, the warm-up pass times
        and whether they settled (False: stopped by a cap)."""
        check = self.one(check=True)[0]
        times: list[float] = []
        while len(times) < WARM_MAX_PASSES and sum(times) < WARM_CAP_S:
            times.append(self.one()[0])
            if len(times) >= WARM_MIN_PASSES and settled(times):
                return check, times, True
        return check, times, False

    def window(self, seconds: float, tracer=None):
        """Whole passes until ``seconds`` have elapsed; returns pass times,
        operations completed, the window's length and per-pass layer
        figures (traced runs only)."""
        from tracing import pass_layer_metrics

        times, done, layers = [], 0, []
        start = time.perf_counter()
        while not times or time.perf_counter() - start < seconds:
            first_span = len(tracer.spans) if tracer else 0
            dt, ok, records = self.one(tracer)
            times.append(dt)
            done += ok
            if tracer:
                layers.append(
                    pass_layer_metrics(records, tracer.spans[first_span:])
                )
        return times, done, time.perf_counter() - start, layers


def settled(times: list[float]) -> bool:
    """True when none of the last WARM_SETTLED passes was more than
    WARM_TOLERANCE faster than the fastest pass before it."""
    if len(times) <= WARM_SETTLED:
        return False
    return all(
        times[i] >= (1 - WARM_TOLERANCE) * min(times[:i])
        for i in range(len(times) - WARM_SETTLED, len(times))
    )


def layer_gaps(
    spec_metrics: list[dict], values: dict[str, float], never_called: tuple[str, ...]
) -> list[str]:
    """Per-layer metrics a traced run failed to produce although the
    workload calls their layer, and metrics it produced although the
    workload lists their layer (a name prefix) as never called."""
    gaps = []
    for m in spec_metrics:
        name = m["name"]
        if name.startswith(never_called) and name in values:
            gaps.append(f"{name}: produced, but its layer is listed as never called")
        elif not name.startswith(never_called) and name not in values:
            gaps.append(f"{name}: not produced")
    return gaps


def report(spec_metrics: list[dict], values: dict[str, float]) -> dict:
    """Every metric the spec lists, by name with its unit; a metric
    missing from ``values`` raises KeyError."""
    return {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in spec_metrics
    }


def _deadline(signum, frame) -> None:
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:7.2f} s  {msg}",
          file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    preflight()
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    prepare_environment(work)
    import workloads

    spark = None
    try:
        with TreeRss() as rss:
            spark = start_spark(work)
            log("Spark session started")
            wl = workloads.make(args.workload, spark, work, args.seed)
            wl.prepare()
            log("inputs generated")
            loop = Loop(wl)
            check_s, warm, warm_settled = loop.warm_up()
            setup_s = time.perf_counter() - T_START
            log(f"warm-up done after {len(warm)} passes")
            tracer = None
            layer_values: dict[str, float] = {}
            gaps: list[str] = []
            if args.trace:
                from tracing import Tracer

                plain, _, _, _ = loop.window(args.seconds / 2)
                tracer = Tracer(spark, f"{args.workload}-{args.seed}")
                tracer.install()
                times, done, elapsed, layers = loop.window(args.seconds, tracer)
                tracer.close()
                layer_values = {
                    k: statistics.median(p.get(k, 0.0) for p in layers)
                    for k in {k for p in layers for k in p}
                }
                layer_values["trace.overhead_s"] = (
                    statistics.median(times) - statistics.median(plain)
                )
                gaps = layer_gaps(spec["per_layer"], layer_values, wl.never_called)
                # a layer the workload never calls reports 0; a gap fails
                # the run but is still printed, as 0
                for m in spec["per_layer"]:
                    layer_values.setdefault(m["name"], 0.0)
            else:
                times, done, elapsed, _ = loop.window(args.seconds)
            peak_rss_mb = rss.peak / 2**20
        log("timed window done")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("Spark stopped")

    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(times),
        "ops_per_s": done / elapsed,
        "peak_rss_mb": peak_rss_mb,
    }
    samples = {
        "setup_s": f"1 set-up, checking pass {check_s:.2f} s, {len(warm)} warm-up "
                   f"passes ({'settled' if warm_settled else 'capped'}): "
                   + ", ".join(f"{t:.2f}" for t in warm) + " s",
        "pass_s": f"median of {len(times)} timed passes: "
                  + ", ".join(f"{t:.2f}" for t in times) + " s",
        "ops_per_s": f"{done} operations in {elapsed:.2f} s, "
                     f"{wl.ops_per_pass} per pass",
        "peak_rss_mb": f"max of {rss.samples} samples",
    }
    print(f"{args.workload} seed={args.seed} trace={args.trace}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, value in e2e.items():
        print(f"  {name:12s} {value:12.4f} {units[name]:4s} ({samples[name]})")
    print(f"  {'failed_ratio':12s} {loop.failed / loop.attempted:12.4f} 1    "
          f"({loop.failed} of {loop.attempted} operations)")
    if tracer is not None:
        out = os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"
        )
        tracer.dump(out, {"pass_s": e2e["pass_s"], "layers": layer_values})
        print(f"trace written to {os.path.relpath(out, ROOT)}")
        for gap in gaps:
            print(f"perfbench: per-layer metric {gap}", file=sys.stderr)
        metrics = report(spec["per_layer"], layer_values)
    else:
        metrics = report(spec["end_to_end"], e2e)
    correct = loop.failed == 0 and not gaps
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
