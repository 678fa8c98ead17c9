"""Tracing for the benchmark's traced run (``--trace 1``).

Nothing here edits the package: ``install`` wraps the package's public
functions at runtime, from outside, and ``uninstall`` puts the originals
back. Each wrapper records a span (name, layer, start, end, parent, run
id) and runs its body under a Spark job group of its own, so every Spark
job can be charged to the span that launched it. Spans are kept in
memory; ``Tracer.dump`` writes them out when the run ends.

After each phase of an operation the caller runs ``Tracer.collect``. It
waits for Spark's listener bus to drain, then reads the jobs, stages and
SQL executions that are new since the last call from the driver's status
REST API on localhost, and the progress events of any streaming query
from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import copy
import functools
import http.client
import inspect
import json
import os
import re
import sys
import threading
import time
import types
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PKG = "dbt_schema_builder_spark"

# Single functions wrapped by name, with the layer they belong to.
NAMED_TARGETS = (
    ("session", "read_table", "session"),
    ("cli", "policy_from_config", "cli"),
    ("policy.redaction", "safe_projection", "policy"),
    ("policy.redaction", "pii_projection", "policy"),
    ("policy.redaction", "soft_delete_filter", "policy"),
    ("policy.metadata", "assemble_schema_doc", "policy"),
    ("views.artifacts", "write_artifacts", "views"),
)
# Methods of TrifectaBuilder wrapped as views spans.
VIEW_METHODS = ("materialize", "generate_sql")
# Modules whose every public function is wrapped; the layer is the
# module path below the package (``operators.dedup``, ``streaming``...).
MODULE_LAYERS = (
    "catalog.introspect",
    "multimodal.binary_ops",
    "multimodal.codecs",
    "sources.bucketing",
    "sources.io",
    "sources.warc",
    "streaming.windows",
)
OPERATOR_PACKAGE = "operators"

_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"


def layer_of_module(module: str) -> str:
    """``dbt_schema_builder_spark.operators.dedup`` -> ``operators.dedup``;
    other subpackages collapse to their first component (``streaming``)."""
    rel = module[len(PKG) + 1:]
    head = rel.split(".")[0]
    return rel if head == OPERATOR_PACKAGE else head


def parse_size(text: str) -> float:
    """Bytes in a Spark SQL size metric string such as ``'131.3 KiB'`` or
    ``'total (min, med, max)\\n1.2 MiB (...)'`` (first figure is the total)."""
    m = _SIZE.search(text or "")
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out


class _Traced:
    """A traced stand-in for one package function or method."""

    def __init__(
        self, tracer: "Tracer", fn, name: str, layer: str, outermost: bool
    ) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._layer = tracer, fn, name, layer
        self._outermost = outermost

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        # in a module layer, a call from inside the same layer is part of
        # its caller's span
        if (
            self._outermost and tracer.stack
            and tracer.stack[-1]["layer"] == self._layer
        ):
            return self._fn(*args, **kwargs)
        with tracer.span(self._name, self._layer) as rec:
            out = self._fn(*args, **kwargs)
        if self._name == "views.write_artifacts":
            rec["files"] = len(out)
            rec["bytes"] = sum(os.path.getsize(p) for p in out)
        return out

    def __get__(self, obj, objtype=None):
        # behave like a function when installed as a class attribute
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        # A UDF body that calls a traced function is pickled for the
        # Python workers: ship the plain function, never the tracer.
        return (copy.copy, (self._fn,))


class Tracer:
    """Span recorder plus Spark status collection for one traced run."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.group_to_span: dict[str, dict] = {}
        self.stream_runs: set[str] = set()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        port = int(self.sc.uiWebUrl.rsplit(":", 1)[1])
        self._http = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        self._api = f"/api/v1/applications/{self.sc.applicationId}/"
        # everything that ran before tracing started is not charged
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._next_job = 1 + max((j["jobId"] for j in self._get("jobs")), default=-1)
        sql = self._get("sql?details=false&length=1000000")
        self._sql_listed = len(sql)
        self._next_sql = 1 + max((e["id"] for e in sql), default=-1)
        self._listener = _ProgressListener()
        spark.streams.addListener(self._listener)

    # -- spans --------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        sid = self._next
        self._next += 1
        group = f"perfbench-{self.run_id}-{sid}"
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "run": self.run_id,
            "group": group,
            "jobs": [],
        }
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self.group_to_span[group] = rec
        self.stack.append(rec)
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self.stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                parent = self.group_to_span.get(prev)
                self.sc.setJobGroup(prev, parent["name"] if parent else "")
            self.spans.append(rec)

    def _replace_everywhere(self, original, wrapper) -> None:
        """Rebind every module-level name that holds ``original`` (the
        defining module and every ``from x import f`` binding)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name == PKG or mod_name.startswith(PKG + ".")
                or mod_name == "__spark_entry__"
            ):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        import importlib
        import pkgutil

        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            if not info.name.endswith(".__main__"):
                importlib.import_module(info.name)
        importlib.import_module("__spark_entry__")

        for mod_rel, fn_name, layer in NAMED_TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_rel}")
            original = getattr(mod, fn_name)
            self._replace_everywhere(
                original,
                _Traced(self, original, f"{layer}.{fn_name}", layer, False),
            )
        from dbt_schema_builder_spark.views.trifecta import TrifectaBuilder

        for meth in VIEW_METHODS:
            original = getattr(TrifectaBuilder, meth)
            self._patched.append((TrifectaBuilder, meth, original))
            setattr(
                TrifectaBuilder, meth,
                _Traced(self, original, f"views.{meth}", "views", False),
            )
        modules = [f"{PKG}.{m}" for m in MODULE_LAYERS] + [
            info.name
            for info in pkgutil.iter_modules(
                importlib.import_module(f"{PKG}.{OPERATOR_PACKAGE}").__path__,
                f"{PKG}.{OPERATOR_PACKAGE}.",
            )
        ]
        for mod_name in modules:
            mod = importlib.import_module(mod_name)
            layer = layer_of_module(mod_name)
            for fn_name, fn in list(vars(mod).items()):
                if (
                    fn_name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod_name
                ):
                    continue
                self._replace_everywhere(
                    fn, _Traced(self, fn, f"{layer}.{fn_name}", layer, True)
                )

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- Spark status ---------------------------------------------------
    def _get(self, path: str):
        """GET one REST path; None when Spark answers 404."""
        self._http.request("GET", self._api + path)
        resp = self._http.getresponse()
        body = resp.read()
        if resp.status == 404:
            return None
        if resp.status != 200:
            raise RuntimeError(f"Spark REST {path}: HTTP {resp.status}")
        return json.loads(body)

    def collect(self, phase: dict) -> None:
        """Charge every job, stage, SQL execution and streaming progress
        event that is new since the last call to ``phase`` (a span record).
        Jobs whose group is a span's group also go to that span's
        ``jobs``. A streaming query runs its jobs on its own thread under
        its run id as the group; those go to the ``streaming`` span that
        was open when the job was submitted."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        progress = self._listener.drain()
        self.stream_runs.update(e["runId"] for e in progress)
        jobs = []
        # job ids are dense and increasing: read forward until a miss
        while (job := self._get(f"jobs/{self._next_job}")) is not None:
            jobs.append(job)
            self._next_job += 1
        for j in jobs:
            owner = self.group_to_span.get(j.get("jobGroup"))
            if j.get("jobGroup") in self.stream_runs:
                owner = self._stream_span(j["submissionTime"])
            if owner is not None and owner is not phase:
                owner["jobs"].append(j["jobId"])
        phase["jobs"] = phase.get("jobs", []) + [j["jobId"] for j in jobs]
        st = phase.setdefault("stage_metrics", {
            "stages": 0, "tasks": 0, "executor_run_ms": 0,
            "executor_cpu_ns": 0, "jvm_gc_ms": 0, "shuffle_read_b": 0,
            "shuffle_write_b": 0, "spill_b": 0,
        })
        for stage_id in sorted({s for j in jobs for s in j["stageIds"]}):
            for s in self._get(f"stages/{stage_id}?details=false") or []:
                if s["status"] not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused
                st["stages"] += 1
                st["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                st["executor_run_ms"] += s["executorRunTime"]
                st["executor_cpu_ns"] += s["executorCpuTime"]
                st["jvm_gc_ms"] += s["jvmGcTime"]
                st["shuffle_read_b"] += s["shuffleReadBytes"]
                st["shuffle_write_b"] += s["shuffleWriteBytes"]
                st["spill_b"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        execs = self._get(
            f"sql?details=true&planDescription=false&offset={self._sql_listed}"
            "&length=1000000"
        ) or []
        self._sql_listed += len(execs)
        py = phase.setdefault("python", {"sent_b": 0.0, "received_b": 0.0})
        for e in execs:
            if e["id"] < self._next_sql:
                continue
            self._next_sql = e["id"] + 1
            for node in e.get("nodes", []):
                for metric in node.get("metrics", []):
                    if metric["name"] == PYTHON_SENT:
                        py["sent_b"] += parse_size(metric["value"])
                    elif metric["name"] == PYTHON_RECEIVED:
                        py["received_b"] += parse_size(metric["value"])
        phase["stream_progress"] = phase.get("stream_progress", []) + progress

    def _stream_span(self, submitted: str) -> dict | None:
        """The innermost ``streaming`` span open at ``submitted``, a REST
        timestamp such as ``2026-01-02T03:04:05.678GMT``."""
        t = datetime.strptime(
            submitted.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
        ).timestamp()
        open_then = [
            s for s in self.spans
            # the timestamp is truncated to the millisecond
            if s["layer"] == "streaming"
            and s["wall_start"] - 1e-3 <= t <= s["wall_end"]
        ]
        return max(open_then, key=lambda s: s["wall_start"], default=None)

    def close(self) -> None:
        self.uninstall()
        self._http.close()
        self.spark.streams.removeListener(self._listener)

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "summary": summary,
                       "spans": self.spans}, f)


# span layers of the benchmark's own op/construct/execute spans, and the
# layers that are not module layers (no construct_s/execute_s figures)
_PHASES = ("op", "driver", "spark")
_NOT_MODULES = _PHASES + ("session", "policy", "views", "cli")


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def pass_layer_metrics(records: list[dict], spans: list[dict]) -> dict[str, float]:
    """Per-layer figures of one traced pass.

    ``records`` are the pass's operations (op, construct and execute
    spans, with the jobs and stage figures ``collect`` charged to the
    phases); ``spans`` are every span that ended during the pass.
    """
    m: dict[str, float] = {}

    def add(name: str, value: float) -> None:
        m[name] = m.get(name, 0.0) + value

    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + _dur(s)
    for s in spans:
        name, layer = s["name"], s["layer"]
        if layer in _PHASES:
            continue
        add(f"{name}.s", _dur(s))
        add(f"{name}.jobs", len(s["jobs"]))
        if name == "views.materialize":
            add("views.materialize.self_s", _dur(s) - children.get(s["id"], 0.0))
        if name == "views.write_artifacts":
            add("views.write_artifacts.files", s.get("files", 0))
            add("views.write_artifacts.bytes", s.get("bytes", 0))
        if layer not in _NOT_MODULES:
            add(f"{layer}.construct_s", _dur(s))
            add(f"{layer}.jobs", len(s["jobs"]))
    # the operation (outermost span) each span belongs to
    by_id = {s["id"]: s for s in spans}
    root: dict[int, int] = {}
    for s in spans:
        p = s
        while p["parent"] in by_id:
            p = by_id[p["parent"]]
        root[s["id"]] = p["id"]
    for r in records:
        construct, execute = r["construct"], r["execute"]
        add("driver.construct_s", _dur(construct))
        add("driver.construct_jobs", len(construct["jobs"]))
        add("spark.execute_s", _dur(execute))
        add("spark.jobs", len(construct["jobs"]) + len(execute["jobs"]))
        for phase in (construct, execute):
            st = phase.get("stage_metrics", {})
            add("spark.stages", st.get("stages", 0))
            add("spark.tasks", st.get("tasks", 0))
            add("spark.executor_run_s", st.get("executor_run_ms", 0) / 1e3)
            add("spark.executor_cpu_s", st.get("executor_cpu_ns", 0) / 1e9)
            add("spark.jvm_gc_s", st.get("jvm_gc_ms", 0) / 1e3)
            add("spark.shuffle_read_mb", st.get("shuffle_read_b", 0) / 2**20)
            add("spark.shuffle_write_mb", st.get("shuffle_write_b", 0) / 2**20)
            add("spark.spill_mb", st.get("spill_b", 0) / 2**20)
            py = phase.get("python", {})
            add("python.data_sent_mb", py.get("sent_b", 0.0) / 2**20)
            add("python.data_received_mb", py.get("received_b", 0.0) / 2**20)
        # execution time of an op is charged to every module layer its
        # construction called (not additive across layers)
        called = {
            s["layer"] for s in spans
            if root[s["id"]] == r["op"]["id"] and s["layer"] not in _NOT_MODULES
        }
        for layer in called:
            add(f"{layer}.execute_s", _dur(execute))
        progress = construct.get("stream_progress", []) + execute.get(
            "stream_progress", []
        )
        if progress:
            batch_s = sum(e["batchDuration"] for e in progress) / 1e3
            add("streaming.batches", len(progress))
            add("streaming.input_rows", sum(e["numInputRows"] for e in progress))
            add("streaming.batch_s", batch_s)
            add("streaming.add_batch_s",
                sum(e["durationMs"].get("addBatch", 0) for e in progress) / 1e3)
            add("streaming.wal_commit_s",
                sum(e["durationMs"].get("walCommit", 0) for e in progress) / 1e3)
            last: dict[str, dict] = {}
            for e in progress:
                last[e["runId"]] = e
            for e in last.values():
                for op in e.get("stateOperators", []):
                    add("streaming.state_rows", op.get("numRowsTotal", 0))
                    add("streaming.state_memory_mb",
                        op.get("memoryUsedBytes", 0) / 2**20)
            add("streaming.overhead_s", _dur(construct) - batch_s)
    return m
