"""The benchmark's workloads: inputs, one pass, and the output check.

Every workload is a single-client closed loop: the next operation starts
only when the previous one has finished. A pass is one full catalog build
(``catalog_build``) or one run of the key list in a seed-permuted order
(``query_ops``). Operations call the package's
public functions and ``__spark_entry__.queries()`` the way a library user
does.
"""

from __future__ import annotations

import os
import random
import sys
import traceback
from contextlib import nullcontext

import datagen
from checks import check_catalog, compare_rows

# The keys of the query_ops workload (see NOTES.md for why each is in
# the list and why the scale is sf0.01).
QUERY_KEYS = (
    "q_safe_view_redaction",     # policy + views: SAFE read over real rows
    "q_banned_column_filter",    # catalog: columns catalog, banned column
    "q_evolving_read",           # sources: schema-evolution read
    "q_stream_dedup",            # streaming: watermark + state store
    "q_dedup_clusters",          # closure family, eager jobs in construction
    "q_multimodal_features",     # multimodal: binary payloads, mapInPandas
)
OPS_SF = 0.01
CATALOG_TABLES = 12
CATALOG_COLUMNS = 50
CATALOG_ROWS = 3


def _phase(tracer, name: str, layer: str):
    return tracer.span(name, layer) if tracer else nullcontext({})


def _collect(tracer, rec) -> None:
    if tracer:
        tracer.collect(rec)


class OpsWorkload:
    """A list of ``queries()`` keys over a generated star schema."""

    # per-layer metric name prefixes of layers no key in the list calls
    never_called = (
        "cli.", "policy.assemble_schema_doc.", "policy.find_duplicates.",
        "views.write_artifacts.",
    )

    def __init__(self, spark, work_dir: str, seed: int, keys: tuple[str, ...]):
        self.spark = spark
        self.seed = seed
        self.keys = keys
        self.data_dir = os.path.join(work_dir, "star")
        self.ops_per_pass = len(keys)

    def prepare(self) -> None:
        datagen.write_star_schema(self.data_dir, self.seed, OPS_SF)

    def run_pass(
        self, index: int, tracer=None, check: bool = False
    ) -> tuple[int, int, list[dict]]:
        """One pass; returns (operations, failures, per-op trace records).

        A checking pass collects each result instead of writing it to the
        noop sink and compares it with the key's DuckDB oracle over the
        same parquet files."""
        import __spark_entry__ as entry
        from dbt_schema_builder_spark.session import release_caches

        queries = entry.queries()
        order = list(self.keys)
        random.Random(f"{self.seed}:{index}").shuffle(order)
        failed, records = 0, []
        for key in order:
            try:
                with _phase(tracer, f"op.{key}", "op") as op:
                    with _phase(tracer, "construct", "driver") as construct:
                        df = queries[key](self.spark, self.data_dir)
                    _collect(tracer, construct)
                    with _phase(tracer, "execute", "spark") as execute:
                        if check:
                            rows = [tuple(r) for r in df.collect()]
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    _collect(tracer, execute)
                records.append(
                    {"key": key, "op": op, "construct": construct, "execute": execute}
                )
                if check:
                    diff = self._against_oracle(key, df.columns, rows)
                    if diff:
                        failed += 1
                        print(f"perfbench: output check failed: {key}: {diff}",
                              file=sys.stderr)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            finally:
                release_caches()
                self.spark.catalog.clearCache()
        return len(order), failed, records

    def _against_oracle(self, key: str, cols: list[str], rows: list[tuple]):
        import duckdb

        import __spark_entry__ as entry

        oracle = entry.oracle_sql().get(key)
        if oracle is None:
            return "no oracle_sql() query to check against"
        with duckdb.connect() as con:
            for t in datagen.STAR_TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            res = con.execute(oracle)
            return compare_rows(
                cols, rows, [d[0] for d in res.description], res.fetchall()
            )


class CatalogWorkload:
    """``cli.run_build``'s sequence over a generated wide catalog.

    The ``build`` CLI itself loads only the ten fixed names in
    ``session.TABLES``, so the pass calls the same layer functions with
    the generated table names."""

    never_called = ("operators.", "catalog.", "sources.", "multimodal.", "streaming.")

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.src_dir = os.path.join(work_dir, "catalog")
        self.out_dir = os.path.join(work_dir, "project")
        self.ops_per_pass = 0

    def prepare(self) -> None:
        self.cat = datagen.write_catalog(
            self.src_dir, self.seed, CATALOG_TABLES, CATALOG_COLUMNS, CATALOG_ROWS
        )
        self.ops_per_pass = len(self.cat["managed"])

    def run_pass(
        self, index: int, tracer=None, check: bool = False
    ) -> tuple[int, int, list[dict]]:
        """One build; a checking pass then checks its views and artifacts
        (one more operation, failed if any invariant fails)."""
        from dbt_schema_builder_spark import cli
        from dbt_schema_builder_spark.policy.metadata import (
            assemble_schema_doc,
            find_duplicates,
        )
        from dbt_schema_builder_spark.session import load_tables
        from dbt_schema_builder_spark.views import TrifectaBuilder
        from dbt_schema_builder_spark.views.artifacts import (
            manual_models,
            write_artifacts,
        )

        app = datagen.APP
        try:
            with _phase(tracer, "op.catalog_build", "op") as op:
                with _phase(tracer, "construct", "driver") as construct:
                    policy = cli.policy_from_config(app, self.cat["policy"])
                    tables = load_tables(
                        self.spark, self.src_dir, tuple(self.cat["names"])
                    )
                    manual = manual_models(self.out_dir, app)
                    selected = {
                        t: df for t, df in tables.items() if t.lower() not in manual
                    }
                    result = TrifectaBuilder(self.spark, policy).materialize(selected)
                    doc = assemble_schema_doc(
                        app,
                        database="spark_catalog",
                        sources={
                            s.name: [t for t in selected if s.selects(t)]
                            for s in policy.sources.values()
                        },
                        models={n: list(df.columns) for n, df in result.views.items()},
                    )
                    downstream = assemble_schema_doc(
                        app,
                        database="spark_catalog",
                        sources={
                            app: result.downstream_sources,
                            f"{app}_PII": result.downstream_sources,
                        },
                        models={},
                    )
                    written = write_artifacts(
                        self.out_dir, app, result, doc, downstream
                    )
                _collect(tracer, construct)
                with _phase(tracer, "execute", "spark") as execute:
                    with _phase(tracer, "policy.find_duplicates", "policy"):
                        names = self.spark.createDataFrame(
                            [(f"{app}.{t}",) for t in result.downstream_sources],
                            "qualified string",
                        )
                        n_dupes = find_duplicates(names, ["qualified"]).count()
                _collect(tracer, execute)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return self.ops_per_pass, self.ops_per_pass, []
        record = {"key": "catalog_build", "op": op, "construct": construct,
                  "execute": execute}
        failed = self.ops_per_pass if n_dupes else 0
        if not check:
            return self.ops_per_pass, failed, [record]
        failures = self.check(policy, result, written, n_dupes)
        for f in failures:
            print(f"perfbench: output check failed: {f}", file=sys.stderr)
        return self.ops_per_pass + 1, failed + bool(failures), [record]

    def expected(self, policy) -> dict:
        from dbt_schema_builder_spark.views import TrifectaBuilder

        builder = TrifectaBuilder(self.spark, policy)
        managed = self.cat["managed"]
        safe = {t: builder.view_name(t, False) for t in managed}
        redacted = {}
        for t in managed:
            red = policy.redactions_for(t)
            if red:
                redacted[safe[t]] = red
        absent = [
            builder.view_name(t, pii)
            for t in self.cat["names"] if t not in managed
            for pii in (False, True)
        ]
        return {
            "managed": managed,
            "safe": safe,
            "pii": {t: builder.view_name(t, True) for t in managed},
            "redacted": redacted,
            "rows": CATALOG_ROWS - 1,
            "banned": datagen.BANNED_COLUMN,
            "absent": absent,
        }

    def check(self, policy, result, written: list[str], n_dupes: int) -> list[str]:
        """Every failed invariant of one build's views and artifacts."""
        files = {}
        for path in written:
            with open(path) as f:
                files[path] = f.read()
        view_columns = {n: list(df.columns) for n, df in result.views.items()}
        expected = self.expected(policy)
        # data-level checks (one job each) on the redacted SAFE views and
        # one PII view; the other invariants need no job
        sampled = set(expected["redacted"]) | {expected["pii"][expected["managed"][0]]}
        view_rows = {
            n: [r.asDict() for r in result.views[n].collect()] for n in sampled
        }
        sql_columns = {}
        for name, sql in result.sql.items():
            # executing the artifact re-registers the view under its name
            self.spark.sql(sql)
            sql_columns[name] = self.spark.table(name).columns
        return check_catalog(
            expected, view_columns, sql_columns, files, view_rows, n_dupes
        )


def make(name: str, spark, work_dir: str, seed: int):
    if name == "catalog_build":
        return CatalogWorkload(spark, work_dir, seed)
    if name == "query_ops":
        return OpsWorkload(spark, work_dir, seed, QUERY_KEYS)
    raise ValueError(f"unknown workload {name!r}")
