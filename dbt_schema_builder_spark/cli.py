"""CLI entry point — parity with the reference's console script
(reference schema_builder.py:16-123: ``build`` subcommand,
``--destination-project`` required, ``--nopii``/``--piionly`` mutually
exclusive). ``build`` scans ``--source-dir``, reads each table's schema
from its parquet footer and writes SQL/YAML text; it starts no JVM.

Usage:
    python -m dbt_schema_builder_spark build \
        --destination-project /path/out \
        --source-dir /path/tables \
        --config config.yml [--nopii | --piionly]

The config YAML carries the same overlay surface as the reference's six
files, under one document::

    apps:
      MAIN:
        sources:
          RAW:
            INCLUDE: [customer, orders]
            SOFT_DELETE: {l_shipdate: IS NOT NULL}
            PREFIX: EVT
        redactions:
          MAIN.CUSTOMER: {C_NAME: "<redacted>"}
        banned_columns: [PROPS]
        unmanaged_tables: [MAIN.SUPPLIER]
        downstream_allow_list: []
"""

from __future__ import annotations

import argparse
import sys

import yaml

from .config import AppPolicy, InvalidConfigurationException, SourcePolicy
from .policy.metadata import assemble_schema_doc, carry_forward_metadata
from .session import source_schemas
from .views.artifacts import manual_models, prior_schema_doc, write_artifacts
from .views.trifecta import HALVES, TrifectaBuilder


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(prog="dbt_schema_builder_spark")
    sub = parser.add_subparsers(dest="command", required=True)
    build = sub.add_parser("build", help="build trifecta views + artifacts")
    build.add_argument("--destination-project", required=True,
                       help="output dir for generated SQL/YAML artifacts")
    build.add_argument("--source-dir", required=True,
                       help="directory of parquet tables to introspect")
    build.add_argument("--config", required=True, help="policy config YAML")
    # mutually exclusive PII gating (reference schema_builder.py:65-80)
    group = build.add_mutually_exclusive_group()
    group.add_argument("--nopii", action="store_true",
                       help="generate only redacted (SAFE) views")
    group.add_argument("--piionly", action="store_true",
                       help="generate only PII views")
    return parser.parse_args(argv)


def policy_from_config(app: str, raw: dict) -> AppPolicy:
    sources = {
        name: SourcePolicy.from_config(name, cfg)
        for name, cfg in (raw.get("sources") or {}).items()
    }
    return AppPolicy(
        app=app,
        sources=sources,
        redactions=raw.get("redactions") or {},
        banned_columns=raw.get("banned_columns") or [],
        unmanaged_tables=raw.get("unmanaged_tables") or [],
        downstream_allow_list=raw.get("downstream_allow_list") or [],
    )


def run_build(args: argparse.Namespace) -> int:
    with open(args.config) as f:
        config = yaml.safe_load(f) or {}
    pii_mode = "nopii" if args.nopii else "piionly" if args.piionly else "both"
    tables = source_schemas(args.source_dir)
    exit_code = 0
    for app, raw in (config.get("apps") or {}).items():
        policy = policy_from_config(app, raw)
        manual = manual_models(args.destination_project, app)
        selected = {t: schema for t, schema in tables.items() if t.lower() not in manual}
        builder = TrifectaBuilder(None, policy, pii_mode=pii_mode)
        try:
            result = builder.plan(selected)
        except InvalidConfigurationException as exc:
            # e.g. two tables aliased to one view, or a bad redaction literal
            print(f"ERROR: {app}: {exc}", file=sys.stderr)
            exit_code = 1
            continue
        result.sql = {p.name: builder.generate_sql(p) for p in result.plans}
        # a full refresh keeps the hand-written metadata of the prior
        # APP.yml (reference builder.py:476-503)
        doc = carry_forward_metadata(
            assemble_schema_doc(
                app,
                database="spark_catalog",
                sources={
                    s.name: [t for t in selected if s.selects(t)]
                    for s in policy.sources.values()
                },
                models={p.name: p.schema.fieldNames() for p in result.plans},
            ),
            prior_schema_doc(args.destination_project, app),
            {s.name: s.prefix for s in policy.sources.values()},
        )
        # downstream doc lists the SAFE schema and its _PII twin
        # (reference app.py:196-220: both trifecta halves are exposed as
        # downstream sources, gated by pii_mode)
        downstream = assemble_schema_doc(
            app,
            database="spark_catalog",
            sources={
                f"{app}_PII" if pii else app: result.downstream_sources
                for pii in HALVES[pii_mode]
            },
            models={},
        )
        written = write_artifacts(args.destination_project, app, result, doc, downstream)
        print(f"{app}: {len(result.plans)} views, {len(written)} artifacts, "
              f"{len(result.skipped_unmanaged)} unmanaged skipped")
    return exit_code


def main(argv: list[str] | None = None) -> int:
    return run_build(parse_args(argv))  # "build" is the one, required command


if __name__ == "__main__":
    raise SystemExit(main())
