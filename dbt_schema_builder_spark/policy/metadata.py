"""Trifecta state management: metadata-preserving merge, schema-doc
assembly, duplicate detection (reference relation.py:81-138, app.py:96-220,
builder.py:544-577).

Two representations are provided:

- driver-side dict functions that keep the reference's exact semantics for
  schema documents (small metadata, no reason to distribute), and
- DataFrame equivalents (left join + coalesce; groupBy + count) used by the
  data-level queries so the same operators run distributed at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TABLE_ATTRS = {"description": ""}


def merge_prior_metadata(
    current_tables: list[str],
    prior_sources: dict[str, dict],
    prefix: str | None = None,
) -> dict[str, dict]:
    """Carry hand-written metadata forward across a full refresh.

    For each current table, look it up in the previously-written source doc
    by name *including prefix variants* — a table may appear under its bare
    name or under ``PREFIX_NAME`` from an earlier run (reference
    relation.py:81-138, prefix variants at 104-129; behavior pinned by
    reference tests/test_relation.py:107-224). Unmatched tables get fresh
    default attributes (reference app.py:174-194). Tables that disappeared
    from the catalog are dropped — docs are rebuilt from scratch each run
    (reference app.py:44-58).
    """
    merged: dict[str, dict] = {}
    lowered = {k.lower(): v for k, v in prior_sources.items()}
    for table in current_tables:
        candidates = [table]
        if prefix:
            candidates.append(f"{prefix}_{table}")
            if table.startswith(f"{prefix}_"):
                candidates.append(table[len(prefix) + 1 :])
        hit = None
        for cand in candidates:
            if cand.lower() in lowered:
                hit = lowered[cand.lower()]
                break
        merged[table] = dict(hit) if hit else dict(DEFAULT_TABLE_ATTRS)
        merged[table].setdefault("description", "")
    return merged


def carry_forward_metadata(
    doc: dict, prior_doc: dict | None, prefixes: dict[str, str | None]
) -> dict:
    """Give each source table of a freshly assembled schema ``doc`` the
    hand-written metadata it had in ``prior_doc``, the previous run's
    document (reference builder.py:476-503), via ``merge_prior_metadata``
    with that source's prefix. Tables absent from ``doc`` stay dropped."""
    prior = {
        s["name"]: {t["name"]: t for t in s.get("tables") or [] if "name" in t}
        for s in (prior_doc or {}).get("sources") or []
    }
    for source in doc["sources"]:
        merged = merge_prior_metadata(
            [t["name"] for t in source["tables"]],
            prior.get(source["name"], {}),
            prefixes.get(source["name"]),
        )
        source["tables"] = [
            {"name": name, **{k: v for k, v in attrs.items() if k != "name"}}
            for name, attrs in merged.items()
        ]
    return doc


def metadata_merge_join(
    current: DataFrame,
    prior: DataFrame,
    on: str,
    attrs: list[str],
    defaults: dict[str, object],
) -> DataFrame:
    """DataFrame form of the prior-run merge: left join + coalesce to
    defaults (reference relation.py:81-138 is a nested-loop left-outer
    equi-join; here Catalyst picks broadcast/SMJ). ``attrs`` are the
    carried-forward columns from ``prior``."""
    joined = current.join(prior, on=on, how="left")
    cols = [F.col(c) for c in current.columns]
    for a in attrs:
        cols.append(F.coalesce(F.col(a), F.lit(defaults.get(a))).alias(a))
    return joined.select(*cols)


def find_duplicates(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys seen more than once (reference app.py:103-123 duplicate
    detection over ``schema + '.' + table``). Hash aggregation with
    map-side partial counts; returns (key..., n)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def assemble_schema_doc(
    app: str,
    database: str,
    sources: dict[str, list[str]],
    models: dict[str, list[str]],
) -> dict:
    """Build the dbt-style schema document (reference app.py:46-53,
    125-144, 196-220): version-2 dict with sources[].tables[] and
    models[].columns[]. Stays driver-side — it is metadata."""
    return {
        "version": 2,
        "sources": [
            {
                "name": schema,
                "database": database,
                "tables": [{"name": t} for t in sorted(tables)],
            }
            for schema, tables in sorted(sources.items())
        ],
        "models": [
            {
                "name": model,
                "columns": [{"name": c} for c in columns],
            }
            for model, columns in sorted(models.items())
        ],
    }
