"""File sinks for generated artifacts (reference A22/A23).

The reference writes one ``.sql`` model per (relation, view type) into
``APP/`` and ``APP_PII/`` dirs, an ``APP.yml`` schema doc, and a downstream
``automatically_generated_sources/APP.yml`` — destructively cleaning the
managed dirs first so deleted tables disappear (reference
relation.py:243-288, app.py:222-229, builder.py:378-387, 444-451, 487-497).

The engine emits the equivalent artifacts: executable Spark-SQL view text
plus YAML schema docs. Hand-written models in a flat ``APP_MANUAL/`` dir
mark a relation manually managed — generation is skipped for it, and a
non-flat manual dir raises (reference relation.py:156-162, 177-204).
"""

from __future__ import annotations

import os
import shutil

import yaml

from .trifecta import TrifectaResult

# libyaml's parser and emitter are 3-4x faster than PyYAML's pure-Python
# ones on a large APP.yml; PyYAML built without libyaml has neither.
_DUMPER = getattr(yaml, "CSafeDumper", yaml.SafeDumper)
_LOADER = getattr(yaml, "CSafeLoader", yaml.SafeLoader)


def _libyaml_writes_same_text(node) -> bool:
    """Whether libyaml's emitter writes ``node`` exactly as the pure-Python
    one does: every string printable ASCII and every string key 1-99
    characters. Past that the two differ (same data, other text): libyaml
    wraps long double-quoted scalars (escapes such as ``\\xE9``, ``\\t``)
    at other points, and writes the empty key and keys of 123+ characters
    as simple keys where the pure-Python emitter uses the ``? `` form."""
    if isinstance(node, str):
        return node.isascii() and node.isprintable()
    if isinstance(node, dict):
        return all(
            (not isinstance(k, str) or 0 < len(k) < 100)
            and _libyaml_writes_same_text(k)
            and _libyaml_writes_same_text(v)
            for k, v in node.items()
        )
    if isinstance(node, list):
        return all(_libyaml_writes_same_text(v) for v in node)
    return True


def _dump(doc: dict, path: str) -> None:
    dumper = _DUMPER if _libyaml_writes_same_text(doc) else yaml.SafeDumper
    with open(path, "w") as f:
        yaml.dump(doc, f, Dumper=dumper, sort_keys=False)


class InvalidManualDirException(Exception):
    """Raised when APP_MANUAL contains subdirectories
    (reference relation.py:177-204)."""


def manual_models(out_dir: str, app: str) -> set[str]:
    """Table names with hand-written models in the flat APP_MANUAL dir.
    Subdirectories are an error — the reference requires a flat layout."""
    manual_dir = os.path.join(out_dir, f"{app}_MANUAL")
    if not os.path.isdir(manual_dir):
        return set()
    names: set[str] = set()
    for entry in os.listdir(manual_dir):
        full = os.path.join(manual_dir, entry)
        if os.path.isdir(full):
            raise InvalidManualDirException(
                f"{manual_dir} must be flat; found subdirectory {entry!r}"
            )
        if entry.endswith(".sql"):
            names.add(entry[: -len(".sql")].lower())
    return names


def prior_schema_doc(out_dir: str, app: str) -> dict | None:
    """The ``APP.yml`` schema doc an earlier build wrote, if any."""
    path = os.path.join(out_dir, f"{app}.yml")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return yaml.load(f, Loader=_LOADER)


def clean_managed_dirs(out_dir: str, app: str) -> None:
    """Destructive clean of the managed output dirs (reference
    builder.py:378-387) — manual dirs are never touched."""
    for d in (app, f"{app}_PII"):
        full = os.path.join(out_dir, d)
        if os.path.isdir(full):
            shutil.rmtree(full)


def write_artifacts(
    out_dir: str,
    app: str,
    result: TrifectaResult,
    schema_doc: dict | None = None,
    downstream_doc: dict | None = None,
) -> list[str]:
    """Write the generated SQL + YAML artifacts; returns written paths.

    Layout mirrors the reference: ``APP/<view>.sql`` for SAFE models,
    ``APP_PII/<view>.sql`` for PII models, ``APP.yml`` schema doc,
    ``automatically_generated_sources/APP.yml`` downstream doc.
    """
    clean_managed_dirs(out_dir, app)
    written: list[str] = []
    for view_name, sql in result.sql.items():
        subdir = f"{app}_PII" if view_name.startswith(f"{app}_PII__") else app
        d = os.path.join(out_dir, subdir)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{view_name}.sql")
        with open(path, "w") as f:
            f.write(sql + "\n")
        written.append(path)
    if schema_doc is not None:
        path = os.path.join(out_dir, f"{app}.yml")
        _dump(schema_doc, path)
        written.append(path)
    if downstream_doc is not None:
        d = os.path.join(out_dir, "automatically_generated_sources")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{app}.yml")
        _dump(downstream_doc, path)
        written.append(path)
    return written
