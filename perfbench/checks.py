"""Output checks, kept free of Spark so the self-tests can feed them
deliberately corrupted results.

``compare_rows`` is the DuckDB-oracle comparison of ``tools/driver_sim.py``
(column-name set, row count, order-insensitive values canonicalized with
floats at full precision). ``check_catalog`` checks one catalog build
against the reference's invariants.
"""

from __future__ import annotations

import math
import os
import re


def canon(v) -> str:
    """Canonical text of one value, as ``tools/driver_sim.py`` forms it."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def compare_rows(
    spark_cols: list[str], spark_rows: list[tuple],
    oracle_cols: list[str], oracle_rows: list[tuple],
) -> str | None:
    """None when the two results agree, else what differs."""
    scols = [c.lower() for c in spark_cols]
    dcols = [c.lower() for c in oracle_cols]
    if sorted(scols) != sorted(dcols):
        return f"columns {scols} vs oracle {dcols}"
    if len(spark_rows) != len(oracle_rows):
        return f"row count {len(spark_rows)} vs oracle {len(oracle_rows)}"
    sidx = sorted(range(len(scols)), key=lambda i: scols[i])
    didx = sorted(range(len(dcols)), key=lambda i: dcols[i])
    s = sorted(tuple(canon(r[i]) for i in sidx) for r in spark_rows)
    d = sorted(tuple(canon(r[i]) for i in didx) for r in oracle_rows)
    if s != d:
        first = next((a, b) for a, b in zip(s, d) if a != b)
        return f"values differ, first: {first}"
    return None


def check_catalog(
    expected: dict,
    view_columns: dict[str, list[str]],
    sql_columns: dict[str, list[str]],
    files: dict[str, str],
    view_rows: dict[str, list[dict]],
    n_dupes: int,
) -> list[str]:
    """Every failed invariant of one catalog build, as text.

    ``expected`` comes from ``datagen.write_catalog`` plus the view names
    (``safe``/``pii`` per managed table, ``redacted`` per SAFE view:
    column -> literal, ``rows`` kept per table after soft delete,
    ``banned``, ``absent`` view names). ``view_columns`` are the
    registered views' columns, ``sql_columns`` the columns of the view
    each emitted SQL file creates when executed, ``files`` every written
    artifact's path -> text, ``view_rows`` the collected rows of the
    views sampled for the data-level checks (every redacted SAFE view
    must be among them).
    """
    failures: list[str] = []
    banned = expected["banned"].upper()
    n_sql = sum(1 for p in files if p.endswith(".sql"))
    if n_sql != 2 * len(expected["managed"]):
        failures.append(
            f"{n_sql} SQL artifacts for {len(expected['managed'])} managed tables"
        )
    if len(files) != n_sql + 2:
        failures.append(f"{len(files) - n_sql} YAML artifacts, expected 2")
    banned_word = re.compile(rf"\b{re.escape(banned)}\b", re.IGNORECASE)
    for path, text in files.items():
        if banned_word.search(text):
            failures.append(f"banned column {banned} in {os.path.basename(path)}")
    for name in expected["absent"]:
        if name in view_columns:
            failures.append(f"view {name} built for an excluded or unmanaged table")
    for table in expected["managed"]:
        safe, pii = expected["safe"][table], expected["pii"][table]
        if safe not in view_columns or pii not in view_columns:
            failures.append(f"missing SAFE/PII view for {table}")
            continue
        cols = view_columns[pii]
        if banned in {c.upper() for c in cols}:
            failures.append(f"banned column {banned} in view {pii}")
        for name in (safe, pii):
            if banned in {c.upper() for c in view_columns[name]}:
                failures.append(f"banned column {banned} in view {name}")
            if [c.upper() for c in view_columns[name]] != [c.upper() for c in cols]:
                failures.append(f"view {name} columns differ from {pii}")
            emitted = sql_columns.get(name)
            if emitted is None or [c.upper() for c in emitted] != [
                c.upper() for c in cols
            ]:
                failures.append(f"SQL artifact of {name} differs from its view")
            rows = view_rows.get(name)
            if rows is not None and len(rows) != expected["rows"]:
                failures.append(
                    f"view {name} has {len(rows)} rows after soft delete, "
                    f"expected {expected['rows']}"
                )
        for col, literal in expected["redacted"].get(safe, {}).items():
            got = [r.get(col) for r in view_rows.get(safe, [])]
            numeric = isinstance(literal, (int, float))
            if not got or any(
                (v is None or float(v) != float(literal)) if numeric
                else v != literal
                for v in got
            ):
                failures.append(f"{safe}.{col} not redacted to {literal!r}: {got}")
            sql = next(
                (t for p, t in files.items()
                 if os.path.basename(p) == f"{safe}.sql"), ""
            )
            lit = f"'{literal}'" if isinstance(literal, str) else str(literal)
            if f"{lit} AS" not in sql:
                failures.append(f"redaction literal {lit} missing from {safe}.sql")
    if n_dupes:
        failures.append(f"dupe check reported {n_dupes} duplicate tables")
    return failures
