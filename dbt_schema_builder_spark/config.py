"""Policy configuration — the engine's equivalent of the reference's six YAML
overlays (reference builder.py:181-339: schema_config.yml, redactions.yml,
banned_column_names.yml, unmanaged_tables.yml,
downstream_sources_allow_list.yml, snowflake_keywords.yml).

Shapes and validation rules mirror the reference:
- schema_config entries accept only INCLUDE / EXCLUDE / SOFT_DELETE / PREFIX
  (reference builder.py:219, tests/test_builder.py:41-106)
- INCLUDE and EXCLUDE are mutually exclusive (reference schema.py:99-102,
  builder.py:243-248)
- SOFT_DELETE must be a single {column: predicate} mapping
  (reference builder.py:249-263)
- unmanaged_tables entries are SCHEMA.TABLE_REGEX, anchored by appending "$"
  when matched (reference relation.py:140-154, builder.py:341-376)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

VALID_SOURCE_KEYS = {"INCLUDE", "EXCLUDE", "SOFT_DELETE", "PREFIX"}

# Injection guard for identifiers interpolated into SQL text
# (reference builder.py:154-159).
_SAFE_IDENTIFIER = re.compile(r"^[a-zA-Z0-9_]+$")


class InvalidConfigurationException(Exception):
    """Raised on malformed policy config (reference builder.py:26-29)."""


def assert_safe_identifier(name: str) -> str:
    """Reject identifiers that could break out of a formatted SQL string.

    Mirrors the reference's schema-name guard (builder.py:154-159): only
    ``[a-zA-Z0-9_]`` is allowed in names that reach generated SQL.
    """
    if not _SAFE_IDENTIFIER.match(name or ""):
        raise InvalidConfigurationException(
            f"Invalid identifier {name!r}: only letters, numbers and "
            "underscores are allowed."
        )
    return name


@dataclass
class SourcePolicy:
    """Per-source-schema policy (reference schema.py:6-81).

    ``soft_delete`` is a ``(column, sql_predicate)`` pair rendered as
    ``WHERE <column> <predicate>`` when the column exists in a relation
    (reference schema.py:105-112, docs/index.rst:70-83).
    """

    name: str
    include: list[str] = field(default_factory=list)
    exclude: list[str] = field(default_factory=list)
    soft_delete: tuple[str, str] | None = None
    prefix: str | None = None

    def __post_init__(self) -> None:
        if self.include and self.exclude:
            # reference schema.py:99-102
            raise InvalidConfigurationException(
                f"Schema {self.name} has both INCLUDE and EXCLUDE sections; "
                "at most one is allowed."
            )
        if self.prefix:
            assert_safe_identifier(self.prefix)
        # lower-cased once, as ``selects`` runs for every table
        self._include = {x.lower() for x in self.include}
        self._exclude = {x.lower() for x in self.exclude}

    def selects(self, table: str) -> bool:
        """Include/exclude filtering (reference schema.py:83-103)."""
        t = table.lower()
        if self._include:
            return t in self._include
        return t not in self._exclude

    @classmethod
    def from_config(cls, name: str, raw: dict) -> "SourcePolicy":
        raw = raw or {}
        bad = set(raw) - VALID_SOURCE_KEYS
        if bad:
            # reference builder.py:219-241
            raise InvalidConfigurationException(
                f"Schema {name} has unknown config keys: {sorted(bad)}"
            )
        soft = None
        if "SOFT_DELETE" in raw:
            sd = raw["SOFT_DELETE"]
            if not isinstance(sd, dict) or len(sd) != 1:
                # reference builder.py:249-263
                raise InvalidConfigurationException(
                    f"Schema {name}: SOFT_DELETE must be a single "
                    "{column: predicate} mapping."
                )
            soft = next(iter(sd.items()))
        return cls(
            name=name,
            include=list(raw.get("INCLUDE") or []),
            exclude=list(raw.get("EXCLUDE") or []),
            soft_delete=soft,
            prefix=raw.get("PREFIX"),
        )


@dataclass
class AppPolicy:
    """One application: N raw source schemas -> one destination schema and
    its _PII twin (reference app.py:12-58).

    ``redactions`` is keyed ``"APP.TABLE" -> {COLUMN: literal}`` (reference
    builder.py:285-295, docs/redacting_pii.rst:7-22). ``unmanaged_tables``
    entries are ``SCHEMA.TABLE_REGEX`` matched anchored (reference
    relation.py:140-154). ``downstream_allow_list``: empty means allow all
    (reference relation.py:164-175).
    """

    app: str
    sources: dict[str, SourcePolicy] = field(default_factory=dict)
    redactions: dict[str, dict[str, object]] = field(default_factory=dict)
    banned_columns: list[str] = field(default_factory=list)
    unmanaged_tables: list[str] = field(default_factory=list)
    downstream_allow_list: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        assert_safe_identifier(self.app)
        for pattern in self.unmanaged_tables:
            if "." not in pattern:
                raise InvalidConfigurationException(
                    f"unmanaged_tables entry {pattern!r} must be "
                    "SCHEMA.TABLE or SCHEMA.REGEX"
                )
            try:
                re.compile(pattern)
            except re.error as exc:  # reference builder.py:341-376
                raise InvalidConfigurationException(
                    f"unmanaged_tables entry {pattern!r} is not a valid regex"
                ) from exc
        # lower-cased once, so a lookup per table does not scan every key;
        # the first of two keys that differ only in case wins
        self._redaction_index: dict[str, dict[str, object]] = {}
        for k, v in self.redactions.items():
            self._redaction_index.setdefault(
                k.lower(), {c.lower(): lit for c, lit in v.items()}
            )
        self._downstream = {x.lower() for x in self.downstream_allow_list}

    def redactions_for(self, table: str) -> dict[str, object]:
        """Case-insensitive lookup of the redaction map for APP.TABLE."""
        return dict(self._redaction_index.get(f"{self.app}.{table}".lower(), {}))

    def is_unmanaged(self, table: str) -> bool:
        """Anchored regex match against SCHEMA.TABLE
        (reference relation.py:140-154: '$' appended, match from start)."""
        qualified = f"{self.app}.{table}"
        return any(
            re.match(p + "$", qualified, flags=re.IGNORECASE)
            for p in self.unmanaged_tables
        )

    def in_downstream_sources(self, table: str) -> bool:
        """Allow-list semi-filter; empty list includes everything
        (reference relation.py:164-175)."""
        if not self._downstream:
            return True
        return f"{self.app}.{table}".lower() in self._downstream
