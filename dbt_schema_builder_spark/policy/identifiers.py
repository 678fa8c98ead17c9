"""Identifier policy: reserved-word renames and quoting.

The reference renames relations that collide with Snowflake reserved words
(alias ``_NAME``, or ``PREFIX_NAME`` when a prefix is configured; reference
relation.py:48-57, snowflake_keywords.yml:3-92) and double-quotes reserved
column names in generated SQL (reference relation.py:63-70). Spark's analyzer
is case-insensitive and uses backticks, so the policy here is:

- the reserved-word list is the ANSI/Spark-SQL reserved set (public Spark
  docs, ``spark.sql.ansi.enforceReservedKeywords``) — the same *role* the
  90-entry Snowflake list plays in the reference
- relation aliasing keeps the reference's exact precedence: PREFIX wins,
  else ``_`` prefix on collision, else unchanged
- column quoting emits backticks instead of double quotes
"""

from __future__ import annotations

import re

# ANSI reserved words as enforced by Spark SQL (subset stable across
# versions), plus the Snowflake-specific entries the reference guards
# against (reference snowflake_keywords.yml:3-92) that are also meaningful
# in Spark SQL text.
RESERVED_WORDS = frozenset(
    {
        "ALL", "ALTER", "AND", "ANY", "AS", "AT", "AUTHORIZATION", "BETWEEN",
        "BOTH", "BY", "CASE", "CAST", "CHECK", "COLLATE", "COLUMN", "CONSTRAINT",
        "CREATE", "CROSS", "CURRENT", "CURRENT_DATE", "CURRENT_TIME",
        "CURRENT_TIMESTAMP", "CURRENT_USER", "DELETE", "DESCRIBE", "DISTINCT",
        "DROP", "ELSE", "END", "ESCAPE", "EXCEPT", "EXISTS", "EXTERNAL", "FALSE",
        "FETCH", "FILTER", "FOR", "FOREIGN", "FROM", "FULL", "GRANT", "GROUP",
        "GROUPING", "HAVING", "IN", "INNER", "INSERT", "INTERSECT", "INTO", "IS",
        "JOIN", "LATERAL", "LEADING", "LEFT", "LIKE", "LIMIT", "LOCALTIME",
        "LOCALTIMESTAMP", "MINUS", "NATURAL", "NOT", "NULL", "OFFSET", "ON",
        "ONLY", "OR", "ORDER", "OUTER", "OVERLAPS", "PARTITION", "POSITION",
        "PRIMARY", "QUALIFY", "RANGE", "REFERENCES", "REGEXP", "RIGHT", "RLIKE",
        "ROW", "ROWS", "SCHEMA", "SELECT", "SESSION_USER", "SET", "SOME", "START",
        "TABLE", "THEN", "TIME", "TO", "TRAILING", "TRUE", "UNION", "UNIQUE",
        "UPDATE", "USER", "USING", "VALUES", "VIEW", "WHEN", "WHERE", "WINDOW",
        "WITH",
    }
)

_PLAIN = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def relation_alias(name: str, prefix: str | None = None) -> str:
    """New-schema relation name under the keyword/prefix policy.

    Mirrors reference relation.py:48-57: PREFIX_NAME when a prefix is
    configured; _NAME when the bare name is a reserved word; else unchanged.
    Pinned by reference tests/test_relation.py:292-336.
    """
    if prefix:
        return f"{prefix}_{name}"
    if name.upper() in RESERVED_WORDS:
        return f"_{name}"
    return name


def backtick(name: str) -> str:
    """Backtick-quote ``name`` whatever it is, backticks doubled: a column
    reference in SQL text that never parses as a keyword, a function call
    or a nested-field path (``a.b``)."""
    return "`" + name.replace("`", "``") + "`"


def quote_identifier(name: str) -> str:
    """Backtick-quote a name when it is reserved or not a plain identifier.

    The reference double-quotes reserved column names in generated SQL
    (relation.py:63-70, tests/test_relation.py:339-352); Spark SQL uses
    backticks for the same purpose.
    """
    if name.upper() in RESERVED_WORDS or not _PLAIN.match(name):
        return backtick(name)
    return name


def upper_case_policy(name: str) -> str:
    """The reference upper-cases all emitted identifiers
    (relation.py:63-70, templates ``|upper``). Exposed as an explicit policy
    function so view-SQL generation can opt in; DataFrame-level code keeps
    source case because Spark's analyzer is case-insensitive."""
    return name.upper()
