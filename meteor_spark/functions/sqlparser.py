"""SQL condition mining with regexes — join & filter extraction.

Reference (plugins/extractors/bigquery/sqlparser/parser.go):
  - ParseJoinConditions: `ON a = b [AND|OR ...]` and `USING (...)`
    clauses (parser.go:58-69, patterns :12-25).
  - ParseFilterConditions: `WHERE|HAVING` predicates using
    =, <, >, LIKE, BETWEEN, IS, IN (parser.go:72-77, patterns :27-53).
  - comment stripping + whitespace normalization (parser.go:79-95).

Two surfaces:
  - plain-Python (parse_join_conditions / parse_filter_conditions) for
    driver-side use and tests;
  - Column expressions (*_col) built on F.regexp_extract_all so the same
    mining runs JVM-side inside whole-stage codegen over a query-log
    DataFrame — no Python UDF in the hot path.

Patterns are kept to portable regex (no lookbehind) so the identical
pattern string runs in Java (Spark), Python (driver), and RE2-style
engines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# `ON x = y [AND x2 = y2 ...]` — the reference captures the whole ON chain
# (parser.go:12-18). The chain may be wrapped in parens (`ON (a.id =
# b.id)`, standard ORM/generator output); the capture excludes them so
# the mined condition is paren-free either way.
JOIN_ON_PATTERN = (
    r"(?i)\bON\s+\(?\s*"
    r"((?:[\w.`\"']+\s*=\s*[\w.`\"']+)(?:\s+(?:AND|OR)\s+[\w.`\"']+\s*=\s*[\w.`\"']+)*)"
)
# `USING (a, b)` (parser.go:19-25)
JOIN_USING_PATTERN = r"(?i)\bUSING\s*\(([^)]+)\)"
# WHERE/HAVING predicate forms (parser.go:27-53): =,<,>,<=,>=,!=,LIKE,
# BETWEEN,IS,IN. The predicate tail admits one level of parens —
# `(?:[^;()]|\([^()]*\))*?` — so IN-lists and function calls after the
# operator (`x IN (1,2)`, `a = f(b)`) are captured; a bare `[^;()]*?`
# tail silently extracted NOTHING for such queries.
FILTER_PATTERN = (
    r"(?i)\b(?:WHERE|HAVING)\s+"
    r"([\w.`\"']+(?:\([^)]*\))?\s*(?:=|<>|!=|<=|>=|<|>|\s+LIKE\s+|\s+BETWEEN\s+|\s+IS\s+|\s+IN\s*)"
    r"(?:[^;()]|\([^()]*\))*?)(?:\s+(?:GROUP|ORDER|LIMIT|UNION|WINDOW)\b|;|$)"
)
_COMMENT_RE = re.compile(r"(--[^\n]*\n?)|(/\*.*?\*/)", re.S)
_WS_RE = re.compile(r"\s+")


def normalize_query(q: str) -> str:
    """Strip comments, collapse whitespace (parser.go:79-95)."""
    return _WS_RE.sub(" ", _COMMENT_RE.sub(" ", q)).strip()


def parse_join_conditions(q: str) -> list[str]:
    q = normalize_query(q)
    out = [m.group(1).strip() for m in re.finditer(JOIN_ON_PATTERN, q)]
    out += [f"USING({m.group(1).replace(' ', '')})" for m in re.finditer(JOIN_USING_PATTERN, q)]
    return out


def parse_filter_conditions(q: str) -> list[str]:
    q = normalize_query(q)
    return [m.group(1).strip() for m in re.finditer(FILTER_PATTERN, q)]


def join_conditions_col(query: Column) -> Column:
    """JVM-side ON-chain extraction over a query-string column."""
    return F.regexp_extract_all(query, F.lit(JOIN_ON_PATTERN), 1)


def filter_conditions_col(query: Column) -> Column:
    return F.transform(
        F.regexp_extract_all(query, F.lit(FILTER_PATTERN), 1),
        lambda s: F.trim(s),
    )
