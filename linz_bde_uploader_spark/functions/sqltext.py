"""Quoting for expressions written as Spark SQL text.

A PySpark ``Column`` call is one py4j round trip to the JVM, so a
plan builder that composes an expression call by call pays one trip
per column reference and per rule before any job starts. The hot
builders (``read_crs``' per-column cast and cleanse chain, the
merge's row comparison and action) write their expressions as SQL
text instead, which the JVM parses in one call per DataFrame
operation. Every identifier and string literal in that text goes
through the two helpers below.
"""

from __future__ import annotations


def ident(*parts: str) -> str:
    """A quoted, dot-qualified identifier: each part in backticks,
    any backtick inside it doubled (``ident("cur", "a b")`` is
    ```cur`.`a b````)."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def literal(value: str) -> str:
    """A string literal: single quotes, with ``\\`` and ``'``
    backslash-escaped, which the parser unescapes under its default
    ``spark.sql.parser.escapedStringLiterals=false``. Every other
    character stands for itself, control characters included."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
