"""Quoting for Spark SQL expression text.

The package builds expressions as Spark SQL strings (``selectExpr``,
``where``, ``F.expr``). Column names reach that text only through
:func:`ident` and string constants only through :func:`lit`, so a name with a
backtick or a value with a quote or backslash cannot end the token early or
change the expression around it.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier (a backtick is doubled)."""
    return "`" + name.replace("`", "``") + "`"


def lit(value: str) -> str:
    """``value`` as a single-quoted string literal. Backslash and quote are
    backslash-escaped, which the default parser
    (``spark.sql.parser.escapedStringLiterals=false``) reads back exactly."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
