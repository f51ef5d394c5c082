"""SQL text for plan-time predicates and projections.

A ``Column`` tree costs one py4j round trip per node while it is built
(each ``F.col``/``F.lit`` also resolves the JVM ``functions`` class), so a
bank query's predicate cost tens of round trips before Spark saw it. The
same predicate written as SQL text crosses once, in a single ``where``,
``selectExpr`` or ``F.expr``, and the JVM parses it.

Literals are written so the analyzer types them as ``F.lit`` would: a
Python int bare (INT when it fits 32 bits, BIGINT otherwise), a float with
a ``D`` suffix (DOUBLE, where a bare ``1.5`` would parse as DECIMAL), a
string single-quoted with backslash escapes. Conjunctions and disjunctions
are parenthesized left-deep (:func:`sql_and`, :func:`sql_or`), the shape
``reduce(and_, ...)`` gives a ``Column`` tree. The optimized plans therefore
match the ones the equivalent ``Column`` trees produce.
"""

from __future__ import annotations

import math
from numbers import Integral, Real


def sql_ident(name: str) -> str:
    """A column name as a backquoted identifier; dots separate a qualifier
    or struct field, as in ``F.col`` (``"l.starttime"`` → ```l`.`starttime```)."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in name.split("."))


def sql_literal(value) -> str:
    """A Python scalar as a SQL literal of the type ``F.lit`` gives it."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, Integral):
        return str(int(value))
    if isinstance(value, Real):
        value = float(value)
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def _left_deep(op: str, preds) -> str:
    out = None
    for p in preds:
        out = p if out is None else f"({out}) {op} ({p})"
    return out or ""


def sql_and(preds) -> str:
    """AND of SQL predicates, nested left-deep. The parser would build a
    balanced tree from a flat chain of three or more, a different plan
    string than the ``Column`` form of the same predicate; ``""`` when
    ``preds`` is empty."""
    return _left_deep("AND", preds)


def sql_or(preds) -> str:
    """OR of SQL predicates, nested left-deep like :func:`sql_and`."""
    return _left_deep("OR", preds)
