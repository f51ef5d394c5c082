"""String predicates: glob→regex translation and code padding.

Reference parity:
- glob semantics are fnmatch (`?`/`*`/`[...]`, anchored) exactly as the
  reference compiles them (``utils/pd.py:419-423,446-449 get_regex``);
  translation happens once at plan-build time (a Python constant), the
  match itself is a JVM-side ``RLIKE`` — no Python in the hot path. The
  predicate is SQL text (:func:`glob_match_sql`); the ``Column`` form is
  ``F.expr`` of it, one py4j round trip instead of one per tree node.
- case *sensitive* for events/waveforms, case-insensitive for stations
  (``stations/get_stations.py:22-24``) — callers pass ``case_insensitive``.
"""

from __future__ import annotations

import fnmatch
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from obsplus_spark.functions.sqltext import sql_ident, sql_literal, sql_or


@lru_cache(maxsize=2500)  # reference caches compiled regexes (utils/pd.py:446)
def glob_to_regex(pattern: str) -> str:
    """fnmatch glob → anchored Java-compatible regex string."""
    # fnmatch.translate emits python-flavored "(?s:...)\\Z"; Java regex has no
    # \Z-with-newline subtlety we care about here — rewrite to (?s)^...$.
    translated = fnmatch.translate(pattern)
    if translated.startswith("(?s:") and translated.endswith(r")\Z"):
        body = translated[len("(?s:") : -len(r")\Z")]
        return f"(?s)^{body}$"
    return translated


def glob_to_regex_expr(col: str) -> str:
    """SQL-expression twin of :func:`glob_to_regex` — translates a glob
    held in a **column** to an anchored regex entirely in-plan (no Python
    UDF, so a request-side projection stays JVM-codegen).

    Covers the fnmatch constructs seed codes use: ``*``, ``?``,
    ``[...]``/``[!...]`` classes, literal text (regex specials escaped),
    and an unpaired ``[`` demoted to a literal, all with fnmatch
    semantics. The glob is segmented into complete ``[...]`` classes,
    lone ``[``, and literal runs (one ``regexp_extract_all``), and each
    segment translates independently — so ``*``/``?`` INSIDE a class
    stay literal, exactly as fnmatch keeps them (the earlier global
    ``replace`` chain rewrote them there too, turning ``L[?]`` into
    ``L[.]``). Remaining documented divergences (none reachable from
    seed-code globs): a leading ``^`` inside a class negates here
    (fnmatch escapes it; fnmatch spells negation ``[!``), and a class
    whose FIRST member is ``]`` (fnmatch's ``[]abc]`` rule) falls back
    to literal text because the segmenter requires a non-empty
    ``]``-free body (which also keeps fnmatch's empty-``[]``-is-literal
    rule working).
    """
    # NOTE: this is a plain (non-f) string — no format processing, so
    # braces appear ONCE in the character class, not doubled
    lit = (
        r"replace(replace(regexp_replace(s,"
        r" '([.^$+{}()|\\\\])', '\\\\$1'), '*', '.*'), '?', '.')"
    )
    # Java (unlike Python/RE2) treats an inner '[' as a NESTED class
    # opener and '&&' as intersection — escape both (plus backslash)
    # inside class bodies so glob classes stay literal-member sets
    cls_body = r"regexp_replace(substring(s, {start}), '([\\[\\\\&])', '\\\\$1')"
    seg = (
        "CASE WHEN s = '[' THEN '\\\\['"
        f" WHEN startswith(s, '[!') THEN concat('[^', {cls_body.format(start=3)})"
        f" WHEN startswith(s, '[') THEN concat('[', {cls_body.format(start=2)})"
        f" ELSE {lit} END"
    )
    return (
        "concat('(?s)^', array_join(transform("
        rf"regexp_extract_all({col}, '\\[[^\\]]+\\]|\\[|[^\\[]+', 0),"
        f" s -> {seg}), ''), '$')"
    )


def is_exact(pattern: str) -> bool:
    """True if the glob contains no wildcard — eligible for the equality
    fast path the reference keeps (``utils/waveforms.py:592-606``)."""
    return not any(ch in pattern for ch in "*?[")


def glob_match_sql(col: str, pattern: str, case_insensitive: bool = False) -> str:
    """SQL text of the predicate "the column named ``col`` matches the
    fnmatch glob".

    Exact patterns compile to plain equality (joinable/prunable); wildcard
    patterns compile to ``RLIKE`` — the same exact/glob split the reference
    applies in ``_filter_index_to_bulk``.
    """
    c = sql_ident(col)
    if case_insensitive:
        c, pattern = f"upper({c})", pattern.upper()
    if is_exact(pattern):
        return f"{c} = {sql_literal(pattern)}"
    return f"{c} RLIKE {sql_literal(glob_to_regex(pattern))}"


def glob_match(col: str, pattern: str, case_insensitive: bool = False) -> Column:
    """Column predicate: value matches the fnmatch glob
    (``F.expr`` of :func:`glob_match_sql`)."""
    return F.expr(glob_match_sql(col, pattern, case_insensitive))


def any_glob_match(
    col: str, patterns: list[str], case_insensitive: bool = False
) -> Column:
    """OR of glob matches; exact patterns collapse into one ``IN``."""
    exact = [p for p in patterns if is_exact(p)]
    globs = [p for p in patterns if not is_exact(p)]
    preds: list[str] = []
    if exact:
        c = sql_ident(col)
        if case_insensitive:
            c, exact = f"upper({c})", [p.upper() for p in exact]
        preds.append(f"{c} IN ({', '.join(map(sql_literal, exact))})")
    preds.extend(glob_match_sql(col, p, case_insensitive) for p in globs)
    return F.expr(sql_or(preds))


def zero_pad_code(col: Column | str, width: int = 2) -> Column:
    """Zero-pad numeric codes to fixed-width strings.

    Mirror of reference ``utils/pd.py:33-47`` (nslc_code logical dtype):
    integer-like codes become zero-padded strings, others pass through.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    return F.when(
        s.rlike(r"^\d+$"), F.lpad(s, width, "0")
    ).otherwise(s)
