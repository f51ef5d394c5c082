"""The kwargs → predicate compiler.

This is the engine's query front door — the Spark re-expression of the
reference's three predicate builders:

- ``filter_df`` (``utils/pd.py:385-431``): str → glob, scalar → ``==``,
  collection → ``isin`` (globs inside collections OR together), AND-combined.
- ``filter_index`` / ``_filter_starttime_endtime`` (``utils/pd.py:336-443``):
  NSLC glob filters + **interval overlap** (not containment) on
  [starttime, endtime].
- ``_make_wheres`` (``utils/bank.py:326-409``): ``min*``/``max*`` kwargs →
  ``>``/``<`` range predicates, ``updatedafter``, ``eventid`` → eq/IN,
  endtime-only queries add a NaT-excluding lower bound, and the dateline
  rewrite (minlongitude > maxlongitude → OR of two ranges).

Every predicate compiles to SQL text at plan-build time (the ``*_sql``
builders; the ``Column`` forms are ``F.expr`` of them), so a query's whole
filter reaches the JVM in one py4j round trip and Catalyst sees plain
predicates it can push into the parquet scan. No Python runs per row.
"""

from __future__ import annotations

from collections.abc import Collection
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from obsplus_spark.functions.sqltext import sql_and, sql_ident, sql_literal
from obsplus_spark.functions.strings import any_glob_match, glob_match, is_exact
from obsplus_spark.schemas import LARGEDT_NS, SMALLDT_NS

#: kwargs the range compiler recognizes as "attribute range" prefixes
_RANGE_PREFIXES = ("min", "max")


def _value_predicate(
    col: str, value, case_insensitive: bool = False
) -> Column:
    """One kwarg → one predicate, with the reference's type dispatch."""
    if isinstance(value, str):
        return glob_match(col, value, case_insensitive)
    if isinstance(value, Collection) and not isinstance(value, (bytes,)):
        vals = list(value)
        if all(isinstance(v, str) for v in vals) and any(not is_exact(v) for v in vals):
            return any_glob_match(col, vals, case_insensitive)
        return F.col(col).isin(vals)
    return F.col(col) == value


def compile_filters(
    case_insensitive: bool = False, **kwargs
) -> Column | None:
    """AND-combine kwarg predicates (reference ``filter_df`` semantics).

    ``None`` values are skipped (kwarg not given). Returns ``None`` when
    nothing to filter — callers pass the result to ``df.filter`` only if
    non-null.
    """
    preds = [
        _value_predicate(k, v, case_insensitive)
        for k, v in kwargs.items()
        if v is not None
    ]
    if not preds:
        return None
    return reduce(and_, preds)


def range_predicates(available_columns: Collection[str], **kwargs) -> list[str]:
    """``min<attr>``/``max<attr>`` kwargs → range predicates (SQL text).

    Mirror of ``utils/bank.py:326-347``: ``minmagnitude=2`` → ``magnitude
    > 2``; ``maxdepth=10`` → ``depth < 10`` (strict, as the reference's SQL
    uses ``>``/``<``). Unknown attributes raise — the reference validates
    kwargs before building the plan (``get_events.py:33-47``).
    """
    preds: list[str] = []
    for key, value in kwargs.items():
        if value is None:
            continue
        prefix, attr = key[:3], key[3:]
        if prefix not in _RANGE_PREFIXES or not attr:
            raise ValueError(f"unsupported range kwarg: {key!r}")
        if attr not in available_columns:
            raise ValueError(f"unknown attribute {attr!r} in kwarg {key!r}")
        op = ">" if prefix == "min" else "<"
        preds.append(f"{sql_ident(attr)} {op} {sql_literal(value)}")
    return preds


def interval_overlap_sql(
    query_start: int | None,
    query_end: int | None,
    start_col: str = "starttime",
    end_col: str = "endtime",
    buffer_ns: int = 0,
) -> str:
    """[start, end] interval **overlap** predicate with edge buffer (SQL text).

    Mirror of ``utils/bank.py:288-303 _get_kernel_query`` +
    ``utils/pd.py:434-443``: a row overlaps [t1, t2] iff
    ``start < t2 + buf AND end > t1 - buf``. Open ends use the ±inf
    sentinels (``utils/bank.py:198-210``). Both halves are simple column
    comparisons, so parquet row-group min/max skipping applies — the same
    role the reference's HDF5 kernel `where` string played.
    """
    t1 = SMALLDT_NS if query_start is None else int(query_start)
    t2 = LARGEDT_NS if query_end is None else int(query_end)
    lo = t1 - buffer_ns if t1 > SMALLDT_NS + buffer_ns else SMALLDT_NS
    hi = t2 + buffer_ns if t2 < LARGEDT_NS - buffer_ns else LARGEDT_NS
    s, e = sql_ident(start_col), sql_ident(end_col)
    if buffer_ns == 0:
        # reference is inclusive (``~((end < t1) | (start > t2))`` keeps
        # boundary-touching rows); strict bounds are correct only when a
        # buffer already widens the window past the edge
        return f"{s} <= {hi} AND {e} >= {lo}"
    return f"{s} < {hi} AND {e} > {lo}"


def interval_overlap(
    query_start: int | None,
    query_end: int | None,
    start_col: str = "starttime",
    end_col: str = "endtime",
    buffer_ns: int = 0,
) -> Column:
    """Column form of :func:`interval_overlap_sql`."""
    return F.expr(
        interval_overlap_sql(query_start, query_end, start_col, end_col, buffer_ns)
    )


def dateline_longitude_sql(
    minlongitude: float, maxlongitude: float, col: str = "longitude"
) -> str:
    """Longitude range with dateline-crossing rewrite (SQL text).

    Mirror of ``utils/bank.py:349-363`` / ``get_events.py:148-162``: after
    wrapping into [-180, 180], ``minlon > maxlon`` means the box crosses
    the antimeridian → ``lon > min OR lon < max``; otherwise the plain
    conjunctive range.
    """
    from obsplus_spark.functions.geo import wrap_longitude_sql

    def _wrap(v: float) -> float:
        m = v % 360.0
        return m - 360.0 if m > 180.0 else m

    if maxlongitude - minlongitude >= 360.0:
        # the raw range spans the whole circle (the common
        # minlongitude=-180, maxlongitude=180 "no longitude filter"
        # query): wrapping would collapse both bounds to the same value
        # and the strict range would silently match NOTHING
        return "true"
    lo, hi = _wrap(minlongitude), _wrap(maxlongitude)
    c = wrap_longitude_sql(sql_ident(col))
    op = "OR" if lo > hi else "AND"  # lo > hi: the box crosses the dateline
    return f"{c} > {sql_literal(lo)} {op} {c} < {sql_literal(hi)}"


def dateline_longitude_predicate(
    minlongitude: float, maxlongitude: float, col: str = "longitude"
) -> Column:
    """Column form of :func:`dateline_longitude_sql`."""
    return F.expr(dateline_longitude_sql(minlongitude, maxlongitude, col))


def part_year_bounds(t1_ns: int | None, t2_ns: int | None) -> str | None:
    """``part_year`` partition bounds derived from an ns time range (SQL
    text), or None when the range gives none.

    Catalyst cannot infer ``part_year`` (the banks' Hive partition column)
    from a predicate on the raw time column, so without these bounds the
    layout's partition pruning never fires and every year directory is
    scanned (r6 review). The bounds are plan-side literals, so the filter
    lands as a PartitionFilter on the scan. ``part_year=0`` marks null-time
    rows: they match no time range, so excluding them is correct.
    """
    import datetime as _dt

    def _year(ns: int) -> int | None:
        try:
            return _dt.datetime.fromtimestamp(
                int(ns) / 1e9, tz=_dt.timezone.utc
            ).year
        except (OverflowError, OSError, ValueError):
            return None  # sentinel beyond datetime range → no bound

    preds = []
    if t1_ns is not None and (y1 := _year(t1_ns)) is not None:
        preds.append(f"`part_year` >= {y1}")
    if t2_ns is not None and (y2 := _year(t2_ns)) is not None:
        preds.append(f"`part_year` <= {y2}")
    return " AND ".join(preds) or None


def fdsn_event_filter(
    df: DataFrame,
    *,
    starttime: int | None = None,
    endtime: int | None = None,
    minlatitude: float | None = None,
    maxlatitude: float | None = None,
    minlongitude: float | None = None,
    maxlongitude: float | None = None,
    minmagnitude: float | None = None,
    maxmagnitude: float | None = None,
    mindepth: float | None = None,
    maxdepth: float | None = None,
    eventid: str | Collection[str] | None = None,
    updatedafter: int | None = None,
    limit: int | None = None,
    time_col: str = "time",
) -> DataFrame:
    """FDSN ``get_events``-style query over an event-summary table.

    The Spark re-expression of ``EventBank.read_index``
    (``eventbank.py:225-261``) + ``_get_ids`` (``get_events.py:103-145``):
    every kwarg becomes a pushdown-able predicate, all of them one SQL
    ``where``; ``limit`` caps rows. Events are point times, so
    ``starttime``/``endtime`` bound the single ``time`` column (not
    interval overlap).

    A ``part_year`` column (an EventBank index's Hive partition) gets the
    year bounds of ``starttime``/``endtime`` (:func:`part_year_bounds`)
    folded into the same predicate and is dropped from the output. Range
    kwargs are checked against ``df.columns``, which a bank's resolved
    relation answers from its cached schema.
    """
    columns = df.columns
    t = sql_ident(time_col)
    preds: list[str] = []
    if starttime is not None:
        preds.append(f"{t} > {int(starttime)}")
    if endtime is not None:
        preds.append(f"{t} < {int(endtime)}")
        if starttime is None:
            # reference adds a NaT-excluding lower bound on endtime-only
            # queries (utils/bank.py:343-347)
            preds.append(f"{t} > {SMALLDT_NS}")
    if minlongitude is not None and maxlongitude is not None:
        preds.append(dateline_longitude_sql(minlongitude, maxlongitude))
    else:
        if minlongitude is not None:
            preds.append(f"`longitude` > {sql_literal(minlongitude)}")
        if maxlongitude is not None:
            preds.append(f"`longitude` < {sql_literal(maxlongitude)}")
    ranges = {
        "minlatitude": minlatitude,
        "maxlatitude": maxlatitude,
        "minmagnitude": minmagnitude,
        "maxmagnitude": maxmagnitude,
        "mindepth": mindepth,
        "maxdepth": maxdepth,
    }
    preds.extend(range_predicates(columns, **ranges))
    if eventid is not None:
        if isinstance(eventid, str):
            preds.append(f"`event_id` = {sql_literal(eventid)}")
        else:
            ids = ", ".join(sql_literal(e) for e in eventid)
            preds.append(f"`event_id` IN ({ids})")
    if updatedafter is not None:
        preds.append(f"`updated` > {int(updatedafter)}")

    where = sql_and(preds)
    partitioned = "part_year" in columns
    if partitioned and (years := part_year_bounds(starttime, endtime)):
        where = sql_and([years, where])
    out = df.where(where) if where else df
    if partitioned:
        out = out.drop("part_year")
    if limit is not None:
        out = out.limit(int(limit))
    return out
