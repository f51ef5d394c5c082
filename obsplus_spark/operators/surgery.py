"""Catalog-surgery operators (reference §2.11) as relational programs.

The reference mutates object trees in place (``events/merge.py``,
``utils/events.py``). Here every operation is a DataFrame → DataFrame
transform over the flattened tables:

- :func:`merge_new_picks` — append only picks new to the target, keyed on
  the station-channel-phase hash (``merge.py:83-118``, hash ``:272-288``).
- :func:`prune_rejected` — drop rejected/orphaned rows transitively
  (``utils/events.py:74-148 prune_events`` — a reachability pass over a
  (parent, child) edge table, unrolled into one bounded SQL statement).
- :func:`bump_version` — creation-version bump (``utils/events.py:225-255``).
- :func:`dedup_channels` — duplicated channel rows (Fetcher duplicate-
  channel tolerance, ``tests/test_structures/test_fetcher.py:879``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pick_merge_key(df: DataFrame) -> DataFrame:
    """The station-channel-phase identity hash (merge.py:272-288)."""
    return df.withColumn(
        "_merge_key",
        F.md5(
            F.concat_ws(
                "|", "network", "station", "location", "channel", "phase_hint"
            )
        ),
    )


def merge_new_picks(target: DataFrame, incoming: DataFrame) -> DataFrame:
    """target ∪ (incoming ∖ target) on the merge key — the reference's
    'only new picks' append (merge.py:83-88,114-118) as an anti join."""
    t = pick_merge_key(target)
    i = pick_merge_key(incoming)
    # no .distinct() on the anti-join build side: existence is all an
    # anti join tests, so the dedup aggregate was a wasted exchange
    # (same note as prune_rejected's edge build below)
    new_only = i.join(t.select("_merge_key"), "_merge_key", "left_anti")
    return t.unionByName(new_only).drop("_merge_key")


def prune_rejected(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "resource_id",
    status_col: str = "evaluation_status",
    max_iterations: int = 10,
    assume_forest: bool = False,
    ids_only: bool = False,
) -> DataFrame:
    """Remove rejected nodes and everything reachable only through them.

    ``edges`` is (parent, child). A child is dropped when its parent is
    dropped; the alive set is walked to a fixed point in at most
    ``max_iterations`` rounds (event trees are shallow, the reference's
    walk is equivalent).

    A rejected node can never become alive, so edges *into* rejected
    children are dead from the start: they are semi-joined away **once**
    (``live_edges``), which leaves each round a single parent join instead
    of a join plus a not-rejected re-check.

    The rounds ``a0 = live``, ``a_i = roots ∪ children(a_{i-1})`` form a
    decreasing sequence, built **lazily** as one SQL statement — zero
    driver actions, one job when the caller acts. The result is the fixed
    point iff the tree depth is within ``max_iterations`` (the fixed
    QuakeML nesting is 2).

    ``assume_forest=True`` asserts every child has exactly one parent and
    node ids are unique (true for event trees — QuakeML nesting is strict
    containment). Then roots and reachable children are disjoint and
    duplicate-free, so every per-round ``distinct`` drops — each round is
    exactly one shuffle on the parent key. ``ids_only=True`` returns the
    surviving id set instead of the surviving ``nodes`` rows.
    """
    from obsplus_spark.util import sql_over

    not_rejected = F.col(status_col).isNull() | (F.col(status_col) != "rejected")
    live = nodes.filter(not_rejected).select(id_col)
    if not assume_forest:
        live = live.distinct()
    # right side of an anti join needs no distinct — existence only
    roots = live.join(
        edges.select(F.col("child").alias(id_col)), id_col, "left_anti"
    )
    live_edges = edges.join(
        live.withColumnRenamed(id_col, "child"), "child", "left_semi"
    )
    # all rounds in ONE SQL statement (one Catalyst analysis instead of
    # ~4 per round): each round is roots ∪ (live-edge parent join),
    # dedup'd unless the forest property guarantees disjoint single-copy
    # rows (in a DAG a child is reachable via several parents)
    union_kw = "UNION ALL" if assume_forest else "UNION"
    # seed with `live` (not just roots): a bound that undershoots the
    # depth then still only drops nodes some round proved unreachable
    ctes = [f"a0 AS (SELECT {id_col} FROM {{live}})"]
    for i in range(1, max_iterations + 1):
        ctes.append(
            f"a{i} AS (SELECT {id_col} FROM {{roots}} {union_kw}"
            f" SELECT e.child AS {id_col} FROM {{edges}} e"
            f" JOIN a{i - 1} a ON a.{id_col} = e.parent)"
        )
    alive = sql_over(
        {"live": live, "roots": roots, "edges": live_edges},
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {id_col} FROM a{max_iterations}",
    )
    if ids_only:
        # alive ⊆ node ids by construction — the semi join back to nodes
        # only recovers payload columns; skip it when the caller wants the
        # surviving id set
        return alive
    return nodes.join(alive, id_col, "left_semi")


def merge_keyed(
    target: DataFrame,
    incoming: DataFrame,
    key_col: str = "_merge_key",
    keep_from_target: tuple[str, ...] = ("resource_id",),
    reject_old: bool = True,
    version_col: str | None = "version",
    status_col: str = "evaluation_status",
) -> DataFrame:
    """Column-level keyed merge — the reference's ``merge_events`` core.

    Mirror of ``events/merge.py:66-92 _merge_picks`` as one full-outer
    join:

    - key in **both**: the incoming row's attributes overwrite the
      target's, except ``keep_from_target`` (the reference's
      ``attrs_no_update`` — identity survives, content updates); when any
      updatable attribute actually changed, the version bumps
      (``bump_creation_version``).
    - key only in **incoming**: appended as-is.
    - key only in **target**: kept, but marked ``rejected`` when
      ``reject_old`` (``merge.py:121-132 _reject_old`` sets status, it
      does not delete).

    Both sides must share a schema; ``key_col`` is the precomputed
    identity hash (:func:`pick_merge_key` for picks).
    """
    from obsplus_spark.util import sql_over

    cols = [c for c in target.columns if c != key_col]
    updatable = [c for c in cols if c not in keep_from_target]
    # presence flags must not rely on a nullable payload column — carry a
    # non-null sentinel per side through the full-outer join. The whole
    # merge is ONE SQL statement (the per-column Column-object loop cost
    # ~0.2 s of py4j round-trips per plan build).
    in_t = "(_in_t IS NOT NULL)"
    in_i = "(_in_i IS NOT NULL)"
    changed_terms = [
        f"NOT (t.{c} <=> i.{c})"
        for c in updatable
        if c not in (version_col, status_col)
    ]
    changed = "(" + " OR ".join(changed_terms or ["FALSE"]) + ")"
    out_cols = []
    for c in cols:
        tc, ic = f"t.{c}", f"i.{c}"
        if c in keep_from_target:
            out_cols.append(
                f"CASE WHEN {in_t} THEN {tc} ELSE {ic} END AS {c}"
            )
        elif c == version_col and version_col is not None:
            bumped = (
                f"CAST(coalesce(CAST({tc} AS BIGINT), 0) + 1 AS STRING)"
            )
            out_cols.append(
                f"CASE WHEN {in_t} AND {in_i} AND {changed} THEN {bumped}"
                f" WHEN {in_t} AND NOT {in_i} THEN {tc}"
                f" ELSE coalesce({ic}, {tc}) END AS {c}"
            )
        elif c == status_col and reject_old:
            out_cols.append(
                f"CASE WHEN {in_t} AND NOT {in_i} THEN 'rejected'"
                f" ELSE coalesce({ic}, {tc}) END AS {c}"
            )
        else:
            out_cols.append(
                f"CASE WHEN {in_i} THEN {ic} ELSE {tc} END AS {c}"
            )
    out_sql = ",\n               ".join(out_cols)
    return sql_over(
        {"t": target, "i": incoming},
        f"""
        SELECT {key_col},
               {out_sql}
        FROM (SELECT *, TRUE AS _in_t FROM {{t}}) t
        FULL OUTER JOIN (SELECT *, TRUE AS _in_i FROM {{i}}) i
        USING ({key_col})
        """,
    )


def merge_events(
    target_picks: DataFrame,
    incoming_picks: DataFrame,
    target_amps: DataFrame | None = None,
    incoming_amps: DataFrame | None = None,
    reject_old: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Full ``merge_events`` (``events/merge.py:18-132``): picks AND
    amplitudes, column-level reconciliation.

    Picks merge on the station-channel-phase hash. Amplitudes key through
    the pick they reference (``_merge_amplitudes``: ``amp.pick_id`` →
    pick → identity hash), so an incoming amplitude lands on the target
    amplitude attached to the *same physical pick* even when resource ids
    differ; ``pick_id`` and ``resource_id`` survive from the target side
    (``attrs_no_update``).
    """
    t = pick_merge_key(target_picks)
    i = pick_merge_key(incoming_picks)
    merged_picks = merge_keyed(t, i, reject_old=reject_old)

    if target_amps is None or incoming_amps is None:
        return merged_picks.drop("_merge_key"), None

    t_key = t.select(F.col("resource_id").alias("pick_id"), "_merge_key")
    i_key = i.select(F.col("resource_id").alias("pick_id"), "_merge_key")
    ta = target_amps.join(t_key, "pick_id", "inner")
    ia = incoming_amps.join(i_key, "pick_id", "inner")
    merged_amps = merge_keyed(
        ta, ia, keep_from_target=("resource_id", "pick_id"), reject_old=reject_old
    )
    return merged_picks.drop("_merge_key"), merged_amps.drop("_merge_key")


def _elem_fields(tree: DataFrame, array_col: str) -> set[str]:
    """Field names available in the element struct of ``array_col``
    (empty set if the column itself is absent)."""
    for fld in tree.schema.fields:
        if fld.name == array_col and isinstance(fld.dataType, T.ArrayType):
            et = fld.dataType.elementType
            if isinstance(et, T.StructType):
                return set(et.fieldNames())
    return set()


def duplicate_events(
    tree: DataFrame, suffix: str = "dup", id_len: int = 12
) -> DataFrame:
    """Systematic resource-id remap of a nested event tree.

    Mirror of ``utils/events.py:36-71 duplicate_events``: every internal
    object (event, origins+arrivals, magnitudes, picks, amplitudes,
    station magnitudes, focal mechanisms) gets a fresh id from a
    deterministic generator (md5 of old id + suffix); **references** to
    those objects (``preferred_*_id``, ``magnitudes[].origin_id``,
    ``arrivals[].pick_id``, ``amplitudes[].pick_id``,
    ``station_magnitudes[].origin_id/amplitude_id/magnitude_id``,
    ``focal_mechanisms[].triggering_origin_id/moment_magnitude_id``)
    remap iff they point at an internal object — ids referencing
    external resources pass through unchanged.

    Field-preserving: element structs are rewritten with ``withField``,
    so every field the tree carries (quality nodes, uncertainties,
    creation info, …) survives the remap untouched — and the same body
    serves slim and full trees (only the id/reference fields that
    actually exist are rewritten). Pure array/struct expressions over
    the nested rows; no explode, no shuffle, no Python per row.
    """
    top = set(tree.schema.fieldNames())

    def remap(c: Column) -> Column:
        # Column-API literals need no SQL-quote escaping (the old
        # selectExpr formulation did)
        return F.concat(
            F.lit(f"{suffix}:"),
            F.substring(
                F.md5(F.concat(c, F.lit(f":{suffix}"))), 1, int(id_len)
            ),
        )

    def ids_of(arr_col: str) -> Column:
        # id array from the INPUT column (pre-rewrite), empty when absent
        if arr_col not in top or "resource_id" not in _elem_fields(
            tree, arr_col
        ):
            return F.array().cast("array<string>")
        return F.transform(
            F.coalesce(F.col(arr_col), F.expr("array()")),
            lambda x: x["resource_id"],
        )

    # the id arrays are STAGED as real columns before any rewrite: a
    # transform(...) expression nested inside another array lambda makes
    # PySpark's auto-named lambda variables collide (the inner
    # `x.resource_id` silently resolves against the OUTER element — the
    # membership test then checks the wrong id family). A plain column
    # reference inside a lambda has no such hazard.
    staged = tree.select(
        "*",
        ids_of("origins").alias("_oid0"),
        ids_of("magnitudes").alias("_mid0"),
        ids_of("picks").alias("_pid0"),
        ids_of("amplitudes").alias("_aid0"),
        ids_of("focal_mechanisms").alias("_fid0"),
    )
    oid0, mid0 = F.col("_oid0"), F.col("_mid0")
    pid0, aid0 = F.col("_pid0"), F.col("_aid0")
    fid0 = F.col("_fid0")

    def remap_ref(c: Column, internal: Column) -> Column:
        return F.when(
            c.isNotNull() & F.array_contains(internal, c), remap(c)
        ).otherwise(c)

    def rewrite_elem(arr_col: str, refs: dict[str, Column]):
        """transform(arr, x -> x.withField(...)) rewriting resource_id +
        any reference fields present in THIS tree's element struct."""
        avail = _elem_fields(tree, arr_col)

        def body(x):
            out = x
            if "resource_id" in avail:
                out = out.withField("resource_id", remap(x["resource_id"]))
            for name, internal in refs.items():
                if name in avail:
                    out = out.withField(
                        name, remap_ref(x[name], internal)
                    )
            return out

        return F.transform(F.col(arr_col), body)

    def rewrite_origins():
        avail = _elem_fields(tree, "origins")

        def body(o):
            out = o
            if "resource_id" in avail:
                out = out.withField("resource_id", remap(o["resource_id"]))
            if "arrivals" in avail:
                arr_avail = set()
                et = tree.schema["origins"].dataType.elementType
                if "arrivals" in et.fieldNames():
                    at = et["arrivals"].dataType.elementType
                    arr_avail = set(at.fieldNames())

                def abody(a):
                    ao = a
                    if "resource_id" in arr_avail:
                        ao = ao.withField(
                            "resource_id", remap(a["resource_id"])
                        )
                    if "pick_id" in arr_avail:
                        ao = ao.withField(
                            "pick_id", remap_ref(a["pick_id"], pid0)
                        )
                    return ao

                out = out.withField(
                    "arrivals",
                    F.transform(o["arrivals"], abody),
                )
            return out

        return F.transform(F.col("origins"), body)

    rewritten: dict[str, Column] = {"event_id": remap(F.col("event_id"))}
    if "preferred_origin_id" in top:
        rewritten["preferred_origin_id"] = remap_ref(
            F.col("preferred_origin_id"), oid0
        )
    if "preferred_magnitude_id" in top:
        rewritten["preferred_magnitude_id"] = remap_ref(
            F.col("preferred_magnitude_id"), mid0
        )
    if "preferred_focal_mechanism_id" in top:
        rewritten["preferred_focal_mechanism_id"] = remap_ref(
            F.col("preferred_focal_mechanism_id"), fid0
        )
    if "origins" in top:
        rewritten["origins"] = rewrite_origins()
    if "magnitudes" in top:
        rewritten["magnitudes"] = rewrite_elem(
            "magnitudes", {"origin_id": oid0}
        )
    if "picks" in top:
        rewritten["picks"] = rewrite_elem("picks", {})
    if "amplitudes" in top:
        rewritten["amplitudes"] = rewrite_elem(
            "amplitudes", {"pick_id": pid0}
        )
    if "station_magnitudes" in top:
        rewritten["station_magnitudes"] = rewrite_elem(
            "station_magnitudes",
            {"origin_id": oid0, "amplitude_id": aid0, "magnitude_id": mid0},
        )
    if "focal_mechanisms" in top:
        rewritten["focal_mechanisms"] = rewrite_elem(
            "focal_mechanisms",
            {"triggering_origin_id": oid0, "moment_magnitude_id": mid0},
        )
    return staged.select(
        *[rewritten.get(c, F.col(c)).alias(c) for c in tree.columns]
    )


def bump_version(df: DataFrame, version_col: str = "version") -> DataFrame:
    """Increment integer-string versions, stamp creation time placeholder
    (utils/events.py:225-255 bump_creation_version)."""
    v = F.coalesce(F.col(version_col).cast("long"), F.lit(0))
    return df.withColumn(version_col, (v + 1).cast("string"))


def dedup_channels(stations: DataFrame) -> DataFrame:
    """Drop exactly-duplicated channel epochs (keep one row per
    (seed, start_date, end_date))."""
    return stations.dropDuplicates(
        ["network", "station", "location", "channel", "start_date", "end_date"]
    )


def strip_events(
    df: DataFrame,
    keep_columns: list[str],
    reject_status: str = "rejected",
    status_col: str = "evaluation_status",
) -> DataFrame:
    """Reduce rows to a minimal column set and drop rejected rows
    (utils/events.py:151-222 strip_events: strip derived/rejected content
    so the catalog re-processes cleanly)."""
    out = df
    if status_col in df.columns:
        out = out.filter(
            F.col(status_col).isNull() | (F.col(status_col) != reject_status)
        )
    return out.select(*[c for c in keep_columns if c in out.columns])


def attach_new_origin(
    events: DataFrame,
    new_origins: DataFrame,
    preferred: bool = True,
) -> DataFrame:
    """Attach a fabricated origin per event and (optionally) mark it
    preferred (utils/events.py:258-317 make_origins + merge.py:135-194
    attach_new_origin): append the origin struct to the event's list and
    point preferred_origin_id at it."""
    o = new_origins.select(
        "event_id",
        F.struct(
            F.col("resource_id"),
            F.col("time"),
            F.col("latitude"),
            F.col("longitude"),
            F.col("depth"),
        ).alias("_new_origin"),
        F.col("resource_id").alias("_new_oid"),
    )
    joined = events.join(o, "event_id", "left")
    with_origin = joined.withColumn(
        "origins",
        F.when(
            F.col("_new_origin").isNotNull(),
            F.concat(
                F.coalesce(F.col("origins"), F.array()),
                F.array(F.col("_new_origin")),
            ),
        ).otherwise(F.col("origins")),
    )
    if preferred:
        with_origin = with_origin.withColumn(
            "preferred_origin_id",
            F.coalesce(F.col("_new_oid"), F.col("preferred_origin_id")),
        )
    return with_origin.drop("_new_origin", "_new_oid")
