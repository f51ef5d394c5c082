"""Validation suite — rules as violation-DataFrames (Deequ-style).

The reference registers imperative validator callables per namespace/class
(``utils/validate.py:88-219``) that raise or collect reports. The Spark
re-expression: **a rule is a function DataFrame → violations DataFrame**
(zero rows = clean), and a report is the union of rule outputs — fully
declarative, runs as one job, scales with the data.

Rules mirrored from ``events/validate.py``:
- duplicate picks per (phase_hint, NSL[C]) group (:29-129)
- single-P/S per station and S-after-P ordering (:132-167)
- P-pick time outliers vs the event median (:170-184)
- referential integrity: every arrival.pick_id exists in picks (:64-79)
- amplitude limits (:187-206), amplitude filter ids (:209-235),
  amplitude picks on Z components (:238-256), amplitude time windows
  containing the referenced pick time (:259-283)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Rule = Callable[[DataFrame], DataFrame]


def _violation(df: DataFrame, rule: str, detail_cols: list[str]) -> DataFrame:
    # one selectExpr string — cheap plan build, same projection
    return df.selectExpr(
        f"'{rule}' AS rule",
        "event_id",
        f"to_json(struct({', '.join(detail_cols)})) AS detail",
    )


def duplicate_picks(picks: DataFrame, include_channel: bool = False) -> DataFrame:
    """Groups holding >1 non-rejected pick of one phase at one NSL(C)
    (events/validate.py:103-129)."""
    keys = ["event_id", "phase_hint", "network", "station", "location"]
    if include_channel:
        keys.append("channel")
    status = F.col("evaluation_status")
    dup = (
        picks.filter(status.isNull() | (status != "rejected"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return _violation(dup, "duplicate_picks", [k for k in keys if k != "event_id"] + ["n"])


def s_before_p(picks: DataFrame) -> DataFrame:
    """Stations where the S pick is not after the P pick
    (events/validate.py:132-167: 'S ≥ P')."""
    # null-safe like duplicate_picks: missing status counts as not-rejected
    status = F.col("evaluation_status")
    ok = picks.filter(status.isNull() | (status != "rejected"))
    agg = (
        ok.groupBy("event_id", "network", "station")
        .agg(
            F.min(F.when(F.col("phase_hint") == "P", F.col("time"))).alias("p_time"),
            F.min(F.when(F.col("phase_hint") == "S", F.col("time"))).alias("s_time"),
        )
        .filter(
            F.col("p_time").isNotNull()
            & F.col("s_time").isNotNull()
            & (F.col("s_time") < F.col("p_time"))
        )
    )
    return _violation(agg, "s_before_p", ["network", "station", "p_time", "s_time"])


def p_outliers(picks: DataFrame, limit_ns: int) -> DataFrame:
    """P picks further than ``limit_ns`` from the event's median P time
    (events/validate.py:170-184)."""
    p = picks.filter(F.col("phase_hint") == "P")
    med = p.groupBy("event_id").agg(F.median("time").alias("med_time"))
    out = (
        p.join(med, "event_id")
        .filter(F.abs(F.col("time") - F.col("med_time")) > limit_ns)
    )
    return _violation(out, "p_outlier", ["resource_id", "time", "med_time"])


def arrivals_reference_picks(arrivals: DataFrame, picks: DataFrame) -> DataFrame:
    """Arrivals whose pick_id has no matching pick (events/validate.py:64-79)
    — referential integrity as an anti join."""
    orphan = arrivals.join(
        picks.select(F.col("resource_id").alias("pick_id")).distinct(),
        "pick_id",
        "left_anti",
    )
    return _violation(orphan, "orphan_arrival", ["pick_id"])


_NSLC = ["network", "station", "location", "channel"]


def _not_rejected() -> F.Column:
    # null status counts as not-rejected throughout the reference rules
    status = F.col("evaluation_status")
    return status.isNull() | (status != "rejected")


def amp_limits(amps: DataFrame, amp_lim: float) -> DataFrame:
    """Amplitudes whose generic_amplitude exceeds ``amp_lim``
    (events/validate.py:187-206 ``check_amp_lims``). The reference
    iterates every amplitude regardless of status; so do we."""
    bad = amps.filter(F.col("generic_amplitude") > F.lit(amp_lim))
    return _violation(bad, "amp_above_limit", _NSLC + ["generic_amplitude"])


def amp_filter_ids(amps: DataFrame, filter_ids) -> DataFrame:
    """Amplitudes whose filter_id is not in the allowed set
    (events/validate.py:209-235 ``check_amp_filter_ids``). Empty set →
    rule is a no-op, mirroring the reference's early return. A null
    filter_id stringifies to something outside any set → violation.
    A bare string is treated as a single id, not iterated char-by-char
    (the reference's ``iterate()`` wraps lone strings the same way,
    utils/misc.py:277-278)."""
    if isinstance(filter_ids, str):
        filter_ids = [filter_ids]
    ids = [str(x) for x in (filter_ids or [])]
    if not ids:
        return _violation(amps.limit(0), "amp_bad_filter", _NSLC + ["filter_id"])
    fid = F.col("filter_id")
    bad = amps.filter(fid.isNull() | ~fid.isin(ids))
    return _violation(bad, "amp_bad_filter", _NSLC + ["filter_id"])


def amps_on_z_component(
    picks: DataFrame, phase_hints=("AML", "IAML")
) -> DataFrame:
    """Non-rejected amplitude picks recorded on vertical (``*Z``)
    channels (events/validate.py:238-256 ``check_amps_on_z_component``
    with ``no_z_amps=True``).

    Deliberate divergence: the reference asserts ``len(df) == 0`` on the
    UNFILTERED picks frame (an upstream bug — it fails for any event with
    picks when ``no_z_amps=True``); we implement the intended semantics
    and flag only the filtered amplitude-on-Z picks."""
    bad = picks.filter(
        _not_rejected()
        & F.col("phase_hint").isin(list(phase_hints))
        & F.col("channel").endswith("Z")
    )
    return _violation(bad, "amp_pick_on_z", _NSLC + ["phase_hint"])


def amp_times_contain_pick_time(amps: DataFrame, picks: DataFrame) -> DataFrame:
    """Amplitudes whose time-window reference does not equal the
    referenced pick's time (events/validate.py:259-283
    ``check_amp_times_contain_pick_time``). Amplitudes without a time
    window or with rejected status are skipped (reference :264-265); a
    null reference, an unresolvable pick, or a time mismatch is a
    violation. Equi-join on pick_id — pick resource_ids are unique, so
    no fan-out; at scale this is a plain shuffle hash join.

    Column contract: accepts BOTH the AMPLITUDE_DTYPES layout emitted by
    ``event_tree.amplitudes_to_df`` (``reference``/``time_begin``/
    ``time_end`` — a time window exists when any of them is set) and the
    pre-r6 fabricated layout (``has_time_window``/``reference_time``)."""
    if "reference_time" not in amps.columns and "reference" in amps.columns:
        amps = amps.withColumn(
            "reference_time", F.col("reference")
        ).withColumn(
            "has_time_window",
            F.col("reference").isNotNull()
            | F.col("time_begin").isNotNull()
            | F.col("time_end").isNotNull(),
        )
    a = amps.filter(F.col("has_time_window") & _not_rejected())
    p = picks.select(
        F.col("resource_id").alias("pick_id"), F.col("time").alias("pick_time")
    )
    j = a.join(p, "pick_id", "left")
    bad = j.filter(
        F.col("reference_time").isNull()
        | F.col("pick_time").isNull()
        | (F.col("reference_time") != F.col("pick_time"))
    )
    return _violation(bad, "amp_time_mismatch", _NSLC + ["pick_id"])


def validate(picks: DataFrame, arrivals: DataFrame | None = None,
             p_outlier_limit_ns: int | None = None,
             amplitudes: DataFrame | None = None,
             amp_lim: float | None = None,
             amp_filter_id_set=None,
             no_z_amps: bool = False) -> DataFrame:
    """Run the rule set, union the violation reports
    (utils/validate.py:181-219 report form)."""
    reports = [duplicate_picks(picks), s_before_p(picks)]
    if p_outlier_limit_ns is not None:
        reports.append(p_outliers(picks, p_outlier_limit_ns))
    if arrivals is not None:
        reports.append(arrivals_reference_picks(arrivals, picks))
    if amplitudes is not None:
        if amp_lim is not None:
            reports.append(amp_limits(amplitudes, amp_lim))
        if amp_filter_id_set:
            reports.append(amp_filter_ids(amplitudes, amp_filter_id_set))
        reports.append(amp_times_contain_pick_time(amplitudes, picks))
    if no_z_amps:
        reports.append(amps_on_z_component(picks))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
