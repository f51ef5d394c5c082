"""Fetcher — the cross-domain join of events × stations × waveform index.

The reference's ``Fetcher`` (``structures/fetcher.py:96``) serves
time-windowed waveforms around per-event reference times by looping over
events in Python (``yield_event_waveforms :330-408``). The Spark
re-expression replaces the loop with **one interval join** (SURVEY.md §3.3):

1. reference-time table — strategy per ``reference``:
   - ``"origin"``: event × station **cross join** (every channel gets the
     origin time; ``fetcher.py:576-595``), stations broadcast.
   - ``"p"``/``"s"``: stations ← first matching pick per (event, station),
     a left join + ``row_number()=1`` (``fetcher.py:598-628``).
2. window bounds: ``[ref − time_before, ref + time_after]``
   (``fetcher.py:398``).
3. availability pruning: drop station channels whose [start_date,
   end_date] does not overlap the window (``fetcher.py:522-535``); open
   end_date = +inf sentinel.
4. one bucketed interval join of windows × waveform index — the plan that
   replaces N per-event index queries (and the reference's manual
   scan-sharing preload, ``fetcher.py:386-391``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from obsplus_spark.functions.sqltext import sql_ident, sql_literal
from obsplus_spark.operators.joins import interval_overlap_join
from obsplus_spark.schemas import LARGEDT_NS

NSLC = ["network", "station", "location", "channel"]


class Fetcher:
    """Join the three data domains to produce per-event waveform windows.

    Parameters are DataFrames (or bank facades exposing ``read_index``):
    events (event summary), stations (channel rows), waveform index
    (interval rows). All times int64 ns.
    """

    def __init__(
        self,
        events: DataFrame,
        stations: DataFrame,
        waveform_index: DataFrame,
        picks: DataFrame | None = None,
    ):
        def _df(x):
            # honor the documented contract: bank facades resolve to
            # their index DataFrame here (r6 review — the methods below
            # call DataFrame ops directly). The lookup is on the type: a
            # DataFrame's own attribute lookup falls back to its columns,
            # a schema fetch over py4j for every fresh frame.
            return x.read_index() if hasattr(type(x), "read_index") else x

        self.events = _df(events)
        self.stations = _df(stations)
        self.index = _df(waveform_index)
        self.picks = picks

    # -- reference-time strategies (fetcher.py:328 reference_funcs) ----------
    def _origin_reference(self) -> DataFrame:
        ev = self.events.selectExpr("event_id", "`time` AS ref_time")
        st = self.stations.selectExpr(*NSLC, "start_date", "end_date")
        return ev.crossJoin(F.broadcast(st))

    def _phase_reference(self, phase: str) -> DataFrame:
        if self.picks is None:
            raise ValueError(f"reference={phase!r} requires a picks table")
        p = self.picks.filter(F.col("phase_hint") == phase.upper())
        w = Window.partitionBy("event_id", "station").orderBy(
            "time", "resource_id"
        )
        first = (
            p.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("event_id", "station", F.col("time").alias("ref_time"))
        )
        st = self.stations.select(*NSLC, "start_date", "end_date")
        return st.join(first, "station", "inner")

    def event_windows(
        self,
        time_before: int,
        time_after: int,
        reference: str = "origin",
    ) -> DataFrame:
        """(event_id, NSLC, starttime, endtime) request windows."""
        if reference == "origin":
            ref = self._origin_reference()
        elif reference.lower() in ("p", "s"):
            ref = self._phase_reference(reference)
        else:
            raise ValueError(f"unknown reference {reference!r}")
        # SQL text throughout: a few py4j round trips per step instead of
        # one per Column node
        win = ref.where("ref_time IS NOT NULL").selectExpr(
            "event_id",
            *NSLC,
            f"ref_time - {sql_literal(time_before)} AS starttime",
            f"ref_time + {sql_literal(time_after)} AS endtime",
            "start_date",
            "end_date",
        )
        # availability pruning (fetcher.py:522-535): channel epoch must
        # overlap the window; null end_date = open epoch
        return win.where(
            f"start_date < endtime AND coalesce(end_date, {LARGEDT_NS}) > starttime"
        ).drop("start_date", "end_date")

    def yield_event_waveforms(
        self,
        time_before: int,
        time_after: int,
        reference: str = "origin",
        bucket: int | None = None,
    ) -> DataFrame:
        """Windows × waveform index — the flagship interval join.

        Output: one row per (event window, overlapping index segment),
        carrying both the window bounds and the segment columns — the
        distributed equivalent of the reference's per-event Streams. Pass
        ``bucket`` (ns) to force the time-bucket equi-join at scale.
        """
        windows = self.event_windows(time_before, time_after, reference)
        joined = interval_overlap_join(
            windows,
            self.index,
            on=NSLC,
            bucket=bucket,
        )
        return joined.selectExpr(
            "l.event_id AS event_id",
            *[f"l.{c} AS {c}" for c in NSLC],
            "l.starttime AS window_start",
            "l.endtime AS window_end",
            "r.starttime AS seg_start",
            "r.endtime AS seg_end",
            *[
                f"{sql_ident('r.' + c)} AS {sql_ident(c)}"
                for c in self.index.columns
                if c not in NSLC + ["starttime", "endtime"]
            ],
        )


def apply_stream_processor(
    df: DataFrame,
    fn,
    output_schema: str,
    keys: list[str] = ("event_id",),
) -> DataFrame:
    """Per-event-group processing hook (``fetcher.py:178-197,491-499``
    ``stream_processor`` callback): the reference calls a user Stream →
    Stream function per event; here the user function is pandas DataFrame →
    pandas DataFrame per group, executed as ``applyInPandas`` — Arrow
    batches, state bounded by the group, no driver round-trip."""
    return df.groupBy(*keys).applyInPandas(fn, output_schema)
