"""Banks — file-backed queryable tables (the reference's core abstraction).

The reference's banks are "in-process databases": a directory of data files
plus a queryable tabular index (``bank/core.py:34``, HDF5 for WaveBank,
SQLite for EventBank). The Spark re-expression: **the index is a partitioned
parquet table**; ``read_index`` is a parquet scan with every kwarg compiled
to a pushdown-able predicate; ``update_index``/``put_*`` are upserts.

``read_index`` compiles its kwargs to one SQL predicate (a few py4j round
trips per query, not one per ``Column`` node) and returns the filtered
relation itself. There is no superset cache of earlier reads (the
reference's ``_IndexCache``, ``utils/bank.py:159-196``): a read here is a
filter over an already-resolved relation, and persisting each miss cost
more than the repeats it served.

Upsert strategy: generation swap. Each write materializes the merged table
into a new ``gen=N`` directory and flips a tiny JSON pointer — readers keep
snapshot isolation (they hold the old generation), writers never overwrite
a file being read. On a real cluster with Delta/Iceberg on the classpath
this maps 1:1 to ``MERGE INTO`` (the reference's own upsert is
delete-then-insert per event_id, ``eventbank.py:351-366``,
``utils/bank.py:434-437``); the generation swap is the jar-free equivalent
with the same semantics.

Generations are immutable: ``overwrite`` always writes a new ``gen=N+1``
directory before it flips the pointer, and nothing rewrites a directory the
pointer has named. So a reader resolves each generation's parquet relation
(its file listing and inferred schema) once, keyed on the pointer's
``(generation, last_updated_ns)``, and re-reads only the pointer on every
query — writes from other bank instances on the same path are still seen,
while repeated queries skip the listing and the schema-inference job.

An EventBank keeps two such tables, the index and the nested-tree
payload. ``put_events`` writes them at the same time, each its own
generation swap, and returns once both are done. A failed batch can
therefore leave the payload a generation ahead of the index (or the index
ahead of the payload); ``get_events`` filters through the index, so rows
that exist only in the payload stay invisible.

Partition layout: Hive-style ``part_year=YYYY`` from the row's time column —
the distributed analogue of the reference's templated ``{year}/{month}/...``
directory scheme (``constants.py:576-588``), giving partition pruning on
time-range queries for free.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import InheritableThread

from obsplus_spark.functions.sqltext import sql_and
from obsplus_spark.functions.strings import glob_match_sql
from obsplus_spark.plans.predicates import (
    fdsn_event_filter,
    interval_overlap_sql,
    part_year_bounds,
)


class _GenerationTable:
    """A parquet table with atomic generation-swap upserts."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._meta = self.root / "_bank_meta.json"
        #: ((generation, last_updated_ns), relation) of the last read
        self._resolved: tuple[tuple, DataFrame] | None = None

    # -- metadata ------------------------------------------------------------
    def _read_meta(self) -> dict:
        if self._meta.exists():
            return json.loads(self._meta.read_text())
        return {"generation": -1, "last_updated_ns": None}

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta.with_suffix(".tmp")
        tmp.write_text(json.dumps(meta))
        tmp.replace(self._meta)

    @property
    def last_updated_ns(self) -> int | None:
        """Reference ``bank/core.py`` last-update timestamp node."""
        return self._read_meta()["last_updated_ns"]

    def exists(self) -> bool:
        return self._read_meta()["generation"] >= 0

    def _gen_dir(self, gen: int) -> Path:
        return self.root / f"gen={gen}"

    # -- IO --------------------------------------------------------------
    def read(self) -> DataFrame:
        """The current generation's parquet relation.

        The meta pointer is re-read on every call, so a write by another
        instance on the same path is seen by the next read. The relation
        (file listing + inferred schema, one Spark job) is resolved once
        per ``(generation, last_updated_ns)`` and returned until the
        pointer moves: a generation directory never changes once the
        pointer names it. The stamp in the key catches a bank rebuilt to
        the same generation number after its root was wiped.
        """
        meta = self._read_meta()
        if meta["generation"] < 0:
            raise FileNotFoundError(f"bank at {self.root} has no data yet")
        key = (meta["generation"], meta["last_updated_ns"])
        if self._resolved is None or self._resolved[0] != key:
            gen_dir = self._gen_dir(meta["generation"])
            self._resolved = (key, self.spark.read.parquet(str(gen_dir)))
        return self._resolved[1]

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        scan_started_ns: int | None = None,
    ) -> None:
        """Write the next generation and swap the meta pointer.

        ``scan_started_ns``: the moment the CALLER listed the files this
        write indexes. The incremental contract compares future file
        mtimes against ``last_updated_ns`` — stamping the (later) write
        time would permanently skip any file created while the indexing
        job ran (listed by neither this scan nor the next). Callers that
        do not index from a file listing may omit it.
        """
        meta = self._read_meta()
        new_gen = meta["generation"] + 1
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(self._gen_dir(new_gen)))
        stamp = scan_started_ns if scan_started_ns is not None else time.time_ns()
        self._write_meta(
            {"generation": new_gen, "last_updated_ns": stamp}
        )
        # bounded snapshot window: keep the TWO prior generations so any
        # DataFrame handed out within the last two writes still reads
        # live files; older generations
        # are garbage-collected. A handle older than two writes must be
        # re-read from the bank — document, not MVCC.
        for gen in range(new_gen - 2):
            old = self._gen_dir(gen)
            if old.exists():
                shutil.rmtree(old, ignore_errors=True)

    def upsert(
        self,
        new: DataFrame,
        key: str,
        partition_by: list[str] | None = None,
        scan_started_ns: int | None = None,
    ) -> None:
        """MERGE-equivalent: delete matching keys, insert new rows.

        The anti-join + union is exactly the reference's delete-then-insert
        (``eventbank.py:351-366``); on Delta this is one ``MERGE INTO``.
        """
        if self.exists():
            existing = self.read()
            keep = existing.join(new.select(key).distinct(), key, "left_anti")
            merged = keep.unionByName(new, allowMissingColumns=True)
        else:
            merged = new
        self.overwrite(merged, partition_by, scan_started_ns=scan_started_ns)


def _with_part_year(df: DataFrame, time_col: str) -> DataFrame:
    """Hive partition column from an ns-long time (constants.py:576 layout)."""
    return df.withColumn(
        "part_year",
        F.coalesce(
            F.year(F.timestamp_micros((F.col(time_col) / 1000).cast("long"))),
            F.lit(0),
        ),
    )


class EventBank:
    """FDSN-queryable event table (reference ``bank/eventbank.py``).

    ``put_events`` upserts by event_id; ``read_index`` compiles FDSN kwargs
    to pushdown predicates over the partitioned parquet index.
    """

    def __init__(self, spark: SparkSession, path: str | os.PathLike):
        self.table = _GenerationTable(spark, Path(path) / "event_index")
        self._payload = _GenerationTable(spark, Path(path) / "event_payload")

    def put_events(
        self,
        events: DataFrame,
        trees: DataFrame | None = None,
        scan_started_ns: int | None = None,
    ) -> "EventBank":
        """Upsert event-summary rows keyed on event_id
        (``eventbank.py:441-494 put_events``).

        When ``events`` carries the nested tree columns (``origins`` in
        the schema) it is stored as the payload table and the index
        derives from it (``events_to_df``), mirroring the reference's
        QuakeML-file + SQLite-index pair; ``trees`` passes the payload
        explicitly alongside a precomputed summary.

        With a payload, the two upserts run at the same time: the payload
        on a second thread (a pyspark ``InheritableThread``, so its jobs
        carry the caller's local properties such as the job group), the
        index on the caller's thread. The call returns only after both
        have finished, and re-raises a failure from either.
        The writes are two generation swaps, not one transaction: a
        failed batch can leave the payload a generation ahead of the
        index, as it could leave the index ahead of the payload when they
        ran in turn. ``get_events`` filters through the index, so payload
        rows the index lacks stay invisible until a re-ingest.
        """
        if trees is None and "origins" in events.columns:
            trees = events
            from obsplus_spark.operators.event_tree import events_to_df

            events = events_to_df(trees)
        df = _with_part_year(events, "time")

        def write_index():
            self.table.upsert(
                df, "event_id", partition_by=["part_year"],
                scan_started_ns=scan_started_ns,
            )

        if trees is None:
            write_index()
            return self
        payload_errors: list[BaseException] = []

        def write_payload():
            try:
                self._payload.upsert(
                    trees, "event_id", scan_started_ns=scan_started_ns
                )
            except BaseException as exc:
                payload_errors.append(exc)

        worker = InheritableThread(
            write_payload, session=self.table.spark,
            name="eventbank-payload-upsert",
        )
        worker.start()
        try:
            write_index()
        finally:
            worker.join()
        if payload_errors:
            raise payload_errors[0]
        return self

    # update_index is put_events in this engine: the index IS the table
    update_index = put_events

    def read_index(self, **kwargs) -> DataFrame:
        """FDSN-style query (``eventbank.py:225-261 read_index``): the
        current generation's relation under one compiled predicate
        (:func:`~obsplus_spark.plans.predicates.fdsn_event_filter`), with
        the ``part_year`` partition bounds folded in. Each call reads the
        parquet relation afresh; nothing is cached between queries."""
        return fdsn_event_filter(self.table.read(), **kwargs)

    def get_events(self, **kwargs) -> DataFrame:
        """Full event payload for an index query.

        Mirror of ``eventbank.py:392-418 get_events``: the index filter
        resolves matching event_ids, a ``left_semi`` join pulls the stored
        nested trees — the filter does the pruning, the payload read only
        touches matching rows. Falls back to index rows when no payload
        table exists (summary-only banks).
        """
        idx = self.read_index(**kwargs)
        if not self._payload.exists():
            return idx
        return self._payload.read().join(
            idx.select("event_id"), "event_id", "left_semi"
        )

    @property
    def last_updated_ns(self) -> int | None:
        return self.table.last_updated_ns


class WaveBank:
    """Interval-indexed waveform table (reference ``bank/wavebank.py``).

    The index row is (NSLC, starttime, endtime, sampling_period, path);
    queries push interval overlap + NSLC globs into the parquet scan.
    """

    #: index-query edge buffer, 1 s in ns (reference wavebank.py:173)
    buffer_ns = 1_000_000_000

    def __init__(self, spark: SparkSession, path: str | os.PathLike):
        self.table = _GenerationTable(spark, Path(path) / "waveform_index")
        self._payload = _GenerationTable(spark, Path(path) / "waveform_data")

    def put_waveforms(self, traces: DataFrame) -> "WaveBank":
        """Sink trace rows (samples included) and refresh the index.

        Mirror of ``wavebank.py:708-754 put_waveforms``: the reference
        groups traces into target files and rewrites them; here the payload
        is a partitioned table upserted by (seed, starttime) and the index
        derives from the payload's metadata columns — one write, no
        read-modify-write of individual files.
        """
        keyed = traces.withColumn(
            "_trace_key",
            F.concat_ws(
                "|", "network", "station", "location", "channel",
                F.col("starttime").cast("string"),
            ),
        )
        self._payload.upsert(
            _with_part_year(keyed, "starttime"), "_trace_key",
            partition_by=["part_year"],
        )
        index_rows = traces.select(
            "network", "station", "location", "channel",
            "starttime", "endtime", "sampling_period",
        ).withColumn("path", F.lit("<payload>"))
        return self.update_index(index_rows)

    def get_waveforms(
        self,
        network: str | None = None,
        station: str | None = None,
        location: str | None = None,
        channel: str | None = None,
        starttime: int | None = None,
        endtime: int | None = None,
        merge: bool = True,
    ) -> DataFrame:
        """Indexed read of stored traces, trimmed (and merged) to the window
        (``wavebank.py:616-647 get_waveforms`` → ``_prep_output_stream``)."""
        from obsplus_spark.operators.waveforms import merge_traces, trim_traces
        from obsplus_spark.schemas import LARGEDT_NS, SMALLDT_NS

        if not self._payload.exists():
            raise FileNotFoundError(
                f"WaveBank at {self.table.root.parent} is index-only (no "
                "waveform payload stored): get_waveforms needs "
                "put_waveforms-ingested traces. Use read_index() to "
                "locate the source files instead."
            )
        df = self._payload.read().drop("part_year", "_trace_key")
        out = df.where(self._where(
            (network, station, location, channel), starttime, endtime
        ))
        if merge:
            out = merge_traces(out)
        t1 = SMALLDT_NS if starttime is None else starttime
        t2 = LARGEDT_NS if endtime is None else endtime
        return trim_traces(out, t1, t2)

    def update_index(
        self, index_rows: DataFrame, scan_started_ns: int | None = None
    ) -> "WaveBank":
        """Append/refresh index rows (``wavebank.py:247-276 update_index``);
        key = (seed, starttime, path) so re-indexed files replace cleanly.
        ``scan_started_ns``: when indexing from a file listing, the moment
        the listing was taken (see ``_GenerationTable.overwrite``)."""
        df = _with_part_year(index_rows, "starttime").withColumn(
            "_idx_key",
            F.concat_ws(
                "|", "network", "station", "location", "channel",
                F.col("starttime").cast("string"), "path",
            ),
        )
        self.table.upsert(
            df, "_idx_key", partition_by=["part_year"],
            scan_started_ns=scan_started_ns,
        )
        return self

    def _where(self, patterns: tuple, starttime, endtime) -> str:
        """SQL text: interval overlap with the edge buffer AND a glob match
        per given NSLC pattern."""
        preds = [interval_overlap_sql(starttime, endtime, buffer_ns=self.buffer_ns)]
        preds.extend(
            glob_match_sql(col, pat)
            for col, pat in zip(("network", "station", "location", "channel"), patterns)
            if pat is not None
        )
        return sql_and(preds)

    def read_index(
        self,
        network: str | None = None,
        station: str | None = None,
        location: str | None = None,
        channel: str | None = None,
        starttime: int | None = None,
        endtime: int | None = None,
    ) -> DataFrame:
        """Indexed scan with pushed-down time + NSLC predicates
        (``wavebank.py:329-361``): interval **overlap** with the 1 s edge
        buffer, glob matches on codes — one SQL ``where`` over the current
        generation's relation. Each call reads the parquet relation
        afresh; nothing is cached between queries.
        """
        where = self._where((network, station, location, channel), starttime, endtime)
        # partition pruning: part_year derives from the trace START, so
        # only the UPPER bound is safe for an overlap query (a trace
        # starting in an earlier year can still overlap t1; one that
        # starts after t2+buffer cannot overlap at all)
        years = part_year_bounds(
            None, None if endtime is None else int(endtime) + self.buffer_ns
        )
        if years:
            where = sql_and([years, where])
        return self.table.read().where(where).drop("part_year", "_idx_key")

    # -- index analytics (delegate to the operator layer) --------------------
    def availability(self, **kwargs) -> DataFrame:
        from obsplus_spark.operators.availability import availability

        return availability(self.read_index(**kwargs))

    def get_gaps(self, min_gap: int | None = None, **kwargs) -> DataFrame:
        from obsplus_spark.operators.gaps import gaps_df

        return gaps_df(self.read_index(**kwargs), min_gap=min_gap)

    def get_segments(self, min_gap: int | None = None, **kwargs) -> DataFrame:
        from obsplus_spark.operators.gaps import segments_df

        return segments_df(self.read_index(**kwargs), min_gap=min_gap)

    def get_uptime(self, **kwargs) -> DataFrame:
        from obsplus_spark.operators.availability import uptime

        return uptime(self.read_index(**kwargs))

    def get_waveforms_bulk(self, requests: DataFrame | list) -> DataFrame:
        """Bulk request (``wavebank.py:581-614``): a literal list compiles
        into one scan predicate (the reference's API shape, no join); a
        DataFrame request table goes through the broadcast semi-join."""
        from obsplus_spark.operators.joins import (
            bulk_request_filter,
            bulk_request_join,
        )

        index = self.table.read().drop("part_year", "_idx_key")
        if isinstance(requests, list):
            return bulk_request_filter(index, requests)
        return bulk_request_join(index, requests)

    @property
    def last_updated_ns(self) -> int | None:
        return self.table.last_updated_ns

    @staticmethod
    def archive_to_sds(
        traces: DataFrame,
        sds_path: str | os.PathLike,
        overlap_ns: int = 30 * 1_000_000_000,
    ) -> None:
        """Re-chunk trace rows into day files in an SDS-style layout.

        Mirror of ``utils/waveforms.py:404-459 archive_to_sds``: day windows
        (with a leading ``overlap`` as in the reference's default 30 s),
        samples trimmed per day, written ``partitionBy(year, doy, network,
        station, channel)`` — the reference's templated directory scheme
        (``constants.py:576-588``) as Hive partitioning, so a day/station
        read prunes to one directory. The day explode + trim is pure
        expressions; the write is one partitioned job.
        """
        from obsplus_spark.operators.waveforms import sds_day_chunks

        out = sds_day_chunks(traces, overlap_ns=overlap_ns)
        out.write.mode("overwrite").partitionBy(
            "year", "doy", "network", "station", "channel"
        ).parquet(str(sds_path))
