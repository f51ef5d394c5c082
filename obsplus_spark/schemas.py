"""Fixed schema catalog — the Spark mirror of the reference's dtype maps.

The reference declares every table schema as an OrderedDict of
``{column: dtype}`` (``/root/reference/src/obsplus/constants.py``:
EVENT_DTYPES :81-109, WAVEFORM_DTYPES :294-302, among others) and
*enforces* them on every extractor output via
``order_columns``/``cast_dtypes`` (``utils/pd.py:152-235``).

Conventions (SURVEY.md §1.2, §7 hard parts):
- All ``*time``/``*_date`` columns are **int64 nanoseconds since epoch**
  (LongType).  Spark's TimestampType is µs — ns longs are the source of
  truth; derive timestamps only for display/windowing.
- NSLC string codes are non-null, possibly ``""``; nullish codes
  (``constants.py:461`` NULL_SEED_CODES) normalize to ``""`` at ingest.
- Open-ended ranges use the ±inf sentinels SMALLDT64/LARGEDT64
  (``constants.py:342-343``) at the query boundary only; storage keeps
  real nulls (parquet has them; the reference's HDF5 did not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- time sentinels (reference constants.py:342-343) -----------------------
# smallest/largest representable datetime64[ns], used as -inf/+inf for
# open-ended query ranges.
SMALLDT_NS = -(2**63) + 1
LARGEDT_NS = 2**63 - 1

#: nullish NSLC codes normalized to "" (reference constants.py:461)
NULL_SEED_CODES = ("None", "--", "nan", "null", "NaN", "<NA>")

_NSLC = ["network", "station", "location", "channel"]


def _struct(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


S = T.StringType()
D = T.DoubleType()
L = T.LongType()

# --- waveform index (reference constants.py:294-302, wavebank.py:164-182) --
WAVEFORM_INDEX_SCHEMA = _struct(
    [
        ("network", S),
        ("station", S),
        ("location", S),
        ("channel", S),
        ("starttime", L),  # ns
        ("endtime", L),  # ns
        ("sampling_period", L),  # ns
        ("path", S),
    ]
)

# --- event summary (reference constants.py:81-109) --------------------------
EVENT_SCHEMA = _struct(
    [
        ("time", L),
        ("latitude", D),
        ("longitude", D),
        ("depth", D),
        ("magnitude", D),
        ("event_description", S),
        ("associated_phase_count", D),
        ("azimuthal_gap", D),
        ("event_id", S),
        ("horizontal_uncertainty", D),
        ("local_magnitude", D),
        ("moment_magnitude", D),
        ("duration_magnitude", D),
        ("magnitude_type", S),
        ("p_phase_count", D),
        ("s_phase_count", D),
        ("p_pick_count", D),
        ("s_pick_count", D),
        ("standard_error", D),
        ("used_phase_count", D),
        ("station_count", D),
        ("vertical_uncertainty", D),
        ("updated", L),
        ("author", S),
        ("agency_id", S),
        ("creation_time", L),
        ("version", S),
    ]
)


def order_columns(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Reindex to the schema's columns, filling missing ones with nulls.

    Mirror of reference ``utils/pd.py:201-235 order_columns``: output has
    exactly the schema's columns in schema order; missing columns become
    typed nulls; extra columns are dropped.
    """
    cols = []
    existing = set(df.columns)
    for field in schema.fields:
        if field.name in existing:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def cast_dtypes(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast present columns to the schema's types; leave extras untouched.

    Mirror of reference ``utils/pd.py:152-198 cast_dtypes`` (without the
    column reordering of :func:`order_columns`).
    """
    types = {f.name: f.dataType for f in schema.fields}
    return df.withColumns(
        {c: F.col(c).cast(types[c]) for c in df.columns if c in types}
    )


def normalize_nslc(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Normalize nullish seed codes to "" on the NSLC columns.

    Mirror of reference ``utils/misc.py:326-376 replace_null_nlsc_codes`` +
    the string-null normalization of ``dfextractor.py:212`` ("None"/"nan"/
    "<NA>" → ""). NULL and sentinel strings both become ``""`` so equality
    joins on seed codes behave like the reference.
    """
    cols = cols or [c for c in _NSLC if c in df.columns]
    null_lit = list(NULL_SEED_CODES)
    return df.withColumns(
        {
            c: F.when(
                F.col(c).isNull() | F.col(c).isin(null_lit), F.lit("")
            ).otherwise(F.col(c))
            for c in cols
        }
    )


def with_seed_id(df: DataFrame, out: str = "seed_id") -> DataFrame:
    """seed_id = N.S.L.C (reference ``utils/pd.py:256-333 get_seed_id_series``)."""
    return df.withColumn(out, F.concat_ws(".", *[F.col(c) for c in _NSLC]))


def split_seed_id(df: DataFrame, col: str = "seed_id") -> DataFrame:
    """Inverse: split seed_id into NSLC columns (reference events/pd.py:561-569)."""
    parts = F.split(F.col(col), r"\.")
    return df.withColumns({c: parts.getItem(i) for i, c in enumerate(_NSLC)})
