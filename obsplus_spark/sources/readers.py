"""Tabular readers with the reference's fallback semantics.

The reference reads files defensively: try the declared format, fall back,
return None on failure (``utils/bank.py:440-455 _try_read_stream``,
``utils/misc.py:170-201 read_file``). Spark's native equivalent is
PERMISSIVE mode + ``_corrupt_record`` capture — bad rows become data, not
exceptions; ``_corrupt_record IS NULL`` selects the good ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV source (events_to_df(csv) surface, ``events/pd.py:269-276``).

    With a schema: PERMISSIVE parse, malformed rows carried in
    ``_corrupt_record`` (never dropped silently, never fatal).
    """
    reader = spark.read.option("header", str(header).lower()).option(
        "mode", "PERMISSIVE"
    )
    if schema is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        # COPY before add: StructType.add mutates in place, so reusing a
        # caller's schema object across calls would grow duplicate
        # _corrupt_record fields (and pollute the caller's schema)
        schema = T.StructType(list(schema.fields)).add(
            "_corrupt_record", T.StringType()
        )
        reader = reader.schema(schema).option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.csv(path)
