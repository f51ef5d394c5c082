"""The query corpus behind ``__spark_entry__``: one module per operator
family.

Each family module defines its ``q_<name>`` builders, their DuckDB
oracles and the helpers only that family uses, and ends with
``QUERIES``, a list of ``(builder, oracle_sql)`` records. A query's name
is its builder's name minus ``q_``. Helpers two or more families use live
in :mod:`corpus.common`.
"""

from corpus import (
    dedup,
    geo,
    graph,
    multimodal,
    relational,
    seismo,
    sessions,
    similarity,
    sketches,
    text,
)

#: family modules in the order ``queries()`` lists them after the driver
#: window
FAMILIES = (
    relational,
    seismo,
    geo,
    graph,
    sessions,
    sketches,
    multimodal,
    similarity,
    text,
    dedup,
)
