"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG pipeline (extract -> mention-detect ->
link -> merge -> canonicalize -> triples) over pages deterministically
derived from the sf0.001 `documents` x `customer` tables and returns the
triples DataFrame.

`queries()` exposes every implemented operator family from SURVEY.md §2
plus the training-data ops (dedup / similarity / text analysis) as
(spark, sf_dir) -> DataFrame callables; `oracle_sql()` gives the DuckDB
equivalent for each (omitted only for ops whose float/hash plumbing is
not SQL-portable — those get the driver's rows-only check). Both read
one registry, the family modules of `serialization_agents_spark.queries`:
each query's name, plan and oracle are declared together in one entry,
and no module there imports this file. `kg_cache_clear` releases
the memoized kg pipeline and every query call's scratch (temp dirs,
catalog tables) in a long-lived session.

Known permanent exclusion — S12 (truncate/prepare, plans/pipeline.py
`mode("overwrite")` per stage): a WRITE MODE is not observable through a
read-only query result, so S12 has no `queries()` row BY NATURE. Its
semantics (stage overwrite + resume-skip on `_SUCCESS`) are pinned by
the resume pytest (tests/test_pipeline_e2e.py) instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from serialization_agents_spark.operators.triples import materialize_triples
from serialization_agents_spark.queries import (
    dedup_ann,
    graph,
    kg,
    media,
    olap,
    relational,
    text,
    webtext,
)
from serialization_agents_spark.queries.common import kg_cache_clear, kg_canonical

__all__ = ["entry", "queries", "oracle_sql", "kg_cache_clear"]

# Each module holds a contiguous run of the key order, so concatenated in
# this order their entries ARE the driver's key order (its 50-key window
# is the first 50; pinned by tests/test_query_order.py).
_ENTRIES = [
    e
    for module in (relational, dedup_ann, text, olap, graph, webtext, media, kg)
    for e in module.ENTRIES
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline at sf0.001; driver checks rows > 0."""
    res = kg_canonical(spark, "/root/testdata/sf0.001")
    return materialize_triples(res.canonical, res.linked)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, fn, _ in _ENTRIES}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _ENTRIES if sql is not None}
