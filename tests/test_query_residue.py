"""A query that stages files for its lazily-read result returns the same
rows when called twice in one session, and kg_cache_clear removes
everything it staged: no temp dir is left behind, and no catalog table
appears."""

from __future__ import annotations

import os
import tempfile

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"
PREFIXES = ("o9s_", "kg_bucketed_", "kg_fold_", "kg_stateful_")


def _staged() -> set[str]:
    return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith(PREFIXES)}


def _tables(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize(
    "name",
    [
        "o9s_stream_interval_join",
        "kg_agents_bucketed",
        "kg_incremental_fold",
        "kg_stateful_totals",
    ],
)
def test_staging_query_twice_leaves_no_residue(spark, name):
    dirs_before, tables_before = _staged(), _tables(spark)
    fn = entry.queries()[name]
    first = sorted(tuple(r) for r in fn(spark, SF).collect())
    second = sorted(tuple(r) for r in fn(spark, SF).collect())
    assert first and first == second
    assert len(_staged() - dirs_before) == 2, "one scratch dir per call"

    entry.kg_cache_clear()
    assert not _staged() - dirs_before, "scratch dirs left behind"
    assert not _tables(spark) - tables_before, "catalog tables left behind"
