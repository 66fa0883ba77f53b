"""Source connectors: schema enforcement, partition pruning, and format
round-trips."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from serialization_agents_spark import synth
from serialization_agents_spark.sources import (
    read_authority,
    read_blacklist,
    read_pages,
    read_redirects,
)


def write_pages_partitioned(pages, path: str, fmt: str = "parquet") -> None:
    """Write the corpus partitioned by crawl day (`crawl_date=` dirs), in
    the layout and text-format interchange `read_pages` reads."""
    out = pages.withColumn("crawl_date", F.to_date("warc_ts"))
    if fmt == "parquet":
        out.write.mode("overwrite").partitionBy("crawl_date").parquet(path)
        return
    # column order pinned to read_pages' supplied schema — csv maps
    # columns POSITIONALLY (json by name), so writer and reader must
    # agree on order, not just names
    txt = out.withColumn("html_b64", F.base64("html")).select(
        "url", "warc_ts", "html_b64", "text", "lang", "crawl_date"
    )
    writer = txt.write.mode("overwrite").partitionBy("crawl_date")
    if fmt == "json":
        writer.json(path)
    else:
        # escape='"' = standard doubled-quote CSV, matching read_pages
        writer.option("header", "true").option("escape", '"').csv(path)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages(spark):
    return synth.synth_pages(spark, n_pages=60, n_auth=20, html_kb=1)


def test_parquet_roundtrip_and_partition_pruning(spark, pages, tmp_path):
    path = str(tmp_path / "pages_parquet")
    write_pages_partitioned(pages, path)
    back = read_pages(spark, path)
    assert back.count() == 60
    # date-range read must prune at the source listing, not post-scan
    pruned = read_pages(spark, path, dates=("2024-01-01", "2024-01-01"))
    plan = _plan(pruned.select("url"))
    assert "PartitionFilters" in plan and "crawl_date" in plan
    assert pruned.count() == 60  # whole synthetic corpus is one crawl day


def test_json_roundtrip_preserves_html_bytes(spark, pages, tmp_path):
    path = str(tmp_path / "pages_json")
    write_pages_partitioned(pages, path, fmt="json")
    back = read_pages(spark, path, fmt="json")
    want = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    got = {r["url"]: bytes(r["html"]) for r in back.collect()}
    assert got == want  # base64 interchange is byte-exact


@pytest.mark.parametrize(
    "reader",
    [read_pages, read_authority, read_redirects, read_blacklist],
    ids=["pages", "authority", "redirects", "blacklist"],
)
def test_schema_enforcement_fails_loudly(spark, tmp_path, reader):
    path = str(tmp_path / "not_a_source")
    spark.range(3).write.mode("overwrite").parquet(path)
    with pytest.raises(ValueError, match="missing columns"):
        reader(spark, path)


def test_csv_roundtrip_preserves_bytes_and_prunes(spark, pages, tmp_path):
    """ADVICE round-3: csv was advertised but had no producer. Round-trip
    the base64 interchange (html byte-exact, text with embedded newlines
    survives via multiLine quoting) and prune on the crawl_date
    partition."""
    path = str(tmp_path / "pages_csv")
    # adversarial text: embedded newline, quote, comma (synth text is NULL)
    hard = pages.withColumn(
        "text", F.concat(F.lit('line1\nline2 "q", comma\t'), F.col("url"))
    )
    write_pages_partitioned(hard, path, fmt="csv")
    back = read_pages(spark, path, fmt="csv")
    want = {r["url"]: (bytes(r["html"]), r["text"]) for r in hard.collect()}
    got = {r["url"]: (bytes(r["html"]), r["text"]) for r in back.collect()}
    assert got == want
    pruned = read_pages(spark, path, fmt="csv", dates=("2024-01-01", "2024-01-01"))
    assert pruned.count() == 60
