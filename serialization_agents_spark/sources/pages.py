"""Source connectors: schema-enforced readers/writers for the page corpus
and the authority dimensions.

The reference pulls from MongoDB collections and live VIAF/LCNAF HTTP
(/root/reference/lib/db.js, lib/viaf.js:11-128); at 10^12 documents those
become table scans of a lakehouse corpus plus small snapshot dimensions.
These helpers pin three things every scan at that scale depends on:

1. **Schema enforcement** — every reader applies the canonical
   StructType (schemas.PAGES / AUTHORITY / VIAF_REDIRECTS /
   NAME_BLACKLIST), so drift in the underlying files fails loudly at
   plan time, not 3 stages later, and json/csv readers never pay
   inference scans over 100 TB.
2. **Partition layout** — a corpus laid out by crawl date
   (`crawl_date=` dirs of the `warc_ts` day, the natural ingestion key)
   is read with `dates=`, so date-ranged jobs prune partitions at the
   source (verify: PartitionFilters in `.explain`), which is the
   difference between scanning a day and scanning the archive.
3. **Streaming parity** — `read_pages_stream` is the same schema over
   `readStream` (used by streaming/stateful.py), so batch and
   streaming jobs cannot diverge on input interpretation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from serialization_agents_spark import schemas

PAGE_FORMATS = ("parquet", "json", "csv")


def _conform(df: DataFrame, schema: StructType, what: str, path: str) -> DataFrame:
    """Select `schema`'s columns from `df`; raise ValueError naming the
    missing ones if any are absent."""
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"{what} at {path} missing columns: {missing}")
    return df.select([f.name for f in schema.fields])


def read_pages(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    dates: tuple[str, str] | None = None,
) -> DataFrame:
    """Read a page corpus with the canonical schema applied.

    parquet: schema asserted column-by-column (pushdown + pruning intact);
    json/csv: schema SUPPLIED (no inference pass). csv cannot carry raw
    binary html; it is read as a base64 string column `html_b64` and
    decoded (the interchange convention for json and csv alike; csv
    columns are positional, in the order of the supplied schema).

    `dates=(start, end)` (inclusive, 'YYYY-MM-DD') filters on the
    `crawl_date` PARTITION column of a corpus laid out by crawl day —
    the filter prunes at the source listing (PartitionFilters in
    `.explain`), which a predicate on `warc_ts` cannot do.
    """
    if fmt == "parquet":
        df = spark.read.parquet(path)
        if dates is not None:
            if "crawl_date" not in df.columns:
                raise ValueError(f"pages at {path} are not date-partitioned")
            df = df.where(F.col("crawl_date").between(*dates))
        return _conform(df, schemas.PAGES, "pages", path)
    # html travels base64-encoded in text formats
    txt_schema = "url string, warc_ts timestamp, html_b64 string, text string, lang string"
    if fmt == "json":
        df = spark.read.schema(txt_schema).json(path)
    elif fmt == "csv":
        # multiLine: page text legitimately embeds newlines inside quotes.
        # (Costs input-split parallelism — csv is an interchange path, not
        # the scale path; 100 TB corpora live in parquet.)
        df = (
            spark.read.schema(txt_schema)
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .csv(path)
        )
    else:
        raise ValueError(f"unknown pages format {fmt!r}; one of {PAGE_FORMATS}")
    if dates is not None:
        # crawl_date is a discovered partition column (appended by Spark
        # beyond the supplied schema) of a crawl-day layout; prunes at the
        # source listing.
        if "crawl_date" not in df.columns:
            raise ValueError(f"pages at {path} are not date-partitioned")
        df = df.where(F.col("crawl_date").between(*dates))
    return df.select(
        "url", "warc_ts",
        F.unbase64("html_b64").alias("html"),
        "text", "lang",
    )


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """The streaming twin of read_pages (parquet only): same schema, file
    -discovery micro-batches of 2 files (used by streaming/stateful.py)."""
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


def read_authority(spark: SparkSession, path: str) -> DataFrame:
    """Authority snapshot dimension (the VIAF cluster table the reference
    queries live, lib/utils.js:75-77) — schema-checked parquet."""
    return _conform(spark.read.parquet(path), schemas.AUTHORITY, "authority", path)


def read_redirects(spark: SparkSession, path: str) -> DataFrame:
    """VIAF redirects snapshot (stands in for live redirect chasing,
    lib/viaf.js:57-101)."""
    return _conform(
        spark.read.parquet(path), schemas.VIAF_REDIRECTS, "redirects", path
    )


def read_blacklist(spark: SparkSession, path: str) -> DataFrame:
    """Junk-name blacklist (the F6 anti-join's right side,
    lib/tms_serialize_objects_agents.js:211) — schema-checked parquet."""
    return _conform(
        spark.read.parquet(path), schemas.NAME_BLACKLIST, "blacklist", path
    )
