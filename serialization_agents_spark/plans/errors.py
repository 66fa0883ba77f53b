"""S15 — per-row failure side table (the reference's `db.logError`,
/root/reference/lib/utils.js:238: every failure path logs
(source, id, reason) into an errors collection for later audit).

The Spark translation is a union of per-stage error DataFrames with a
fixed (stage, url, reason, detail) schema, written as `_errors` next to
the pipeline outputs. Rows currently captured:

- extract: pages whose html decodes to empty text ("no mentions can
  possibly be detected" — the audit trail for silent F2 drops);
- link/blacklist: mentions dropped by the junk-name anti-join (F6);
- link/dead_viaf: hints whose redirect chase ends nowhere (S11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import StringType, StructField, StructType

ERRORS = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("url", StringType(), True),
        StructField("reason", StringType(), False),
        StructField("detail", StringType(), True),
    ]
)


def _as_errors(df: DataFrame, stage: str, reason: str, url_col, detail_col) -> DataFrame:
    return df.select(
        F.lit(stage).alias("stage"),
        url_col.cast(StringType()).alias("url"),
        F.lit(reason).alias("reason"),
        detail_col.cast(StringType()).alias("detail"),
    )


def extract_errors(pages_with_text: DataFrame) -> DataFrame:
    """Pages whose extracted text is empty/NULL — undecodable or
    boilerplate-only html."""
    bad = pages_with_text.where(
        F.col("text").isNull() | (F.length(F.trim(F.col("text"))) == 0)
    )
    return _as_errors(
        bad, "extract", "empty_text",
        F.col("url"), F.when(F.col("html").isNull(), "null_html"),
    )


def blacklist_errors(mentions: DataFrame, blacklist: DataFrame | None) -> DataFrame:
    """Mentions the F6 anti-join will drop (reference blacklist check,
    lib/tms_serialize_objects_agents.js:211)."""
    if blacklist is None:
        return mentions.limit(0).select(
            F.lit("link").alias("stage"), F.col("url"),
            F.lit("blacklisted_name").alias("reason"),
            F.col("name_raw").alias("detail"),
        )
    hits = mentions.join(
        broadcast(blacklist.withColumnRenamed("name", "name_raw")), "name_raw", "left_semi"
    )
    return _as_errors(hits, "link", "blacklisted_name", F.col("url"), F.col("name_raw"))


def dead_viaf_errors(dead: DataFrame) -> DataFrame:
    """S11 side-output rows as audit errors."""
    return _as_errors(dead, "link", "dead_viaf", F.col("url"), F.col("dead_viaf"))


def pipeline_errors(
    pages_with_text: DataFrame,
    mentions: DataFrame,
    dead: DataFrame,
    blacklist: DataFrame | None = None,
) -> DataFrame:
    """Union of the batch pipeline's error channels."""
    return (
        extract_errors(pages_with_text)
        .unionByName(blacklist_errors(mentions, blacklist))
        .unionByName(dead_viaf_errors(dead))
    )
