"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (multi-executor cluster over ~100 TB of
Common-Crawl-style pages) while remaining correct on local[N] test runs:

- AQE on (runtime coalescing, skew-join splitting);
- Arrow execution for pandas UDFs (the only Python hot path we allow);
- shuffle partitions sized by caller (tests: 32; cluster: ~2-4x cores).

Two defaults skip one-time start-up work that no pipeline output depends
on; each process (every KG build runs in a fresh one) paid it:

- ``spark.sql.icu.caseMappings.enabled=false``: ``lower()``/``upper()``
  use ``UTF8String``'s own case mapping (an ASCII fast path, else
  ``String.toLowerCase``) instead of ICU. The ICU path's class init
  builds a title-case table through ICU's BreakIterator; the first
  ``lower()`` of a build (``normalize_name_expr``, in the mention scan)
  paid it while every other executor thread waited. Both paths follow
  the JVM default locale (ICU's one-argument ``toLowerCase`` reads it
  too), so this adds no locale dependence; ``normalize_name_expr`` and
  ``fuzzy_score_expr`` give the same values under both (swept in
  tests/test_normalize.py).
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark no
  longer wraps each Column/DataFrame call to capture its Python call
  site (a conf round-trip, a stack walk, an IPython import probe and an
  origin round-trip per call; a build makes hundreds). The one loss: an
  analysis error's context no longer names the Python file and line.

Both are builder defaults, so ``extra_conf`` overrides them; a session
that already exists keeps its own settings and gives the same results.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "serialization-agents-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``$SPARK_GRAFT_MASTER`` or ``local[N]`` where N
    is ``$SPARK_GRAFT_CPUS`` (default 32). On a real cluster, pass
    ``master="inherit"`` (what runner.py does): the builder then never
    calls ``.master()``, so the value spark-submit injected via
    ``spark.master`` wins instead of being overridden by the local
    default.

    A live session is reused as it is, with only the confs the caller
    passed (``shuffle_partitions``, ``extra_conf``) applied to it: the
    defaults below never overwrite what its owner set.
    """
    explicit = {}
    if shuffle_partitions is not None:
        explicit["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    explicit.update(extra_conf or {})
    if SparkSession.getActiveSession() is not None:
        return SparkSession.builder.config(map=explicit).getOrCreate()

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_default = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )

    builder = SparkSession.builder.appName(app_name)
    if master != "inherit":
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_default))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # pages.html is binary and wide; keep scan splits at the default
        # 128 MiB so executor memory holds ~2 batches per core at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(map=explicit)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
