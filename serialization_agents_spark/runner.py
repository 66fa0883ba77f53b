"""spark-submit entry point — the north-rule deployment shape.

The reference runs as a Node process over Mongo cursors
(/root/reference/index.js); at cluster scale the same job ships as

    spark-submit --master <cluster> \
        --py-files serialization_agents_spark.zip \
        runner.py --pages s3://corpus/pages --authority s3://dims/authority \
        --out-dir s3://kg/run42 [--redirects ...] [--blacklist ...] \
        [--lang en] [--dates 2024-01-01 2024-01-31] [--agents-table kg.agents]

where the zip is built by `python tools/package_pyfiles.py` and this file
is the primary script (it imports the package from the shipped zip).
Nothing here hand-schedules: the driver declares the pipeline
(plans/pipeline.run_pipeline) and the cluster's Catalyst/AQE pick the
physical plan at whatever executor count spark-submit provides — the
N-vs-4N criterion needs zero code changes between cluster sizes.

Resume is free: re-submitting with the same --out-dir skips every stage
whose _SUCCESS marker exists (one lineage row per stage in
<out>/_metrics carries its count + checksum for the audit trail).

Exit contract: prints one JSON summary line on success (stage rows,
resume status, cc iterations) and exits non-zero on any failure, so a
workflow scheduler can gate downstream jobs on it. The stage rows are
read from <out>/_metrics, written as each stage was, never recounted;
a stage past --until reports None. `cc_iterations` counts the
iterations THIS run performed: 0 when the `canonical` stage was resumed
or no merge key is shared, 1 for the driver union-find that runs up to
BROADCAST_LABELS_MAX active edges (operators/canonicalize.py), the
hash-to-min round count above that.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="serialization-agents-spark",
        description="KG construction pipeline (extract -> link -> "
        "canonicalize -> triples) over a page corpus",
    )
    p.add_argument("--pages", required=True, help="page corpus path")
    p.add_argument(
        "--pages-format", default="parquet", choices=("parquet", "json", "csv")
    )
    p.add_argument("--authority", required=True, help="authority snapshot path")
    p.add_argument("--redirects", help="viaf redirects snapshot path")
    p.add_argument("--blacklist", help="name blacklist path")
    p.add_argument("--out-dir", required=True, help="stage output root")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--lang", help="language gate (F1 analogue)")
    p.add_argument(
        "--dates", nargs=2, metavar=("START", "END"),
        help="crawl_date partition range, YYYY-MM-DD inclusive",
    )
    p.add_argument(
        "--agents-table",
        help="persist the agents stage as a catalog table bucketed on "
        "entity_key (zero-shuffle maintenance joins)",
    )
    p.add_argument(
        "--until", default="triples",
        choices=("extract", "mentions", "linked", "agents", "canonical",
                 "triples"),
        help="stop after this stage (agents-table maintenance runs pass "
        "--until agents and skip CC/triples entirely)",
    )
    p.add_argument(
        "--master",
        default="inherit",
        help="Spark master override; default inherits what spark-submit "
        "set (local runs: pass e.g. local[8])",
    )
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)

    from serialization_agents_spark.plans.pipeline import run_pipeline
    from serialization_agents_spark.schemas import LINEAGE_METRICS
    from serialization_agents_spark.session import get_spark
    from serialization_agents_spark.sources.pages import (
        read_authority,
        read_blacklist,
        read_pages,
        read_redirects,
    )

    spark = get_spark(
        app_name=f"serialization-agents-{args.run_id}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    pages = read_pages(
        spark, args.pages, fmt=args.pages_format,
        dates=tuple(args.dates) if args.dates else None,
    )
    authority = read_authority(spark, args.authority)
    redirects = read_redirects(spark, args.redirects) if args.redirects else None
    blacklist = read_blacklist(spark, args.blacklist) if args.blacklist else None

    res = run_pipeline(
        spark,
        pages,
        authority,
        redirects=redirects,
        blacklist=blacklist,
        lang_filter=args.lang,
        out_dir=args.out_dir,
        run_id=args.run_id,
        agents_table=args.agents_table,
        until=args.until,
    )
    rows = dict(
        spark.read.schema(LINEAGE_METRICS)
        .parquet(os.path.join(args.out_dir, "_metrics"))
        .select("stage", "row_count")
        .collect()
    )

    def n_rows(stage: str, df) -> int | None:
        return rows.get(stage) if df is not None else None

    summary = {
        "run_id": args.run_id,
        "out_dir": args.out_dir,
        "until": args.until,
        "n_triples": n_rows("triples", res.triples),
        "n_entities": n_rows("canonical", res.canonical),
        "n_agents": n_rows("agents", res.agents),
        "cc_iterations": res.cc_iterations,
        "stages_computed": res.stages_computed,
        "stages_resumed": res.stages_resumed,
    }
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
