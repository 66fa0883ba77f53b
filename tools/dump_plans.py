"""Dump .explain('formatted') for named queries() entries to
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence files
(guide §7.2). Usage:

    python tools/dump_plans.py <tag> <suffix> [sf_dir] [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from serialization_agents_spark.session import get_spark  # noqa: E402


def main():
    tag, suffix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:]
    out_dir = os.path.join(REPO_ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-dump", shuffle_partitions=32)
    qs = entrymod.queries()
    for name in names:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, sf_dir).explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    entrymod.kg_cache_clear()


if __name__ == "__main__":
    main()
