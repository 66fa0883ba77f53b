"""Writes one seeded KG input corpus as parquet, without a JVM.

The small tables come from the program's own generators:
``synth.synth_authority``, ``synth.synth_redirects`` and
``synth.synth_blacklist`` are called with a stand-in for the session
that hands back the rows they would load, and those rows are written
with pyarrow.

``synth.synth_pages`` is a Spark plan, so the pages are rendered here in
plain Python with its shape (Common-Crawl-style html of ``html_kb`` KB,
a head entity in ~10 % of pages, 1-5 agent mentions with viaf / lcnaf /
plain hints, subject blocks, names absent from the authority, 70 %
pre-extracted text), drawn from ``random.Random(seed)``; the names are
``synth.authority_records``. Generating them through Spark would cost a
JVM start and ~25 s of cold jobs in every run (35 s per corpus on a
4-core host), more than a third of the time a run is given.

The same arguments give the same files. Output goes to a temporary
sibling renamed into place last, so an interrupted run never leaves a
half-written corpus behind.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from serialization_agents_spark import synth

PAGE_FILES = 8
N_NOISE = 50
HEAD = (
    "<html><head><title>Example</title><script>track();</script>"
    "<style>.x{}</style></head><body>"
)
TAIL = synth.AD_HTML + synth.FOOTER_HTML + "</body></html>"
PAD_UNIT = "lorem ipsum dolor sit amet consetetur sadipscing elitr sed diam nonumy "


class _Rows:
    """Stands in for the session argument of synth's small-table
    generators: `createDataFrame` returns what it was given."""

    @staticmethod
    def createDataFrame(data, schema):
        return data, schema


def _arrow(data, schema) -> pa.Table:
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, pd.DataFrame):
        return pa.Table.from_pandas(data, schema=arrow_schema, preserve_index=False)
    names = schema.fieldNames()
    return pa.Table.from_pylist([dict(zip(names, r)) for r in data], schema=arrow_schema)


def _mention(name: str, viaf: str | None, lc: str | None, mode: int) -> tuple[str, str]:
    # synth._mention_html / _mention_text
    if mode == 1:
        span = f'<span class="agent" data-viaf="{viaf}">{name}</span>'
    elif mode == 2 and lc is not None:
        span = (
            '<span class="agent" '
            f'data-lcnaf="http://id.loc.gov/authorities/names/{lc}">{name}</span>'
        )
    else:
        span = f'<span class="agent">{name}</span>'
    return f"<p>Work by {span} reviewed.</p>", f"Work by {name} reviewed."


def pages_table(seed: int, n_pages: int, n_auth: int, html_kb: int) -> pa.Table:
    auth = synth.authority_records(n_auth)
    rng = random.Random(seed)
    padding = (PAD_UNIT * max(1, (html_kb * 1024) // len(PAD_UNIT))).rstrip()
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    cols = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}

    def pick() -> dict:
        u = rng.random()
        return auth[int(u * u * n_auth)]  # quadratic skew toward low indices

    def hinted(a: dict) -> tuple[str, str]:
        draw = rng.randrange(100)
        mode = 1 if draw < 60 else 2 if draw < 75 else 0
        return _mention(a["_display"], a["viaf_id"], a["lc_id"], mode)

    for i in range(n_pages):
        parts = []
        if rng.randrange(100) < 10:
            head = auth[0]
            parts.append(_mention(head["_display"], head["viaf_id"], None,
                                  1 if rng.randrange(100) < 60 else 0))
        parts.append(hinted(pick()))
        second, subject = pick(), pick()
        if rng.randrange(100) < 60:
            parts.append(hinted(second))
        if rng.randrange(100) < 25:
            parts.append(_mention(f"Unlisted Person {rng.randrange(N_NOISE)}", "", None, 0))
        if rng.randrange(100) < 20:
            name = subject["_display"]
            parts.append((
                f'<p>Subjects: <span class="subject" data-type="name">{name}</span></p>',
                f"Subjects: {name}",
            ))
        if rng.randrange(100) < 10:
            t = rng.randrange(20)
            parts.append((
                f'<p>Theme: <span class="subject" data-type="topic">Topic T{t}</span></p>',
                f"Theme: Topic T{t}",
            ))
        filler = f"Page {i} of the example archive."
        html = "".join(
            [HEAD, synth.NAV_HTML] + [h for h, _ in parts]
            + [f"<p>{filler}</p>", f"<p>{padding}</p>", TAIL]
        )
        text = " ".join([t for _, t in parts] + [filler, padding])
        lang = rng.randrange(100)
        cols["url"].append(f"https://example.org/site{i % 1000}/page{i}")
        cols["warc_ts"].append(epoch + dt.timedelta(seconds=i % 86400))
        cols["html"].append(html.encode())
        cols["text"].append(text if rng.randrange(100) < 70 else None)
        cols["lang"].append("en" if lang < 85 else "de" if lang < 90 else "fr" if lang < 95 else "es")
    return pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    })


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def write(dest: str, seed: int, n_pages: int, n_auth: int, html_kb: int) -> None:
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tables = {
        "authority": _arrow(*synth.synth_authority(_Rows, n_auth)),
        "redirects": _arrow(*synth.synth_redirects(_Rows)),
        "blacklist": _arrow(*synth.synth_blacklist(_Rows)),
    }
    for name, table in tables.items():
        os.makedirs(os.path.join(tmp, name))
        pq.write_table(table, os.path.join(tmp, name, "part-00000.parquet"))

    os.makedirs(os.path.join(tmp, "pages"))
    pages = pages_table(seed, n_pages, n_auth, html_kb)
    step = -(-n_pages // PAGE_FILES)
    for k in range(PAGE_FILES):
        pq.write_table(
            pages.slice(k * step, step),
            os.path.join(tmp, "pages", f"part-{k:05d}.parquet"),
        )
    manifest = {
        "seed": seed,
        "n_pages": n_pages,
        "n_auth": n_auth,
        "html_kb": html_kb,
        "pages_bytes": dir_bytes(os.path.join(tmp, "pages")),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, dest)
