"""Pure-Python oracle implementation of the full KG pipeline.

Independent (no Spark) re-implementation of the same semantics, used by
the end-to-end test to compute precision/recall of the Spark pipeline's
triples (gate: P/R >= 0.95, BASELINE.json north_rule). Keep this file
boring and obviously-correct: dicts, loops, union-find.

Semantics mirrored 1:1 from the operators (which in turn cite the
reference): markup mention regexes over the raw html
(operators/mentions.py), redirect chase + viaf/name linking with
string_score top-1 (operators/linking.py), priority merge
(operators/merge.py), connected-components closure + scalar backfill
(operators/canonicalize.py), triple materialization (operators/triples.py).
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from references import fuzzy_score_py
from serialization_agents_spark.functions.normalize import normalize_name_py

MARKUP_VIAF_RE = re.compile(r'<span class="agent" data-viaf="([^"]*)">([^<]+)</span>')
MARKUP_LCNAF_RE = re.compile(r'<span class="agent" data-lcnaf="([^"]*)">([^<]+)</span>')
MARKUP_PLAIN_RE = re.compile(r'<span class="agent">([^<]+)</span>')
MARKUP_SUBJECT_NAME_RE = re.compile(
    r'<span class="subject" data-type="name">([^<]+)</span>'
)
LCNAF_URI_ID_RE = re.compile(r'/names/([^/"]+)$')


def no_viaf_key(name_norm: str) -> str:
    return "noViaf:" + hashlib.md5(name_norm.encode("utf-8")).hexdigest()[:16]


class _UF:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra


def run_oracle(
    pages_rows,
    authority_rows,
    redirect_rows=(),
    blacklist_names=(),
    lang_filter=None,
):
    """Returns (canonical_agents: list[dict], triples: set[tuple])."""
    blacklist = set(blacklist_names)
    # redirect routing mirrors operators/linking.py:resolve_redirects —
    # a redirect target resolves the viaf hint; a deleted id with a
    # mads:useInstead LC authority routes into the LCNAF (J2) lookup;
    # a dead id drops the hint (mention falls through to the name pass).
    redirects = {
        r["old_id"]: (r["new_id"], r["use_instead_lc"]) for r in redirect_rows
    }
    by_viaf = {}
    by_lc = {}
    by_name = defaultdict(list)
    for a in authority_rows:
        for vid in a["viaf_all"] or []:
            by_viaf.setdefault(vid, a)
        if a["lc_id"]:
            by_lc.setdefault(a["lc_id"], a)
        for n in a["normalized"] or []:
            by_name[n].append(a)

    # ---- extract + detect + link ---------------------------------------
    linked = []  # dict(url, name_raw, name_norm, entity_key, auth, prio)
    for p in pages_rows:
        if lang_filter is not None and p["lang"] != lang_filter:
            continue
        html = p["html"]
        html_s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else (html or "")
        # (viaf_hint, lc_hint, name, source_priority); P3 LCNAF spans
        # carry the id.loc URI's trailing id, P4 name-typed subjects are
        # promoted at priority 2 (topic-typed ones never match this re).
        mentions = [
            (v or None, None, n, 1) for v, n in MARKUP_VIAF_RE.findall(html_s)
        ]
        for uri, n in MARKUP_LCNAF_RE.findall(html_s):
            m = LCNAF_URI_ID_RE.search(uri)
            mentions.append((None, m.group(1) if m else None, n, 1))
        mentions += [(None, None, n, 1) for n in MARKUP_PLAIN_RE.findall(html_s)]
        mentions += [
            (None, None, n, 2) for n in MARKUP_SUBJECT_NAME_RE.findall(html_s)
        ]
        for viaf_hint, lc_hint, name_raw, prio in mentions:
            if name_raw in blacklist:
                continue
            name_norm = normalize_name_py(name_raw)
            if not name_norm:
                continue
            resolved = viaf_hint
            if viaf_hint and viaf_hint in redirects:
                new_id, use_instead_lc = redirects[viaf_hint]
                resolved = new_id
                if new_id is None and use_instead_lc:
                    lc_hint = lc_hint or use_instead_lc
            auth = by_viaf.get(resolved) if resolved else None
            if auth is None and lc_hint:
                auth = by_lc.get(lc_hint)  # J2 — only when J1 missed
            if auth is None:
                # name-block + fuzzy top-1 (tie: lowest viaf_id)
                cands = by_name.get(name_norm, [])
                best, best_key = None, None
                for c in cands:
                    term = (c["lc_term"] or c["viaf_term"] or "").lower()
                    s = fuzzy_score_py(name_norm, term)
                    key = (-s, c["viaf_id"])
                    if best_key is None or key < best_key:
                        best, best_key = c, key
                auth = best
            entity_key = (
                f"viaf:{auth['viaf_id']}" if auth is not None else no_viaf_key(name_norm)
            )
            linked.append(
                dict(
                    url=p["url"], name_raw=name_raw, name_norm=name_norm,
                    entity_key=entity_key, auth=auth, prio=prio,
                )
            )

    # ---- within-record dedupe + merge per entity ------------------------
    seen = set()
    facts = []
    for m in linked:
        k = (m["url"], m["entity_key"], m["name_raw"])
        if k in seen:
            continue
        seen.add(k)
        facts.append(m)

    def strip_spirit(s):
        return re.sub(r"(?i)\s\(Spirit\)", "", s) if s else s

    entities = {}
    for m in facts:
        e = entities.setdefault(
            m["entity_key"],
            dict(
                entity_key=m["entity_key"], name_prefs=[], auth=None,
                name_norms=set(), alt_names=set(), urls=set(), prio=m["prio"],
            ),
        )
        e["prio"] = min(e["prio"], m["prio"])
        a = m["auth"]
        if a is not None:
            e["auth"] = a
            if a["lc_term"]:
                e["name_prefs"].append((1, strip_spirit(a["lc_term"])))
            elif a["viaf_term"]:
                e["name_prefs"].append((2, a["viaf_term"]))
            else:
                e["name_prefs"].append((3, m["name_raw"]))
        else:
            e["name_prefs"].append((3, m["name_raw"]))
        e["name_norms"].add(m["name_norm"])
        e["alt_names"].add(m["name_raw"])
        e["urls"].add(m["url"])

    agents = []
    for e in entities.values():
        a = e["auth"]
        name_controlled = min(e["name_prefs"])[1]
        typ = (
            a["type"].lower()
            if a is not None and a["type"]
            else ("corporate" if "&" in name_controlled else "personal")
        )
        agents.append(
            dict(
                entity_key=e["entity_key"],
                is_controlled=a is not None,
                name_controlled=name_controlled,
                viaf=list(a["viaf_all"]) if a is not None else [],
                wikidata=a["wikidata_id"] if a else None,
                lc_id=a["lc_id"] if a else None,
                dbpedia=a["dbpedia_id"] if a else None,
                type=typ,
                alt_names=set(e["alt_names"]),
                urls=set(e["urls"]),
                source_priority=e["prio"],
                primary_source="web" if e["prio"] == 1 else "web_subject",
            )
        )

    # ---- connected components (name + shared viaf ids) ------------------
    uf = _UF()
    for ag in agents:
        node = "E:" + ag["entity_key"]
        uf.union(node, "name:" + (normalize_name_py(ag["name_controlled"]) or ""))
        for vid in ag["viaf"]:
            uf.union(node, "viaf:" + vid)

    comps = defaultdict(list)
    for ag in agents:
        comps[uf.find("E:" + ag["entity_key"])].append(ag)

    canonical = []
    for members in comps.values():
        members.sort(key=lambda g: (not g["is_controlled"], g["source_priority"], g["entity_key"]))
        head = members[0]
        merged = dict(
            entity_key=head["entity_key"],
            is_controlled=any(g["is_controlled"] for g in members),
            name_controlled=head["name_controlled"],
            type=next((g["type"] for g in members if g["type"]), None),
            wikidata=next((g["wikidata"] for g in members if g["wikidata"]), None),
            lc_id=next((g["lc_id"] for g in members if g["lc_id"]), None),
            dbpedia=next((g["dbpedia"] for g in members if g["dbpedia"]), None),
            viaf=sorted({v for g in members for v in g["viaf"]}),
            alt_names=set().union(*[g["alt_names"] for g in members]),
            urls=set().union(*[g["urls"] for g in members]),
            # (source, id) member lineage, lib/utils.js:290-297
            merge_source=sorted(
                (g["primary_source"], g["entity_key"])
                for g in members
                if g["entity_key"] != head["entity_key"]
            ),
        )
        canonical.append(merged)

    # ---- triples ---------------------------------------------------------
    triples = set()
    for g in canonical:
        subj = "registry:agent/" + g["entity_key"]
        triples.add(
            (subj, "rdf:type",
             "foaf:Organization" if g["type"] == "corporate" else "foaf:Person")
        )
        if g["name_controlled"]:
            triples.add((subj, "skos:prefLabel", g["name_controlled"]))
        for n in g["alt_names"]:
            if n != g["name_controlled"]:
                triples.add((subj, "skos:altLabel", n))
        for vid in g["viaf"]:
            triples.add((subj, "owl:sameAs", "http://viaf.org/viaf/" + vid))
        for col, prefix in [
            ("wikidata", "http://www.wikidata.org/entity/"),
            ("dbpedia", "http://dbpedia.org/resource/"),
            ("lc_id", "http://id.loc.gov/authorities/names/"),
        ]:
            if g[col]:
                triples.add((subj, "owl:sameAs", prefix + g[col]))
        for url in g["urls"]:
            triples.add((url, "dct:contributor", subj))
    return canonical, triples
