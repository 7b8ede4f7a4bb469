"""Output checks: compare what the program produced with the generator's
expected outputs (gen.py).  Pure Python over rows the worker collected,
so a check never depends on the Spark path it is checking.

Every function returns ``(errors, details)``: ``errors`` is the number of
input records whose output is missing, extra or different (the numerator
of ``doc_error_ratio``), ``details`` a few examples for the log.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
from collections import defaultdict
from pathlib import Path

from gen import SEP_FIELD, doc_digest


def check_extraction(expected: dict, main_rows, robots_ids, pdf_ids):
    """``main_rows``: (doc_id, row_digest) per demux row; ``robots_ids``
    / ``pdf_ids``: doc ids of the side routes.  Each record must sit on
    exactly its expected route, and a kept record's rows must digest to
    the expected text, language and spans."""
    got = defaultdict(list)
    for doc_id, rd in main_rows:
        got[doc_id].append(rd)
    robots, pdf = set(robots_ids), set(pdf_ids)
    bad = set()
    for doc_id in set(got) | robots | pdf:
        if doc_id not in expected:
            bad.add(doc_id)
    for doc_id, exp in expected.items():
        route = exp["route"]
        if (doc_id in robots) != (route == "robots") or \
                (doc_id in pdf) != (route == "pdf"):
            bad.add(doc_id)
        elif route == "main":
            if doc_digest(got.get(doc_id, ())) != exp["digest"]:
                bad.add(doc_id)
        elif doc_id in got:
            bad.add(doc_id)
    return len(bad), sorted(bad)[:5]


def read_compat_output(out_dir: Path):
    """(url, lang, text) per line of the reference's positional layout:
    ``<out>/<lang>/url.gz`` and base64 ``text.gz``, line i of each file
    describing the same record."""
    rows = []
    for lang_dir in sorted(p for p in out_dir.iterdir() if p.is_dir()):
        for url_file in sorted(lang_dir.glob("url*.gz")):
            text_file = lang_dir / url_file.name.replace("url", "text", 1)
            with gzip.open(url_file, "rt", encoding="utf-8") as f:
                urls = f.read().splitlines()
            with gzip.open(text_file, "rt", encoding="ascii") as f:
                texts = f.read().splitlines()
            if len(urls) != len(texts):
                raise ValueError(f"{lang_dir.name}: {len(urls)} urls, "
                                 f"{len(texts)} texts")
            rows.extend((u, lang_dir.name,
                         base64.b64decode(t).decode("utf-8"))
                        for u, t in zip(urls, texts))
    return rows


def check_compat(expected: dict, rows):
    """Per URL: one line in the right language directory whose text
    digests to the expected text."""
    got = defaultdict(list)
    for url, lang, text in rows:
        got[url].append(hashlib.sha256(
            (lang + SEP_FIELD + text).encode()).hexdigest())
    bad = {u for u in got if u not in expected}
    for url, exp in expected.items():
        if got.get(url) != [exp["digest"]]:
            bad.add(url)
    return len(bad), sorted(bad)[:5]


def components(pairs):
    """Union-find over a pair list -> {doc: min doc id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(expected: dict, docs, mh_pairs, clusters, sh_pairs,
                max_hamming: int = 3):
    """LSH candidates may hold extra pairs (hash collisions), so the
    check is: every expected clone pair is a MinHash and a SimHash
    candidate; every SimHash pair is ordered and within ``max_hamming``;
    the components equal the union-find components of the MinHash pairs;
    every clone group and the hot set each sit in one component."""
    bad = set()
    docs = set(docs)
    mh = {(a, b) for a, b in mh_pairs}
    sh = set()
    for a, b, h in sh_pairs:
        if not a < b or h > max_hamming or a not in docs or b not in docs:
            bad.update((a, b))
        sh.add((a, b))
    for a, b in mh:
        if not a < b or a not in docs or b not in docs:
            bad.update((a, b))
    for a, b in expected["clone_pairs"]:
        if (a, b) not in mh or (a, b) not in sh:
            bad.update((a, b))
    want = components(mh)
    got = dict(clusters)
    for d in set(want) | set(got):
        if want.get(d) != got.get(d):
            bad.add(d)
    for group in expected["clone_groups"] + [expected["hot"]]:
        labels = {got.get(d) for d in group}
        if len(labels) != 1 or None in labels:
            bad.update(group)
    return len(bad), sorted(bad)[:5]
