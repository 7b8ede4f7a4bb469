"""Seeded input generator for the perfbench workloads.

One process builds one workload's input for one seed, plus the expected
output of every record, from closed-form templates: the generator knows
which template produced a record, so it knows the route the F1-F9 filters
must give it and the text and language extraction must produce, without
running any of the program's code paths.  Languages come from the langid
seed sentences (``spansgen.latin_sentences()`` and ``SCRIPT_SENTENCES``),
whose labels are fixed facts of the detector's evidence tables.

Usage:  python3 perfbench/gen.py --workload smalldoc_mixed --seed 1 --out DIR

The output directory holds the input (``input/``), ``expected.json.gz``
and ``manifest.json`` (record count, input bytes, corpus digest).
"""

from __future__ import annotations

import argparse
import base64
import gzip
import hashlib
import json
import math
import os
import random
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

# Fixed input sizes.  They are scaled so that one warm pass of each
# workload takes two to four seconds on 4 cores: a run then fits its
# set-up, a checked (cold) pass and five timed passes into about 40 s, and
# generation takes about a second per seed.
SMALLDOC_RECORDS = 8_000
WARC_FILES = 32
WARC_RECORDS = 1_200
DEDUP_DOCS = 800
DEDUP_CLONE_SHARE = 0.10
DEDUP_HOT_SHARE = 0.15
PARQUET_FILES = 16

# label of each SCRIPT_SENTENCES entry, in order (spansgen.py comments)
SCRIPT_LABELS = ("ru uk bg hi mr el ar fa ur bn pa gu ta te kn ml si th lo "
                 "my ka hy am km he zh ja ko be sr mk kk ps ug or bo dv chr "
                 "iu").split()

WORKLOADS = ("smalldoc_mixed", "warc_legacy", "dedup_hotbucket")


def sentences() -> list[tuple[str, str]]:
    from warc2text_spark.plans.spansgen import (SCRIPT_SENTENCES,
                                                latin_sentences)
    if len(SCRIPT_LABELS) != len(SCRIPT_SENTENCES):
        raise RuntimeError("SCRIPT_LABELS no longer matches SCRIPT_SENTENCES")
    return list(latin_sentences()) + list(zip(SCRIPT_LABELS,
                                              SCRIPT_SENTENCES))


# ---------------------------------------------------------------------------
# expected-output digests (shared with check.py)

SEP_ROW, SEP_FIELD, SEP_SPAN, SEP_SPANS = "\x1d", "\x1e", "\x1f", "\x1c"


def span_string(spans) -> str:
    return SEP_SPANS.join(SEP_SPAN.join((k, t, m, str(o)))
                          for k, t, m, o in spans)


def row_digest(lang: str, chunk: str, spans) -> str:
    s = SEP_FIELD.join((lang, chunk, span_string(spans)))
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def doc_digest(row_digests) -> str:
    return hashlib.sha256(
        SEP_ROW.join(sorted(row_digests)).encode()).hexdigest()


# ---------------------------------------------------------------------------
# record templates

def _doc(doc_id, spans, url, warc_type="response",
         warc_ct="application/http; msgtype=response", http_status="200 OK",
         http_ct="text/html; charset=utf-8"):
    return dict(doc_id=doc_id, url=url, warc_type=warc_type, warc_ct=warc_ct,
                http_status=http_status, http_ct=http_ct, content_enc="",
                transfer_enc="", warc_date="2024-01-01T00:00:00Z",
                spans=spans)


def _t(text, offset=0):
    return dict(kind="text", text=text, media_ref="", offset=offset)


def _m(payload: bytes, offset=0):
    return dict(kind="media", text="",
                media_ref=base64.b64encode(payload).decode("ascii"),
                offset=offset)


def _para(sentence: str, reps: int) -> str:
    return " ".join([sentence] * max(1, reps))


def _ent(text: str) -> str:
    """Entity-encode every 'e' as a numeric reference; decodes back to
    the same text, so the language label is unchanged."""
    return text.replace("e", "&#101;")


def _lognormal_bytes(rng, lo, hi, mu, sigma):
    return int(min(hi, max(lo, rng.lognormvariate(mu, sigma))))


def gen_smalldoc(rng, n=SMALLDOC_RECORDS):
    """Small records (150 B - 2 KB, lognormal), ~40% removed or
    side-routed by F2-F9 or the kernel, ~25% multi-span or
    media-interleaved, the rest single text spans."""
    sents = sentences()
    rows, expected = [], {}
    kinds = (("html", 19), ("plain", 8), ("script", 8), ("interleaved", 15),
             ("twospan", 10), ("robots", 6), ("pdf", 6), ("request", 6),
             ("status404", 6), ("warcinfo_ct", 4), ("png", 6), ("empty", 2),
             ("scriptonly", 4))
    names = [k for k, _ in kinds]
    weights = [w for _, w in kinds]
    for i in range(n):
        doc_id = f"s{i:07d}"
        kind = rng.choices(names, weights)[0]
        lang, sent = sents[rng.randrange(len(sents))]
        size = _lognormal_bytes(rng, 150, 2048, math.log(500), 0.7)
        reps = max(1, round(size / (len(sent.encode()) + 1)))
        host = f"https://h{rng.randrange(50)}.example"
        url = f"{host}/p/{doc_id}.html"
        route, spans_out = "main", None
        if kind == "html":
            p1 = _para(sent, (reps + 1) // 2)
            p2 = _para(sent, reps // 2 or 1)
            html = (f'<html><head><title>{i}</title></head><body>'
                    f'<h1 class="t">{i}</h1><p>{_ent(p1)}</p>'
                    f'<div class="c">{p2}</div></body></html>')
            row = _doc(doc_id, [_t(html)], url)
            spans_out = [("text", f"{i}\n{i}\n{p1}\n{p2}\n", "", 0)]
        elif kind == "plain":
            p = _para(sent, reps)
            body = " " + p.replace(" ", " \n ") + " "
            row = _doc(doc_id, [_t(body)], url, http_ct="text/plain")
            spans_out = [("text", p.replace(" ", "\n") + "\n", "", 0)]
        elif kind == "script":
            p = _para(sent, reps)
            html = (f'<html><body><script>var x = "{i}";</script><p>{p}</p>'
                    '<noscript>ignored words</noscript></body></html>')
            row = _doc(doc_id, [_t(html)], url, http_ct="text/html")
            spans_out = [("text", p + "\n", "", 0)]
        elif kind == "interleaved":
            p = _para(sent, reps)
            img = b"\x89PNG" + rng.randbytes(rng.randrange(24, 160))
            media = _m(img, 1)
            # stored out of order: the kernel sorts spans by offset
            row = _doc(doc_id, [_t(f"<p>{_ent(p)}</p>", 2), media,
                                _t(f"<h1>{i}</h1>", 0)], url)
            spans_out = [("text", f"{i}\n", "", 0),
                         ("media", "", media["media_ref"], 1),
                         ("text", p + "\n", "", 2)]
        elif kind == "twospan":
            p1 = _para(sent, (reps + 1) // 2)
            p2 = _para(sent, reps // 2 or 1)
            row = _doc(doc_id, [_t(f"<p>{p1}</p>", 0),
                                _t(f"<div>{p2}</div>", 1)], url)
            spans_out = [("text", p1 + "\n", "", 0),
                         ("text", p2 + "\n", "", 1)]
        elif kind == "robots":
            robots = f"User-agent: *\nDisallow: /private/{i}\n"
            row = _doc(doc_id, [_t(robots)], f"{host}/robots.txt",
                       http_ct="text/plain")
            route = "robots"
        elif kind == "pdf":
            row = _doc(doc_id, [_m(b"%PDF-1.4 " + rng.randbytes(200))],
                       f"{host}/d/{doc_id}.pdf", http_ct="application/pdf")
            route = "pdf"
        elif kind == "request":
            row = _doc(doc_id, [_t(f"<p>{sent}</p>")], url,
                       warc_type="request")
            route = "dropped"
        elif kind == "status404":
            row = _doc(doc_id, [_t(f"<p>{sent}</p>")], url,
                       http_status="404 Not Found")
            route = "dropped"
        elif kind == "warcinfo_ct":
            row = _doc(doc_id, [_t(f"<p>{sent}</p>")], url,
                       warc_ct="application/warc-fields")
            route = "dropped"
        elif kind == "png":
            row = _doc(doc_id, [_t(f"<p>{sent}</p>")],
                       f"{host}/img/{doc_id}.png")
            route = "dropped"
        elif kind == "empty":
            row = _doc(doc_id, [], url)
            route = "dropped"
        else:  # scriptonly: the kernel extracts nothing, F14 drops it
            row = _doc(doc_id, [_t(f"<div><script>x{i}</script></div>")], url)
            route = "dropped"
        rows.append(row)
        expected[doc_id] = _expect(route, lang, spans_out)
    return rows, expected


def _expect(route, lang, spans_out):
    if route != "main":
        return {"route": route}
    chunk = "".join(t for _, t, _, _ in spans_out)
    return {"route": "main", "lang": lang,
            "digest": doc_digest([row_digest(lang, chunk, spans_out)])}


# ---------------------------------------------------------------------------
# WARC files

LEGACY = (
    # (declared charset, python codec, label, sentence)
    ("iso-8859-1", "latin-1", "fr",
     "le la les de des et est une dans pour que qui sur pas où été déjà ça"),
    ("windows-1251", "cp1251", "ru", "это новый день ещё раз мы были здесь"),
    ("shift_jis", "shift_jis", "ja", "これはあたらしいいちにちです"),
)


def _warc_record(warc_type: str, url: str, block: bytes, rid: int) -> bytes:
    head = (f"WARC/1.0\r\nWARC-Type: {warc_type}\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-01-01T00:00:{rid % 60:02d}Z\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid:032x}>\r\n"
            f"Content-Type: application/http; msgtype={warc_type}\r\n"
            f"Content-Length: {len(block)}\r\n\r\n").encode()
    return gzip.compress(head + block + b"\r\n\r\n", compresslevel=6, mtime=0)


def _http(body: bytes, ct: str, extra: str = "") -> bytes:
    return (f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n{extra}"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body


def _chunked(body: bytes, rng) -> bytes:
    out, pos = b"", 0
    while pos < len(body):
        n = rng.randrange(200, 2000)
        part = body[pos:pos + n]
        out += b"%x\r\n%s\r\n" % (len(part), part)
        pos += n
    return out + b"0\r\n\r\n"


def gen_warc(rng, out_dir: Path, n_files=WARC_FILES, n=WARC_RECORDS):
    """Real .warc.gz files of unequal size, one gzip member per record:
    plain UTF-8 HTML, chunked transfer encoding, gzip content encoding,
    declared legacy charsets, mis-declared UTF-8 and request records.
    Expected outputs are keyed by URL (the compat writer's key)."""
    from warc2text_spark.plans.spansgen import latin_sentences
    sents = list(latin_sentences())
    ascii_sents = [s for s in sents if s[1].isascii()]
    weights = [rng.lognormvariate(0, 0.8) for _ in range(n_files)]
    total = sum(weights)
    counts = [max(1, int(n * w / total)) for w in weights]
    expected, rid = {}, 0
    out_dir.mkdir(parents=True, exist_ok=True)
    for f, count in enumerate(counts):
        members = [_warc_record("warcinfo", "", b"software: perfbench\r\n",
                                rid)]
        for _ in range(count):
            rid += 1
            url = f"https://w{rng.randrange(40)}.example/{f}/{rid}.html"
            kind = rng.choices(("utf8", "chunked", "gzip", "chunked_gzip",
                                "legacy", "misdeclared", "request"),
                               (40, 15, 15, 5, 15, 5, 5))[0]
            lang, sent = sents[rng.randrange(len(sents))]
            p = _para(sent, rng.randrange(2, 25))
            if kind == "legacy":
                declared, codec, lang, sent = LEGACY[rng.randrange(3)]
                p = _para(sent, rng.randrange(2, 25))
                body = f"<html><body><p>{p}</p></body></html>".encode(codec)
                block = _http(body, f"text/html; charset={declared}")
                text = p + "\n"
            elif kind == "misdeclared":
                lang, sent = ascii_sents[rng.randrange(len(ascii_sents))]
                p = _para(sent, rng.randrange(2, 25))
                # latin-1 bytes under a utf-8 declaration: the reference
                # keeps utf-8 and replaces each invalid byte with U+FFFD
                word = "caf\xe9"
                body = f"<html><body><p>{p} {word}</p></body></html>"\
                    .encode("latin-1")
                block = _http(body, "text/html; charset=utf-8")
                text = f"{p} {word}".encode("latin-1").decode(
                    "utf-8", "replace") + "\n"
            else:
                html = (f"<html><head><title>{rid}</title></head><body>"
                        f"<p>{_ent(p)}</p></body></html>").encode()
                text = f"{rid}\n{p}\n"
                if kind == "utf8":
                    block = _http(html, "text/html; charset=utf-8")
                elif kind == "chunked":
                    block = _http(_chunked(html, rng), "text/html",
                                  "Transfer-Encoding: chunked\r\n")
                elif kind == "gzip":
                    block = _http(gzip.compress(html, mtime=0), "text/html",
                                  "Content-Encoding: gzip\r\n")
                elif kind == "chunked_gzip":
                    block = _http(_chunked(gzip.compress(html, mtime=0), rng),
                                  "text/html", "Transfer-Encoding: chunked\r\n"
                                  "Content-Encoding: gzip\r\n")
                else:  # request
                    block = (f"GET /{rid} HTTP/1.1\r\nHost: w.example"
                             "\r\n\r\n").encode()
            if kind == "request":
                members.append(_warc_record("request", url, block, rid))
                continue
            members.append(_warc_record("response", url, block, rid))
            digest = hashlib.sha256((lang + SEP_FIELD + text).encode())
            expected[url] = {"route": "main", "lang": lang,
                             "digest": digest.hexdigest()}
        (out_dir / f"crawl-{f:03d}.warc.gz").write_bytes(b"".join(members))
    return expected, rid


# ---------------------------------------------------------------------------
# dedup corpus

def gen_dedup(rng, n=DEDUP_DOCS):
    """Extracted-text documents over a seeded random vocabulary (so
    unrelated documents share no shingles), ~10% near-duplicate clones
    (last two words swapped: one changed shingle pair, identical token
    multiset) and a 15% share carrying one viral boilerplate block with
    a short unique tail, which forms one hot LSH bucket.  The share is
    larger than a crawl's ~3% so that, at 800 documents, the hot bucket's
    n^2 pair emission (~7k pairs) is still a visible share of a pass."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = ["".join(rng.choice(letters) for _ in range(rng.randrange(4, 10)))
             for _ in range(30_000)]
    boiler = " ".join(rng.choice(vocab) for _ in range(160))
    n_hot = int(n * DEDUP_HOT_SHARE)
    n_clone = int(n * DEDUP_CLONE_SHARE)
    n_base = n - n_hot - n_clone
    texts = []
    for _ in range(n_base):
        texts.append(" ".join(rng.choice(vocab)
                              for _ in range(rng.randrange(80, 140))))
    hot = []
    for _ in range(n_hot):
        hot.append(len(texts))
        tail = " ".join(rng.choice(vocab) for _ in range(3))
        texts.append(f"{boiler} {tail}")
    pairs = []
    for _ in range(n_clone):
        src = rng.randrange(n_base)
        words = texts[src].split(" ")
        words[-1], words[-2] = words[-2], words[-1]
        pairs.append((src, len(texts)))
        texts.append(" ".join(words))
    order = list(range(n))
    rng.shuffle(order)  # ids carry no hint of the group structure
    ids = {old: f"d{new:06d}" for new, old in enumerate(order)}
    rows = [dict(doc_id=ids[i], text=t) for i, t in enumerate(texts)]
    rows.sort(key=lambda r: r["doc_id"])
    groups = {}
    for src, clone in pairs:
        groups.setdefault(ids[src], [ids[src]]).append(ids[clone])
    expected = {
        "clone_pairs": sorted(tuple(sorted((ids[a], ids[b])))
                              for a, b in pairs),
        "clone_groups": sorted(sorted(g) for g in groups.values()),
        "hot": sorted(ids[i] for i in hot),
    }
    return rows, expected


# ---------------------------------------------------------------------------
# writing

def _write_parquet(rows, out_dir: Path, schema, files=PARQUET_FILES):
    import pyarrow as pa
    import pyarrow.parquet as pq
    out_dir.mkdir(parents=True, exist_ok=True)
    per = math.ceil(len(rows) / files)
    for f in range(files):
        part = rows[f * per:(f + 1) * per]
        if not part:
            break
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, out_dir / f"part-{f:05d}.parquet")


def spans_schema():
    import pyarrow as pa
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([(c, pa.string()) for c in (
        "doc_id", "url", "warc_type", "warc_ct", "http_status", "http_ct",
        "content_enc", "transfer_enc", "warc_date")]
        + [("spans", pa.list_(span))])


def params() -> dict:
    """The generator's size parameters; a cached corpus built with other
    values is stale."""
    return {"smalldoc": SMALLDOC_RECORDS, "warc": [WARC_FILES, WARC_RECORDS],
            "dedup": [DEDUP_DOCS, DEDUP_CLONE_SHARE, DEDUP_HOT_SHARE]}


def _rows_digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True, ensure_ascii=False).encode())
    return h.hexdigest()


def _files_digest(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.rglob("*")):
        if p.is_file():
            h.update(p.name.encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _dir_bytes(d: Path) -> int:
    return sum(p.stat().st_size for p in d.rglob("*") if p.is_file())


def generate(workload: str, seed: int, out: Path) -> dict:
    """Builds the workload's input for ``seed`` under ``out`` and returns
    the manifest.  Writes into a temporary sibling first, so a killed
    generation never leaves a half-built corpus behind."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"perfbench:{workload}:{seed}")
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    inp = tmp / "input"
    if workload == "smalldoc_mixed":
        rows, expected = gen_smalldoc(rng)
        _write_parquet(rows, inp, spans_schema())
        records, digest = len(rows), _rows_digest(rows)
    elif workload == "warc_legacy":
        expected, records = gen_warc(rng, inp)
        digest = _files_digest(inp)
    else:
        import pyarrow as pa
        rows, expected = gen_dedup(rng)
        _write_parquet(rows, inp, pa.schema([("doc_id", pa.string()),
                                             ("text", pa.string())]), files=8)
        records, digest = len(rows), _rows_digest(rows)
    manifest = {"workload": workload, "seed": seed, "params": params(),
                "records": records,
                "input_bytes": _dir_bytes(inp), "corpus_digest": digest}
    with gzip.open(tmp / "expected.json.gz", "wt", encoding="utf-8") as f:
        json.dump(expected, f)
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest


def load_expected(corpus: Path):
    with gzip.open(corpus / "expected.json.gz", "rt", encoding="utf-8") as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, Path(a.out))))


if __name__ == "__main__":
    main()
