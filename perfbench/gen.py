"""Seeded input generators and references for the three workloads.

Everything here is a pure function of ``(workload, seed)``: the same seed
gives byte-identical input tables and references, a different seed gives
different ones.  The program under test only ever sees the written input
tables; the references and the plan (which urls are edge cases, planned
duplicates, superseded recrawls...) stay on the benchmark side.

Layout of one generated case (``<cache>/<workload>/seed-<n>-<version>/``)::

    input.parquet     the table the job reads (pages, or WARC archives)
    warm.parquet      a small slice of the same distribution, for warm-up
    ref_*.parquet     reference outputs computed once, here
    plan.json         counts and the planned edge cases
    DONE              written last: a case without it is regenerated

References are computed with the repository's independent reference
model (``refmodel``) and the stdlib HTML parser, in a process pool.
"""

from __future__ import annotations

import codecs
import concurrent.futures as cf
import datetime as dt
import hashlib
import json
import multiprocessing
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (documents per timed job) -------------------------------------
SCANNED_DOCS = 900
SCANNED_GIANT_PAGES = 200
WEB_PAGES = 1800
CRAWL_URLS = 1500
WARM_DOCS = 24
RECORDS_PER_BLOB = 24

_EPOCH = dt.datetime(2024, 1, 1)

# ---- text synthesis --------------------------------------------------------
_LATIN_SYL = ("ka ri to ne mo sa lu vi de po an el in or us ta be co di fa ge "
              "hi jo ku la me no pe qu ro si tu va we xi yo ze").split()
_KANA = [chr(c) for c in range(0x3042, 0x3094)]
_KANJI = list("日本語文書情報検索地方政府企業技術研究開発教育文化社会経済"
              "歴史科学自然環境時間空間世界国家都市生活言語記録写真資料")


def _vocab(rng: random.Random, n: int, ja: bool) -> list[str]:
    words = set()
    while len(words) < n:
        if ja:
            k = rng.randint(2, 4)
            w = "".join(rng.choice(_KANA if rng.random() < 0.7 else _KANJI)
                        for _ in range(k))
        else:
            w = "".join(rng.choice(_LATIN_SYL) for _ in range(rng.randint(2, 4)))
        words.add(w)
    return sorted(words)


# the vocabularies are fixed (seed 0): seeds choose documents, not words
_V_EN = _vocab(random.Random("vocab-en"), 4000, ja=False)
_V_JA = _vocab(random.Random("vocab-ja"), 3000, ja=True)


def _sentence(rng: random.Random, n: int, ja: bool) -> str:
    v = _V_JA if ja else _V_EN
    return " ".join(rng.choice(v) for _ in range(n))


def _doc_base(seed: int) -> int:
    # each (seed, replica) gets its own doc id, so no payload repeats
    return 10_000_000 + (seed % 100_000) * 10_000


# ---- parquet helpers -------------------------------------------------------
def _write(path: Path, cols: dict) -> None:
    pq.write_table(pa.table(cols), str(path), compression="zstd",
                   coerce_timestamps="us")


def _pages_table(urls, payloads, texts, langs) -> dict:
    return {
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array([_EPOCH + dt.timedelta(minutes=i)
                             for i in range(len(urls))], pa.timestamp("us")),
        "html": pa.array(payloads, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    }


def _pool_map(fn, items: list, heavy: frozenset = frozenset()) -> list:
    """Map over a spawn pool (one worker per core); results come back in
    input order.  Items whose index is in ``heavy`` are submitted first,
    so one expensive item does not finish last."""
    if len(items) < 64:
        return [fn(x) for x in items]
    order = sorted(range(len(items)), key=lambda i: i not in heavy)
    ctx = multiprocessing.get_context("spawn")
    with cf.ProcessPoolExecutor(max_workers=os.cpu_count() or 1,
                                mp_context=ctx) as ex:
        got = list(ex.map(fn, [items[i] for i in order], chunksize=4))
    out: list = [None] * len(items)
    for i, r in zip(order, got):
        out[i] = r
    return out


# ---- scanned_pdf -----------------------------------------------------------
def _scanned_payload(doc_id: int, text: str, kind: str) -> bytes:
    from image_pdf_ocr_suite_spark import fixtures, payload as spdf
    from image_pdf_ocr_suite_spark.payload import Document
    if kind == "empty":
        return spdf.encode(Document(pages=[]))
    if kind == "encrypted":
        return spdf.encode(fixtures.build_document(doc_id, text),
                           password=fixtures.FIXTURE_PASSWORD)
    if kind == "corrupt":
        return spdf.MAGIC + bytes([spdf.VERSION, 0]) + \
            b"\x00garbage" + doc_id.to_bytes(8, "big") + b"\xff" * 5
    if kind == "giant":
        pages = []
        for k in range(SCANNED_GIANT_PAGES):
            pages.extend(fixtures.build_document(
                doc_id * 1000 + k, text).pages[:1])
        return spdf.encode(Document(pages=pages))
    return spdf.encode(fixtures.build_document(doc_id, text))


def _scanned_one(item: tuple) -> tuple:
    """(payload, reference text, reference spans) of one document; the
    references come from the independent reference model."""
    from image_pdf_ocr_suite_spark import refmodel
    doc_id, text, kind, with_ref = item
    payload = _scanned_payload(doc_id, text, kind)
    if not with_ref or kind in ("encrypted", "corrupt"):
        return payload, None, []
    return payload, refmodel.extract_text(payload), refmodel.extract_spans(payload)


def _scanned_docs(seed: int, n: int, salt: str):
    rng = random.Random(f"scanned_pdf:{seed}:{salt}")
    base = _doc_base(seed) + (5000 if salt == "warm" else 0)
    docs = []
    for i in range(n):
        doc_id = base + i
        ja = rng.random() < 0.3
        text = _sentence(rng, rng.randint(24, 60), ja)
        r = rng.random()
        kind = ("encrypted" if r < 0.02 else "corrupt" if r < 0.035
                else "empty" if r < 0.05 else "ok")
        docs.append((doc_id, text, "ja" if ja else "en", kind))
    if salt == "main":
        # one giant scanned document: hundreds of pages in one payload
        giant = (base + n, _sentence(rng, 60, False), "en", "giant")
        docs.insert(rng.randrange(len(docs)), giant)
    return docs


def gen_scanned_pdf(seed: int, out: Path) -> dict:
    from image_pdf_ocr_suite_spark import fixtures
    plan = {"workload": "scanned_pdf", "seed": seed}
    for salt, fname in (("main", "input.parquet"), ("warm", "warm.parquet")):
        main = salt == "main"
        docs = _scanned_docs(seed, SCANNED_DOCS if main else WARM_DOCS, salt)
        urls = [fixtures.url_for(d) for d, *_ in docs]
        got = _pool_map(_scanned_one, [(d, t, k, main) for d, t, _, k in docs],
                        heavy=frozenset(i for i, d in enumerate(docs)
                                        if d[3] == "giant"))
        _write(out / fname, _pages_table(urls, [g[0] for g in got],
                                         [t for _, t, _, _ in docs],
                                         [l for _, _, l, _ in docs]))
        if not main:
            continue
        kinds = {u: d[3] for u, d in zip(urls, docs)}
        quarantine = {u: k for u, k in kinds.items()
                      if k in ("encrypted", "corrupt")}
        refs = [(u, g) for u, g in zip(urls, got) if u not in quarantine]
        _write(out / "ref_text.parquet", {
            "url": [u for u, _ in refs], "text": [g[1] for _, g in refs]})
        span_cols: dict[str, list] = {k: [] for k in (
            "url", "page", "block", "par", "line", "word", "left", "top",
            "width", "height", "conf", "text", "x", "y", "fontsize")}
        for u, g in refs:
            for sp in g[2]:
                span_cols["url"].append(u)
                for k, v in sp.items():
                    span_cols[k].append(v)
        _write(out / "ref_spans.parquet", span_cols)
        _write(out / "ref_quarantine.parquet", {
            "url": list(quarantine), "kind": list(quarantine.values())})
        plan.update(docs=len(docs), quarantine=len(quarantine),
                    kinds={k: sum(1 for v in kinds.values() if v == k)
                           for k in sorted(set(kinds.values()))},
                    n_spans=len(span_cols["url"]))
    return plan


# ---- web_html --------------------------------------------------------------
_JS = ("function f{i}(a,b){{var s=0;for(var k=0;k<a.length;k++){{s+=a[k]*b;"
       "if(s>{i}){{s-=1;}}}}return '<p>'+s+'</p>';}}\n")
_CSS = ".c{i}{{margin:{i}px;padding:2px 4px;color:#3{i:02d}a{i:01d}f;}}\n"


def _html_page(rng: random.Random, ja: bool, malformed: bool) -> str:
    """A Common-Crawl-like article page: head scripts and styles, nav
    list, sidebar, article paragraphs, table, comment thread, footer."""
    n = rng.randint
    parts = ["<!DOCTYPE html><html><head>"]
    parts.append(f"<title>{_sentence(rng, 6, ja)}</title>")
    parts.append("<script>" + "".join(_JS.format(i=k) for k in range(n(20, 60)))
                 + "</script>")
    parts.append("<style>" + "".join(_CSS.format(i=k % 100) for k in range(n(15, 40)))
                 + "</style></head><body>")
    parts.append("<header><ul class='nav'>" + "".join(
        f"<li><a href='/s/{k}'>{_sentence(rng, 2, ja)}</a></li>"
        for k in range(n(15, 40))) + "</ul></header>")
    parts.append("<aside class='sidebar'>" + "".join(
        f"<div class='w'><a href='/t/{k}'>{_sentence(rng, 3, ja)}</a> "
        f"<span>{rng.randint(1, 999)}</span></div>" for k in range(n(8, 20)))
        + "</aside>")
    parts.append("<main><article>")
    parts.append(f"<h1>{_sentence(rng, 7, ja)}</h1>")
    for _ in range(n(8, 20)):
        parts.append(f"<p>{_sentence(rng, rng.randint(40, 110), ja)}</p>")
    if rng.random() < 0.6:
        rows = "".join("<tr>" + "".join(f"<td>{_sentence(rng, 2, ja)}</td>"
                                        for _ in range(4)) + "</tr>"
                       for _ in range(n(5, 15)))
        parts.append(f"<table>{rows}</table>")
    if malformed:
        # constructs outside the fast scanner's proven subset: the page
        # falls back to the stdlib parser
        bad = rng.choice(["<![CDATA[ raw ]]>", "</ p>", "<p <b>x</b>",
                          "<div class=a\"b>"])
        parts.append(f"<p>{_sentence(rng, 20, ja)}</p>{bad}")
    parts.append("</article></main>")
    parts.append("<section class='comments'>" + "".join(
        f"<div class='c'><b>{_sentence(rng, 1, ja)}</b><p>"
        f"{_sentence(rng, rng.randint(5, 30), ja)}</p></div>"
        for _ in range(n(6, 20))) + "</section>")
    parts.append("<footer>" + " | ".join(
        f"<a href='/f/{k}'>{_sentence(rng, 2, ja)}</a>" for k in range(12))
        + f"<p>copyright {rng.randint(1990, 2025)}</p></footer>")
    parts.append("</body></html>")
    return "\n".join(parts)


def _encode_page(rng: random.Random, html: str, ja: bool) -> tuple[bytes, str]:
    """Charset mix: UTF-8, UTF-8 with BOM, Shift_JIS (meta-declared) and
    EUC-JP (undeclared, found by the heuristic ladder)."""
    r = rng.random()
    if ja and r < 0.30:
        return html.replace("<head>", "<head><meta charset=\"shift_jis\">", 1) \
            .encode("shift_jis"), "shift_jis"
    if ja and r < 0.55:
        return html.encode("euc_jp"), "euc_jp"
    if r < 0.70 and r >= 0.62:
        return codecs.BOM_UTF8 + html.encode("utf-8"), "utf-8-bom"
    return html.encode("utf-8"), "utf-8"


def _web_one(item: tuple) -> tuple:
    """One page from its own rng: (url, raw bytes, encoding, lang,
    malformed, reference text or None)."""
    from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes
    from image_pdf_ocr_suite_spark.kernels.html import extract_main_text
    seed, salt, i, with_ref = item
    rng = random.Random(f"web_html:{seed}:{salt}:{i}")
    uid = _doc_base(seed) + (5000 if salt == "warm" else 0) + i
    ja = rng.random() < 0.45
    malformed = rng.random() < 0.08
    raw, enc = _encode_page(rng, _html_page(rng, ja, malformed), ja)
    ref = (extract_main_text(decode_bytes(raw)[0], impl="stdlib")
           if with_ref else None)
    return (f"https://site{uid % 97}.example/{seed}/{uid}", raw, enc,
            "ja" if ja else "en", malformed, ref)


def gen_web_html(seed: int, out: Path) -> dict:
    plan = {"workload": "web_html", "seed": seed}
    for salt, fname, n in (("main", "input.parquet", WEB_PAGES),
                           ("warm", "warm.parquet", WARM_DOCS)):
        main = salt == "main"
        pages = _pool_map(_web_one, [(seed, salt, i, main) for i in range(n)])
        urls = [p[0] for p in pages]
        _write(out / fname, _pages_table(urls, [p[1] for p in pages], [None] * n,
                                         [p[3] for p in pages]))
        if not main:
            continue
        _write(out / "ref_text.parquet", {"url": urls, "text": [p[5] for p in pages]})
        encs = [p[2] for p in pages]
        plan.update(docs=n, bytes=sum(len(p[1]) for p in pages),
                    malformed=sum(p[4] for p in pages),
                    encodings={e: encs.count(e) for e in sorted(set(encs))})
    return plan


# ---- crawl_to_shards -------------------------------------------------------
_CRLF = b"\r\n"


def _warc_record(wtype: str, uri: str, date: str, block: bytes,
                 content_type: str) -> bytes:
    rid = "urn:md5:" + hashlib.md5(
        f"{wtype}\x1f{uri}\x1f{date}".encode() + block).hexdigest()
    head = (f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Record-ID: <{rid}>\r\n"
            f"WARC-Date: {date}\r\nWARC-Target-URI: {uri}\r\n"
            f"Content-Type: {content_type}\r\nContent-Length: {len(block)}"
            "\r\n\r\n").encode()
    return head + block + _CRLF + _CRLF


def _http(status: int, body: bytes, ctype: str) -> bytes:
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found",
              500: "Internal Server Error"}[status]
    return (f"HTTP/1.1 {status} {reason}\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body


def _crawl_plan(seed: int, n_urls: int, salt: str) -> list[dict]:
    """One entry per url: its final capture kind plus extra records."""
    rng = random.Random(f"crawl_to_shards:{seed}:{salt}")
    base = _doc_base(seed) + (5000 if salt == "warm" else 0)
    plan, originals = [], []
    for i in range(n_urls):
        uid = base + i
        url = f"https://www.host{uid % 23}.example/{seed}/page/{uid}"
        r = rng.random()
        ja = rng.random() < 0.4
        e = {"url": url, "uid": uid, "ja": ja, "recrawls": 0}
        if r < 0.04:
            e["kind"] = "bad_status"
            e["status"] = rng.choice([301, 404, 500])
        elif r < 0.10:
            e["kind"] = "spdf"
            e["spdf"] = "encrypted" if rng.random() < 0.25 else "ok"
        elif r < 0.14:
            e["kind"] = "low_quality"
        elif r < 0.17:
            e["kind"] = "lang"
        elif r < 0.22 and originals:
            e["kind"] = "exact_dup"
            e["of"] = rng.choice(originals)
        elif r < 0.27 and originals:
            e["kind"] = "near_dup"
            e["of"] = rng.choice(originals)
        else:
            e["kind"] = "html"
            e["text_seed"] = f"{seed}:{salt}:{uid}"
            originals.append(len(plan))
        if e["kind"] != "bad_status" and rng.random() < 0.12:
            e["recrawls"] = rng.randint(1, 2)
        e["extras"] = rng.random() < 0.15   # request + metadata siblings
        plan.append(e)
    return plan


def _crawl_paragraphs(text_seed: str, ja: bool) -> list[str]:
    rng = random.Random(f"crawl-text:{text_seed}")
    return [_sentence(rng, rng.randint(25, 60), ja) for _ in range(rng.randint(2, 4))]


def _crawl_body(e: dict, plan: list[dict], crawl: int) -> tuple[bytes, str]:
    """Response body of one capture (crawl 0 = the latest)."""
    from image_pdf_ocr_suite_spark import fixtures, payload as spdf
    kind = e["kind"]
    if kind == "spdf":
        doc = fixtures.build_document(e["uid"], _sentence(
            random.Random(f"spdf:{e['url']}:{crawl}"), 40, False))
        pw = fixtures.FIXTURE_PASSWORD if e["spdf"] == "encrypted" else None
        return spdf.encode(doc, password=pw), "application/pdf"
    if kind == "low_quality":
        paras = ["sorry this page moved away somewhere"]
    elif kind == "lang":
        rng = random.Random(f"ko:{e['url']}")
        paras = [" ".join("".join(chr(rng.randint(0xAC00, 0xD7A3))
                                  for _ in range(rng.randint(2, 4)))
                          for _ in range(40))]
    elif kind in ("exact_dup", "near_dup"):
        src = plan[e["of"]]
        paras = _crawl_paragraphs(src["text_seed"], src["ja"])
        if kind == "near_dup":
            toks = paras[0].split()
            toks[len(toks) // 2] = "zzvariant"
            paras = [" ".join(toks)] + paras[1:]
    else:
        paras = _crawl_paragraphs(e["text_seed"], e["ja"])
    if crawl:
        # an older capture of the same url: different content
        paras = [f"older capture {crawl} " + p for p in paras]
    # a duplicate family shares its source's charset and markup, so its
    # members extract to the same text
    src = plan[e["of"]] if "of" in e else e
    r = random.Random(f"enc:{src['url']}").random()
    ja = src["ja"] and src["kind"] == "html"
    bad = "</ p>" if random.Random(f"bad:{src['url']}").random() < 0.08 else ""
    nav = "".join(f"<li><a href='/n{k}'>menu {k}</a></li>" for k in range(8))
    meta = "<meta charset='euc-jp'>" if ja and 0.3 <= r < 0.5 else ""
    body = (f"<html><head>{meta}<title>t</title><script>var x=1;</script></head>"
            f"<body><ul>{nav}</ul><article>"
            + "".join(f"<p>{p}</p>{bad}" for p in paras)
            + "</article><footer><a href='/tos'>terms</a></footer></body></html>")
    if ja and r < 0.3:               # undeclared: the heuristic ladder
        return body.encode("shift_jis"), "text/html"
    if meta:
        return body.encode("euc_jp"), "text/html; charset=euc-jp"
    if r >= 0.9:
        return codecs.BOM_UTF8 + body.encode("utf-8"), "text/html; charset=utf-8"
    return body.encode("utf-8"), "text/html; charset=utf-8"


def gen_crawl_to_shards(seed: int, out: Path) -> dict:
    result = {"workload": "crawl_to_shards", "seed": seed}
    for salt, fname, n in (("main", "input.parquet", CRAWL_URLS),
                           ("warm", "warm.parquet", WARM_DOCS * 2)):
        plan = _crawl_plan(seed, n, salt)
        rng = random.Random(f"crawl-order:{seed}:{salt}")
        records: list[bytes] = []
        acct = {"response": 0, "superseded": 0, "bad_status": 0,
                "non_response": 0}
        for e in plan:
            url = e["url"]
            for crawl in range(e["recrawls"], -1, -1):
                date = f"2026-0{3 - min(crawl, 2)}-0{1 + e['uid'] % 9}T00:00:00Z"
                if e["kind"] == "bad_status":
                    body, ctype = b"<html><body>gone</body></html>", "text/html"
                    block = _http(e["status"], body, ctype)
                    acct["bad_status"] += 1
                else:
                    body, ctype = _crawl_body(e, plan, crawl)
                    block = _http(200, body, ctype)
                    acct["superseded" if crawl else "response"] += 1
                records.append(_warc_record(
                    "response", url, date, block,
                    "application/http; msgtype=response"))
                if e["extras"] and crawl == 0:
                    req = (f"GET /{e['uid']} HTTP/1.1\r\nHost: x\r\n\r\n").encode()
                    records.append(_warc_record(
                        "request", url, date, req,
                        "application/http; msgtype=request"))
                    records.append(_warc_record(
                        "metadata", url, date, b"fetchTimeMs: 12\r\n",
                        "application/warc-fields"))
                    acct["non_response"] += 2
        rng.shuffle(records)
        blobs = []
        for k in range(0, len(records), RECORDS_PER_BLOB):
            info = _warc_record("warcinfo", "", "2026-03-01T00:00:00Z",
                                b"software: perfbench\r\n",
                                "application/warc-fields")
            blobs.append(b"".join([info] + records[k:k + RECORDS_PER_BLOB]))
            acct["non_response"] += 1
        _write(out / fname, {"warc": pa.array(blobs, pa.binary())})
        if salt != "main":
            continue
        planned = {
            "url": [e["url"] for e in plan],
            "kind": [e["kind"] for e in plan],
            "spdf": [e.get("spdf", "") for e in plan],
            "recrawls": [e["recrawls"] for e in plan],
            "dup_of": [plan[e["of"]]["url"] if "of" in e else "" for e in plan],
        }
        _write(out / "ref_plan.parquet", planned)
        # the documents of docs_per_s are the response records: latest
        # captures, superseded recrawls and non-2xx responses
        result.update(docs=acct["response"] + acct["superseded"]
                      + acct["bad_status"], urls=n, records=len(records)
                      + len(blobs), **acct)
    return result


GENERATORS = {
    "scanned_pdf": gen_scanned_pdf,
    "web_html": gen_web_html,
    "crawl_to_shards": gen_crawl_to_shards,
}


def case_dir(cache: Path, workload: str, seed: int) -> Path:
    """Keyed by the generator's own source too: editing it regenerates."""
    version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:8]
    return cache / workload / f"seed-{seed}-{version}"


def ensure_case(cache: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """Generate (once per seed) and return the case directory + plan."""
    d = case_dir(cache, workload, seed)
    if (d / "DONE").exists():
        return d, json.loads((d / "plan.json").read_text())
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    plan = GENERATORS[workload](seed, tmp)
    (tmp / "plan.json").write_text(json.dumps(plan, sort_keys=True, indent=1))
    (tmp / "DONE").write_text("ok\n")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, plan


def input_digest(case: Path) -> str:
    """sha256 over every generated file (the determinism self-test); the
    output digest a run pins later is not one of them."""
    h = hashlib.sha256()
    for f in sorted(case.iterdir()):
        if f.name in ("DONE", "digest.txt"):
            continue
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()
