"""Correctness gate: compare one job's committed outputs with the
references generated for its seed.

Each ``check_*`` takes the case directory and the outputs as pandas
frames and returns ``(n_docs, bad)``: the number of documents the job was
given and the set of document keys whose output is missing or differs.
``error_rate = len(bad) / n_docs``.  The functions are pure, so the
benchmark's own tests can feed them mutated outputs.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict
from pathlib import Path

import pandas as pd

_SPAN_KEY = ("page", "block", "par", "line", "word", "text")
_SPAN_NUM = ("left", "top", "width", "height", "conf", "x", "y", "fontsize")


def _span_tuple(row) -> tuple:
    return tuple(getattr(row, k) for k in _SPAN_KEY) + tuple(
        round(float(getattr(row, k)), 6) for k in _SPAN_NUM)


def check_scanned_pdf(case: Path, text: pd.DataFrame, spans: pd.DataFrame,
                      quarantine: pd.DataFrame) -> tuple[int, set]:
    """Per-url text == refmodel.extract_text; spans == refmodel.extract_spans
    with ``extracted_text[start_off:end_off] == text``; quarantine == the
    planned encrypted/corrupt urls."""
    ref_text = pd.read_parquet(case / "ref_text.parquet")
    ref_q = pd.read_parquet(case / "ref_quarantine.parquet")
    urls = pd.read_parquet(case / "input.parquet", columns=["url"])["url"]
    bad: set = set()

    got = Counter(text["url"])
    bad |= {u for u, c in got.items() if c != 1}
    out_text = dict(zip(text["url"], text["extracted_text"]))
    for u, t in zip(ref_text["url"], ref_text["text"]):
        if out_text.get(u) != t:
            bad.add(u)

    want_q = dict(zip(ref_q["url"], ref_q["kind"]))
    got_q = Counter(quarantine["url"])
    bad |= {u for u, c in got_q.items() if c != 1}
    out_q = dict(zip(quarantine["url"], quarantine["kind"]))
    bad |= {u for u in set(want_q) | set(out_q) if want_q.get(u) != out_q.get(u)}
    bad |= set(want_q) & set(out_text)

    ref_spans = pd.read_parquet(case / "ref_spans.parquet")
    want_s: dict = defaultdict(list)
    for r in ref_spans.itertuples(index=False):
        want_s[r.url].append(_span_tuple(r))
    got_s: dict = defaultdict(list)
    for r in spans.itertuples(index=False):
        got_s[r.url].append(_span_tuple(r))
        doc = out_text.get(r.url)
        if doc is None or doc[int(r.start_off):int(r.end_off)] != r.text:
            bad.add(r.url)
    for u in set(want_s) | set(got_s):
        if sorted(want_s.get(u, [])) != sorted(got_s.get(u, [])):
            bad.add(u)
    return len(urls), bad


def check_web_html(case: Path, text: pd.DataFrame,
                   quarantine: pd.DataFrame) -> tuple[int, set]:
    """Per-url text == extract_main_text(decode_bytes(raw)[0], impl="stdlib")."""
    ref = pd.read_parquet(case / "ref_text.parquet")
    bad = {u for u, c in Counter(text["url"]).items() if c != 1}
    out = dict(zip(text["url"], text["extracted_text"]))
    bad |= {u for u, t in zip(ref["url"], ref["text"]) if out.get(u) != t}
    bad |= set(quarantine["url"])
    bad |= set(out) - set(ref["url"])
    return len(ref), bad


def check_crawl_to_shards(case: Path, pages: pd.DataFrame,
                          ingest_rejects: pd.DataFrame, clean: pd.DataFrame,
                          clean_rejects: pd.DataFrame,
                          shards: pd.DataFrame) -> tuple[int, set, str]:
    """Accounting: every response record lands once in pages, in
    ingest_rejects, or in the superseded set; every page lands once in
    clean or clean_rejects; planned duplicate families keep exactly one
    url; planned edge pages carry their planned reason.  Bad keys are
    urls (a url stands for all of its response records).  Also returns
    the output digest the caller pins per seed."""
    plan = pd.read_parquet(case / "ref_plan.parquet")
    bad: set = set()
    n_docs = 0
    page_n = Counter(pages["url"])
    rej = defaultdict(list)
    for u, r in zip(ingest_rejects["url"], ingest_rejects["reason"]):
        rej[u].append(r)
    clean_n = Counter(clean["url"])
    crej = defaultdict(list)
    for u, r in zip(clean_rejects["url"], clean_rejects["reason"]):
        crej[u].append(r)

    for e in plan.itertuples(index=False):
        u = e.url
        if e.kind == "bad_status":
            n_docs += 1
            if page_n[u] or len(rej[u]) != 1 or not rej[u][0].startswith(
                    "http status "):
                bad.add(u)
            continue
        n_docs += 1 + e.recrawls
        sup = [r for r in rej[u] if r == "superseded recrawl"]
        if page_n[u] != 1 or len(sup) != e.recrawls or len(rej[u]) != len(sup):
            bad.add(u)
    bad |= set(page_n) - set(plan["url"])
    bad |= set(rej) - set(plan["url"])

    # every page exactly once in clean or clean_rejects
    for u in page_n:
        if clean_n[u] + len(crej[u]) != 1:
            bad.add(u)
    bad |= (set(clean_n) | set(crej)) - set(page_n)

    # planned edge pages carry their planned reason
    want = {"low_quality": "low_quality", "lang": "lang"}
    for e in plan.itertuples(index=False):
        if e.kind in want and crej[e.url] != [want[e.kind]]:
            bad.add(e.url)
        if e.kind == "spdf" and e.spdf == "encrypted" and crej[e.url] != ["encrypted"]:
            bad.add(e.url)

    # duplicate families: exactly one member kept, the rest dedup rejects
    fam = defaultdict(list)
    for e in plan.itertuples(index=False):
        if e.dup_of:
            fam[e.dup_of].append(e.url)
    for src, members in fam.items():
        members = [src] + members
        kept = [u for u in members if clean_n[u]]
        rest = [u for u in members if not clean_n[u]]
        if len(kept) != 1 or any(crej[u] not in (["exact_dup"], ["near_dup"])
                                 for u in rest):
            bad.update(members)
    return n_docs, bad, output_digest(clean, shards)


def output_digest(clean: pd.DataFrame, shards: pd.DataFrame) -> str:
    """sha256 over the sorted clean corpus and the sorted shard windows."""
    h = hashlib.sha256()
    for u, t in sorted(zip(clean["url"], clean["text"])):
        h.update(f"{u}\x1f{t}\x1e".encode())
    for s, b, w in sorted(zip(shards["shard"], shards["bin_id"],
                              shards["window_text"])):
        h.update(f"{s}\x1f{b}\x1f{w}\x1e".encode())
    return h.hexdigest()[:16]


def extraction_sha(text: pd.DataFrame) -> str:
    """The repository's pinned extraction formula over (url, extracted_text)."""
    rows = sorted(zip(text["url"], text["extracted_text"]))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
