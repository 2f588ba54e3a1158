"""The benchmark's own tests: seeded generation is deterministic, and the
correctness gate fails on mutated outputs.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs without Spark except ``test_sf0001_smoke``, which needs the
sf0.001 test data directory in ``PERFBENCH_SF0001`` and is skipped
without it.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gate  # noqa: E402
import gen  # noqa: E402

SMALL = {"SCANNED_DOCS": 60, "SCANNED_GIANT_PAGES": 12, "WEB_PAGES": 40,
         "CRAWL_URLS": 160}


@pytest.fixture
def small(monkeypatch):
    for k, v in SMALL.items():
        monkeypatch.setattr(gen, k, v)


def _case(tmp_path, workload, seed, sub="a"):
    d, _ = gen.ensure_case(tmp_path / sub, workload, seed)
    return d


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(small, tmp_path, workload):
    a = gen.input_digest(_case(tmp_path, workload, 5, "a"))
    b = gen.input_digest(_case(tmp_path, workload, 5, "b"))
    c = gen.input_digest(_case(tmp_path, workload, 6, "c"))
    assert a == b
    assert a != c


# ---- scanned_pdf ------------------------------------------------------------
def _scanned_outputs(case: Path):
    """A correct output built from the references: text, quarantine and
    spans with offsets located in the assembled text."""
    text = pd.read_parquet(case / "ref_text.parquet").rename(
        columns={"text": "extracted_text"})
    quar = pd.read_parquet(case / "ref_quarantine.parquet")
    spans = pd.read_parquet(case / "ref_spans.parquet")
    doc = dict(zip(text["url"], text["extracted_text"]))
    starts, cursor = [], {}
    for u, t in zip(spans["url"], spans["text"]):
        k = doc[u].find(t, cursor.get(u, 0))
        starts.append(k)
        cursor[u] = k + len(t)
    spans = spans.assign(start_off=starts,
                         end_off=[s + len(t) for s, t in zip(starts, spans["text"])])
    return text, spans, quar


def test_scanned_gate_accepts_reference_and_rejects_mutations(small, tmp_path):
    case = _case(tmp_path, "scanned_pdf", 3)
    text, spans, quar = _scanned_outputs(case)
    n, bad = gate.check_scanned_pdf(case, text, spans, quar)
    assert n == SMALL["SCANNED_DOCS"] + 1 and bad == set()

    victim = text["url"].iloc[3]
    t2 = text.copy()
    t2.loc[3, "extracted_text"] += "x"
    assert gate.check_scanned_pdf(case, t2, spans, quar)[1] >= {victim}

    s2 = spans.drop(index=0)
    assert spans["url"].iloc[0] in gate.check_scanned_pdf(case, text, s2, quar)[1]

    s3 = spans.copy()
    s3.loc[5, "start_off"] += 1
    assert spans["url"].iloc[5] in gate.check_scanned_pdf(case, text, s3, quar)[1]

    if len(quar):
        q2 = quar.iloc[1:]
        assert quar["url"].iloc[0] in gate.check_scanned_pdf(case, text, spans, q2)[1]


# ---- web_html ---------------------------------------------------------------
def test_web_gate_accepts_reference_and_rejects_mutations(small, tmp_path):
    case = _case(tmp_path, "web_html", 3)
    text = pd.read_parquet(case / "ref_text.parquet").rename(
        columns={"text": "extracted_text"})
    quar = pd.DataFrame({"url": [], "kind": []})
    n, bad = gate.check_web_html(case, text, quar)
    assert n == SMALL["WEB_PAGES"] and bad == set()
    t2 = text.copy()
    t2.loc[0, "extracted_text"] = t2.loc[0, "extracted_text"][:-1]
    assert gate.check_web_html(case, t2, quar)[1] == {text["url"].iloc[0]}
    assert gate.check_web_html(case, text.iloc[1:], quar)[1] == {text["url"].iloc[0]}


def test_web_inputs_cover_charsets_and_fallback(small, tmp_path):
    from image_pdf_ocr_suite_spark.kernels import html as html_mod
    from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes
    raw = pd.read_parquet(_case(tmp_path, "web_html", 3) / "input.parquet")["html"]
    sources = {decode_bytes(r)[2] for r in raw}
    codecs = {decode_bytes(r)[1] for r in raw}
    assert {"bom", "meta", "valid-utf8"} <= sources
    assert {"shift_jis", "euc_jp"} <= codecs
    fast = [html_mod._scan_fast(decode_bytes(r)[0], html_mod._DensityParser())
            for r in raw]
    assert not all(fast) and any(fast)


# ---- crawl_to_shards ---------------------------------------------------------
def _crawl_outputs(case: Path):
    """A correct output built from the plan (clean text is irrelevant to
    the accounting; the digest covers it)."""
    plan = pd.read_parquet(case / "ref_plan.parquet")
    pages, irej, clean, crej = [], [], [], []
    fam_kept = set()
    for e in plan.itertuples(index=False):
        if e.kind == "bad_status":
            irej.append((e.url, "http status 404"))
            continue
        pages.append(e.url)
        irej += [(e.url, "superseded recrawl")] * e.recrawls
        reason = {"low_quality": "low_quality", "lang": "lang"}.get(e.kind)
        if e.kind == "spdf" and e.spdf == "encrypted":
            reason = "encrypted"
        if e.kind in ("exact_dup", "near_dup"):
            reason = e.kind
        if reason:
            crej.append((e.url, reason))
        else:
            clean.append((e.url, "t"))
            fam_kept.add(e.url)
    frame = lambda rows, cols: pd.DataFrame(rows, columns=cols)  # noqa: E731
    shards = pd.DataFrame({"shard": [0], "bin_id": [0], "window_text": ["w"]})
    return dict(pages=pd.DataFrame({"url": pages}),
                ingest_rejects=frame(irej, ["url", "reason"]),
                clean=frame(clean, ["url", "text"]),
                clean_rejects=frame(crej, ["url", "reason"]), shards=shards)


def test_crawl_gate_accepts_plan_and_rejects_mutations(small, tmp_path):
    case = _case(tmp_path, "crawl_to_shards", 3)
    out = _crawl_outputs(case)
    n, bad, digest = gate.check_crawl_to_shards(case, **out)
    assert bad == set() and n > SMALL["CRAWL_URLS"]

    # a page lost between ingest and clean
    c2 = dict(out, clean=out["clean"].iloc[1:])
    assert out["clean"]["url"].iloc[0] in gate.check_crawl_to_shards(case, **c2)[1]
    # a superseded recrawl that leaked into pages
    plan = pd.read_parquet(case / "ref_plan.parquet")
    rc = plan[plan["recrawls"] > 0]["url"].iloc[0]
    p2 = dict(out, pages=pd.concat([out["pages"], pd.DataFrame({"url": [rc]})]))
    assert rc in gate.check_crawl_to_shards(case, **p2)[1]
    # a planned duplicate that survived dedup
    dup = plan[plan["kind"] == "exact_dup"]["url"].iloc[0]
    c3 = dict(out, clean=pd.concat([out["clean"], pd.DataFrame(
        {"url": [dup], "text": ["t"]})]),
        clean_rejects=out["clean_rejects"][out["clean_rejects"]["url"] != dup])
    assert dup in gate.check_crawl_to_shards(case, **c3)[1]
    # a changed shard changes the pinned digest
    s2 = dict(out, shards=out["shards"].assign(window_text=["w2"]))
    assert gate.check_crawl_to_shards(case, **s2)[2] != digest


# ---- sf0.001 extraction sha ---------------------------------------------------
def test_sf0001_smoke():
    sf = os.environ.get("PERFBENCH_SF0001", "")
    if not sf or not Path(sf, "documents.parquet").exists():
        pytest.skip("sf0.001 test data not present")
    import smoke
    from image_pdf_ocr_suite_spark.session import build_session
    os.environ["PYTHONPATH"] = str(HERE.parent)
    spark = build_session(app="perfbench-smoke-test", master="local[2]",
                          shuffle_partitions=2)
    sha, rows = smoke.smoke(spark, sf)
    assert (sha, rows) == (smoke.PINNED_SHA, smoke.PINNED_ROWS)
