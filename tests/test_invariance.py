"""Metamorphic invariants (SURVEY §5.4): input row order must not change
per-url output; stored payloads round-trip."""

import pytest
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark import fixtures
from image_pdf_ocr_suite_spark import payload as spdf
from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.payload import Document, Page, Word
from image_pdf_ocr_suite_spark.pipeline import extract_pages

DOC_ROWS = [(i, " ".join(f"v{i}_{j}" for j in range(15)), "ja") for i in range(20)]


def _texts(spark, pdf):
    res = extract_pages(spark.createDataFrame(pdf), ExtractConfig(), run_id="inv")
    return {r["url"]: r["extracted_text"] for r in res.text.collect()}


def test_row_order_invariance(spark):
    pdf = fixtures.build_pages_pdf(DOC_ROWS)
    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    assert _texts(spark, pdf) == _texts(spark, shuffled)


def test_leading_whitespace_word_span_offsets(spark):
    """A word whose raw text carries leading whitespace: the span text is
    stripped, and start_off must skip the whitespace the page text keeps."""
    doc = Document(pages=[Page(120, 40, [
        Word(1, 1, 1, 1, 10, 5, 20, 10, 80.0, 0, "plain"),
        Word(1, 1, 1, 2, 40, 5, 20, 10, 80.0, 0, " padded"),
        Word(1, 1, 1, 3, 70, 5, 20, 10, 80.0, 0, "tail  "),
    ])])
    rows = [("u1", spdf.encode(doc))]
    df = spark.createDataFrame(rows, "url string, html binary")
    res = extract_pages(df, ExtractConfig(), run_id="ws")
    text = res.text.head()["extracted_text"]
    spans = {r["word"]: r for r in res.spans.collect()}
    assert spans[2]["text"] == "padded"
    assert spans[3]["text"] == "tail"
    for s in spans.values():
        assert text[s["start_off"]:s["end_off"]] == s["text"]


def test_stored_payload_roundtrip():
    doc = Document(pages=[Page(50, 30, [Word(1, 1, 1, 1, 5, 5, 10, 8, 80, 40, "x")])])
    raw = spdf.encode(doc, level=0)
    assert raw[5] & spdf.FLAG_STORED
    out = spdf.decode(raw)
    assert out.pages[0].words[0].text == "x"
    # stored + encrypted compose
    enc = spdf.encode(doc, password="p", level=0)
    assert spdf.decode(enc, password="p").pages[0].words[0].text == "x"
    with pytest.raises(spdf.EncryptedPayloadError):
        spdf.decode(enc, password="wrong")


def test_star_cc_partition_invariance(spark):
    """Connected-components labels are a pure function of the edge SET —
    identical across partitionings and input row orders."""
    import numpy as np
    from image_pdf_ocr_suite_spark.analytics import dedup
    rng = np.random.RandomState(21)
    edges = [(int(a), int(b)) for a, b in rng.randint(0, 40, size=(50, 2))]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    ref = sorted(map(tuple, dedup.connected_components_star(df).collect()))
    for variant in (df.repartition(7), df.orderBy("id_b"), df.coalesce(1)):
        got = sorted(map(tuple,
                         dedup.connected_components_star(variant).collect()))
        assert got == ref


def test_watermark_dedup_partition_invariance(spark):
    """Kept-event set is a pure function of the data, not of the input
    partitioning (the kernel re-sorts within its own key shuffle)."""
    import numpy as np
    from datetime import datetime, timedelta
    from image_pdf_ocr_suite_spark.streaming.stream import (
        dedup_within_watermark_batch)
    rng = np.random.RandomState(22)
    t0 = datetime(2024, 1, 1)
    rows = [(int(rng.randint(0, 6)), t0 + timedelta(seconds=int(s)), i)
            for i, s in enumerate(rng.randint(0, 500, size=120))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    ref = sorted(r["event_id"] for r in
                 dedup_within_watermark_batch(df, delay_sec=30).collect())
    for variant in (df.repartition(11), df.orderBy(F.desc("ts")),
                    df.coalesce(1)):
        got = sorted(r["event_id"] for r in
                     dedup_within_watermark_batch(variant, delay_sec=30)
                     .collect())
        assert got == ref
