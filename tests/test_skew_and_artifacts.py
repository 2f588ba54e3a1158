"""Skew handling (giant scanned lecture PDF)."""

from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark import fixtures, refmodel
from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.pipeline import extract_pages


def test_giant_doc_fans_out_and_matches(spark):
    """A 120-page doc among 1-3-pagers: page explode spreads it across
    partitions, and its text still assembles byte-identically."""
    pages = fixtures.build_pages_df(spark, "/root/testdata/sf0.001",
                                    limit=30, giant_doc_id=1, giant_pages=120)
    cfg = ExtractConfig(shuffle_partitions=16)
    res = extract_pages(pages, cfg, run_id="skew")

    # the giant doc's pages land on many partitions (no single-task pin)
    giant_pids = (res.pages
                  .where(F.col("url") == fixtures.url_for(1))
                  .select("pid").distinct().count())
    assert giant_pids >= 8

    # byte-identity still holds for the giant doc
    giant_payload = pages.where(F.col("url") == fixtures.url_for(1)) \
        .select("html").head()[0]
    expected = refmodel.extract_text(bytes(giant_payload))
    got = res.text.where(F.col("url") == fixtures.url_for(1)) \
        .select("extracted_text").head()[0]
    assert got == expected
    assert got.count("--- ページ ") == 120
