"""Japanese text through the full pipeline (the reference is a Japanese
OCR suite — multi-byte text must survive byte-identically) and
bucketed-table co-located joins."""

import re

import pytest
from pyspark.sql import functions as F

from image_pdf_ocr_suite_spark import refmodel
from image_pdf_ocr_suite_spark import payload as spdf
from image_pdf_ocr_suite_spark.config import ExtractConfig
from image_pdf_ocr_suite_spark.payload import Document, Page, Word
from image_pdf_ocr_suite_spark.pipeline import extract_pages

JP_WORDS = ["日本語", "画像", "抽出", "検索可能", "テキスト", "信頼度"]


def _jp_doc(seed: int) -> Document:
    words = [Word(1, 1, 1 + i // 3, 1 + i % 3, 10.0 + 20 * i, 12.0, 18.0, 10.0,
                  80.0 if seed % 2 else 50.0, 72.0, JP_WORDS[(seed + i) % len(JP_WORDS)])
             for i in range(6)]
    return Document(pages=[Page(140, 50, words)])


def test_japanese_byte_identity(spark):
    rows = [(f"https://例え.jp/{i}", spdf.encode(_jp_doc(i))) for i in range(10)]
    df = spark.createDataFrame(rows, "url string, html binary")
    res = extract_pages(df.withColumn("warc_ts", F.current_timestamp())
                        .withColumn("text", F.lit(None).cast("string"))
                        .withColumn("lang", F.lit("ja")),
                        ExtractConfig(), run_id="jp")
    got = {r["url"]: r["extracted_text"] for r in res.text.collect()}
    for i in range(10):
        expected = refmodel.extract_text(spdf.encode(_jp_doc(i)))
        assert got[f"https://例え.jp/{i}"] == expected
        assert "--- ページ 1 ---" in expected
        assert any(w in expected for w in JP_WORDS)
    # span offsets are CHARACTER offsets — correct for multi-byte text too
    texts = got
    for s in res.spans.collect():
        assert texts[s["url"]][s["start_off"]:s["end_off"]] == s["text"]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketed tables co-locate join keys at write time: the sort-merge
    join runs with NO Exchange on either side — the 100 TB pattern for
    repeated joins on the same key."""
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); drop them afterwards
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_meta")
    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("fp"))
    meta = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("shard"))
    docs.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_docs")
    meta.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_meta")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_docs").join(spark.table("b_meta"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_meta")


def test_unicode_whitespace_strip_byte_identity(spark):
    """Word text edged with IDEOGRAPHIC SPACE / NBSP: the Catalyst strip
    (explicit unicode class) must match the reference model's Python
    str.strip() byte-for-byte - Java's ASCII \\s would diverge here."""
    import datetime as dt

    from image_pdf_ocr_suite_spark import refmodel
    from image_pdf_ocr_suite_spark import payload as spdf
    from image_pdf_ocr_suite_spark.config import ExtractConfig
    from image_pdf_ocr_suite_spark.payload import Document, Page, Word
    from image_pdf_ocr_suite_spark.pipeline import extract_pages

    words = [
        Word(1, 1, 1, 1, 10, 12, 30, 10, 80.0, 40.0, "　日本　"),
        Word(1, 1, 1, 2, 50, 12, 15, 10, 85.0, 50.0, " 語x"),
        Word(1, 1, 2, 1, 10, 30, 15, 10, 90.0, 60.0, " plain"),
    ]
    raw = spdf.encode(Document(pages=[Page(200, 100, words)]))
    expected = refmodel.extract_text(raw)

    rows = [("u1", dt.datetime(2024, 1, 1), bytearray(raw), "", "ja")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string")
    res = extract_pages(df, ExtractConfig(), run_id="uws")
    got = {r["url"]: r["extracted_text"] for r in res.text.collect()}
    assert got == {"u1": expected}

    # span text is python-stripped on both sides too
    spans = {r["text"] for r in res.spans.collect()}
    assert "日本" in spans and "語x" in spans and "plain" in spans


def test_token_array_expr_equals_filter_hof_spelling(spark):
    """Round 6: token_array_expr moved from the interpreted filter()
    HOF to codegen'd array_remove — the two must agree on every edge
    shape (leading/trailing/multiple spaces, empty, null, no-space)."""
    from pyspark.sql import functions as F

    from image_pdf_ocr_suite_spark.analytics.text import token_array_expr

    rows = [("a b  c",), ("",), (" ",), ("  x",), ("y  ",), (None,),
            ("one",), ("a  b   c  ",), (" nb sp",), ("tab\there",)]
    df = spark.createDataFrame(rows, "text string")
    hof = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    got = df.select(token_array_expr("text").alias("n"),
                    hof.alias("o")).collect()
    assert all(r["n"] == r["o"] for r in got)
