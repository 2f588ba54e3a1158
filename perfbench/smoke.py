"""Extraction smoke check against the repository's pinned sf0.001 sha.

    python3 perfbench/smoke.py /path/to/testdata/sf0.001

Builds the fixture pages table from the ``documents`` parquet of the
given scale-factor directory, runs ``extract_pages`` and compares
``sha256(repr(sorted((url, extracted_text))))[:16]`` over the text rows
with the pinned value.  The test data lives outside the checkout, so
this is a separate command, not part of the timed runs.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

PINNED_SHA = "b4eb8f3ec82c2d1e"
PINNED_ROWS = 466


def smoke(spark, sf_dir: str) -> tuple[str, int]:
    from image_pdf_ocr_suite_spark import extract_pages
    from image_pdf_ocr_suite_spark.fixtures import build_pages_df

    import gate
    text = extract_pages(build_pages_df(spark, sf_dir)).text \
        .select("url", "extracted_text").toPandas()
    return gate.extraction_sha(text), len(text)


def main(argv: list[str]) -> int:
    here = Path(__file__).resolve().parent
    sys.path[:0] = [str(here.parent), str(here)]
    # the Python workers import the package too
    os.environ["PYTHONPATH"] = str(here.parent)
    from image_pdf_ocr_suite_spark.session import build_session

    spark = build_session(app="perfbench-smoke")
    try:
        sha, rows = smoke(spark, argv[0])
    finally:
        spark.stop()
    ok = sha == PINNED_SHA and rows == PINNED_ROWS
    print(f"sf0.001 extraction sha {sha} over {rows} rows: "
          f"{'ok' if ok else 'MISMATCH (want ' + PINNED_SHA + ')'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
