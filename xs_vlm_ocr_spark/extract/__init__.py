"""Pure-Python single-document extraction — the golden oracle.

Every function here is deterministic, stateless, and stdlib-only. The
Spark operators in ``xs_vlm_ocr_spark.operators.extraction`` wrap exactly
these functions in an Arrow-batched pandas UDF, so golden-span
equality (kind, text, media_ref, order) holds by construction and the
pytest fixtures guard against batch-boundary state leaks.
"""

from xs_vlm_ocr_spark.extract.html_strip import strip_html
from xs_vlm_ocr_spark.extract.pipeline import extract_doc, merge_full_text
from xs_vlm_ocr_spark.extract.xycut import parse_pdf_line, xycut_paragraphs

__all__ = [
    "strip_html",
    "extract_doc",
    "merge_full_text",
    "parse_pdf_line",
    "xycut_paragraphs",
]
