"""Pure (non-Spark) extraction kernels.

Every kernel here is a plain function over Python scalars or Arrow arrays,
unit-testable without a SparkSession. The Spark pipeline calls the batch
dispatch ``extract_texts`` inside one ``mapInArrow`` kernel (see
ocr_search_spark.pipeline.extract); the scalar variants in
``reference_impl`` are the golden-truth oracle for span-sequence equality.
"""

from .normalize import preprocess_text_layer, normalize_series
from .html_extract import html_to_text, html_main_text
from .pdf_extract import extract_pdf_page_text
from .ocr_stub import ocr_stub_text
from .decode import decode_bytes
from .dispatch import extract_texts, KNOWN_KINDS
from .email_extract import eml_to_text
from .msg_extract import msg_to_text
from .lang import looks_like_russian, russian_score, russian_score_series
from .reference_impl import extract_document_spans, extract_span_text
from .rtf_extract import rtf_to_text
from .xls_extract import xls_to_text

__all__ = [
    "preprocess_text_layer",
    "normalize_series",
    "html_to_text",
    "html_main_text",
    "extract_pdf_page_text",
    "ocr_stub_text",
    "decode_bytes",
    "extract_texts",
    "KNOWN_KINDS",
    "extract_document_spans",
    "extract_span_text",
    "looks_like_russian",
    "russian_score",
    "russian_score_series",
    "rtf_to_text",
    "xls_to_text",
    "eml_to_text",
    "msg_to_text",
]
