"""Scalar golden-truth implementation of the extraction contract.

This module is the *oracle* for span-sequence equality: a deliberately
straight-line, one-document-at-a-time re-statement of the reference's
extraction semantics (dispatch bytes_xtractor.py:50-88 → per-kind extractor →
``_preprocess_text_layer`` normalization bytes_xtractor.py:23-39). The
vectorized Spark pipeline must produce byte-identical span sequences
``(kind, text, media_ref, order)`` per doc_id (BASELINE.json invariant).

Kept intentionally independent of the vectorized batch path where possible:
normalization here is the scalar ``preprocess_text_layer`` (the vectorized
path uses the Arrow/RE2 chain ``normalize_arrow``), so tests cross-check
the two formulations.
"""

from __future__ import annotations

from typing import Any

from .email_extract import eml_or_msg_to_text
from .msg_extract import msg_to_text
from .html_extract import html_to_text
from .normalize import preprocess_text_layer
from .ocr_stub import ocr_stub_text
from .pdf_extract import extract_pdf_page_text
from .rtf_extract import rtf_to_text
from .xls_extract import xls_any_to_text


def extract_span_text(kind: str, text: str, media_ref: str) -> str:
    """Extract + normalize a single span, scalar path. A kernel that raises
    yields "" (P5: extractors swallow errors and return "")."""
    kind = kind or "uns"
    text = text or ""
    try:
        raw = _extract_raw(kind, text, media_ref)
    except Exception:
        raw = ""
    return preprocess_text_layer(raw)


def _extract_raw(kind: str, text: str, media_ref: str) -> str:
    if kind in ("txt", "docx"):
        return text
    if kind == "pdf":
        return extract_pdf_page_text(text)
    if kind == "html":
        return html_to_text(text)
    if kind == "image":
        return ocr_stub_text(media_ref or "")
    if kind == "rtf":
        return rtf_to_text(text)
    if kind == "xls":
        return xls_any_to_text(text)
    if kind == "email":
        # the reference's combined extractor sniffs CFB containers
        # (a user may hand a .msg file the .eml route, email.py:45-50)
        return eml_or_msg_to_text(text)
    if kind == "msg":
        return msg_to_text(text)
    return ""  # uns + unknown kinds (bytes_xtractor.py:70)


def extract_document_spans(spans: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Golden output span sequence for one document.

    Input spans are ordered by ``offset``; output spans get a dense
    ``order`` 0..m-1 (FIXTURES.md §3 — empty-text spans are still emitted so
    sequences stay alignable).
    """
    ordered = sorted(spans, key=lambda s: s["offset"])
    out = []
    for i, s in enumerate(ordered):
        kind = s.get("kind") or "uns"
        out.append(
            {
                "kind": kind,  # input kind preserved (FIXTURES.md §3)
                "text": extract_span_text(kind, s.get("text"), s.get("media_ref")),
                "media_ref": s.get("media_ref") or "",
                "order": i,
            }
        )
    return out
