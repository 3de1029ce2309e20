"""Per-kind extraction dispatch (operator E1), vectorized over a flat batch.

The reference dispatches one document at a time through a class registry
(reference: app/services/bytes_xtractor.py:50-88, registry at 73-83). Here
dispatch is *batch-level* and stays in Arrow: given the flat string columns
of one Arrow batch of spans, each kind's rows are selected with a
``pyarrow.compute`` mask, only those rows run through that kind's scalar
kernel, and the results are scattered back with ``replace_with_mask``.
Passthrough kinds never leave Arrow. The whole batch then goes through one
RE2 normalization pass (``extract_text_file`` applies
``_preprocess_text_layer`` to every extraction result —
bytes_xtractor.py:101-109).

Kind semantics (FIXTURES.md §1 kind registry):

==========  ================================================================
kind        kernel
==========  ================================================================
``txt``     passthrough (decode cascade already applied upstream; txt.py:8-25)
``docx``    passthrough of pre-extracted paragraph/table text (doc.py:29-35)
``pdf``     page text blocks: drop empties, join "\\n\\n" (pdf_fast.py:177-185)
``html``    boilerplate strip + visible text (html.py:22-76)
``image``   OCR stub keyed by media_ref (pdf.py:203-222 → stub)
``rtf``     control words stripped, visible text kept (rtf.py:18-48)
``xls``     sheets flattened to tab-separated rows (xls.py:15-34)
``email``   EML headers + body template (email.py:56-113)
``msg``     Outlook .msg headers + body template (email.py:116-213)
``uns``     empty text, counted as a skip/failure (txt.py:27-31)
unknown     treated as ``uns`` (bytes_xtractor.py:70 returns 'uns')
==========  ================================================================

Per-span error boundary (P5: extractors swallow errors and return "" —
e.g. pdf_fast.py:218-220): a kernel that raises on one span yields "" for
that span and marks it failed; the rest of the batch is unaffected.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .email_fast import eml_to_text_fast
from .msg_extract import msg_to_text
from .html_fast import html_to_text_fast
from .normalize import normalize_arrow
from .ocr_stub import ocr_stub_text
from .pdf_extract import extract_pdf_page_text
from .rtf_extract import rtf_to_text
from .xls_extract import xls_any_to_text

#: kinds with a dedicated kernel; anything else falls through to ``uns``.
#: core kinds first (FIXTURES.md §1), then the optional kinds (rtf/xls/email
#: — bytes_xtractor.py registry 73-83).
KNOWN_KINDS = (
    "txt", "docx", "pdf", "html", "image", "rtf", "xls", "email", "msg", "uns"
)

_PASSTHROUGH = ("txt", "docx")

#: per-span scalar kernels over the span text (looped inside the batch).
#: html and email use the fast-scanner twins; the golden path keeps the
#: parser-based html_to_text / stdlib eml_to_text, parity enforced by the
#: span-equality suite.
_TEXT_KERNELS = {
    "pdf": extract_pdf_page_text,
    "html": html_to_text_fast,
    "rtf": rtf_to_text,
    "xls": xls_any_to_text,
    "email": eml_to_text_fast,
    "msg": msg_to_text,
}


def _run_kernel(kernel, values: list) -> tuple[pa.Array, np.ndarray]:
    """``kernel`` over each value; a raising span yields "" and is flagged."""
    out, bad = [], np.zeros(len(values), dtype=bool)
    for i, v in enumerate(values):
        try:
            out.append(kernel(v))
        except Exception:
            out.append("")
            bad[i] = True
    return pa.array(out, pa.string()), bad


def _rows(mask: pa.BooleanArray) -> np.ndarray:
    return np.flatnonzero(mask.to_numpy(zero_copy_only=False))


def extract_texts(kind, text, media_ref) -> tuple[pa.Array, np.ndarray]:
    """Extract + normalize one flat batch of spans.

    Inputs are string arrays (Arrow arrays, or anything ``pa.array``
    accepts, such as a pandas Series). Returns ``(extracted, failed)`` —
    the normalized ``pa.StringArray`` and a bool array marking spans that
    produced no text by construction (``uns`` and unknown kinds) or whose
    kernel raised, feeding the ``failures`` audit metric.
    """
    kind = pc.fill_null(pa.array(kind, pa.string()), "uns")
    text = pc.fill_null(pa.array(text, pa.string()), "")
    media_ref = pc.fill_null(pa.array(media_ref, pa.string()), "")
    failed = ~pc.is_in(kind, pa.array(KNOWN_KINDS[:-1])).to_numpy(
        zero_copy_only=False
    )
    raw = pc.if_else(pc.is_in(kind, pa.array(_PASSTHROUGH)), text, "")

    for k, kernel in _TEXT_KERNELS.items():
        mask = pc.equal(kind, k)
        if pc.any(mask).as_py():
            values, bad = _run_kernel(kernel, pc.filter(text, mask).to_pylist())
            failed[_rows(mask)[bad]] = True
            raw = pc.replace_with_mask(raw, mask, values)

    mask = pc.equal(kind, "image")
    if pc.any(mask).as_py():
        # OCR-stub each distinct media_ref once, then broadcast back
        refs = pc.filter(media_ref, mask)
        uniq = pc.unique(refs)
        stubs, bad = _run_kernel(ocr_stub_text, uniq.to_pylist())
        codes = pc.index_in(refs, uniq).to_numpy()
        failed[_rows(mask)[bad[codes]]] = True
        raw = pc.replace_with_mask(raw, mask, stubs.take(codes))

    # single vectorized normalization pass over the whole batch (E18)
    return normalize_arrow(raw), failed
