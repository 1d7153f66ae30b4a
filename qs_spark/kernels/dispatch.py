"""Per-document extraction dispatch.

Mirrors the reference's extension dispatch (quanta-search-consumer/
core/extractor.py:52-156: .pdf -> PDF walker ['basic +' plan], .docx/.doc ->
libreoffice->PDF walker, .xlsx/.xls/.csv -> sheet chunkers, .txt -> sentence
chunker, .md/.mdx -> whole-file passthrough) plus the north-rule 'html'
format.  Format is derived from the raw span kinds (one format per doc —
the corpus schema guarantees it, FIXTURES.md F-1).

`order` is assigned by enumeration over the kernel's emitted list, exactly
like add_metadata's page_no = idx+1 (ameya_dataprocessing_core
whl!core/files/utils.py:110-111): order = page_no - 1, i.e. the position
AFTER empty-unit drops.
"""

from __future__ import annotations

from qs_spark.kernels.html_kernel import walk_html
from qs_spark.kernels.pdf_kernel import walk_pages
from qs_spark.kernels.sheet_kernel import walk_sheets
from qs_spark.kernels.txt_kernel import walk_txt

# raw-span kind -> document format
_FMT_BY_KIND = {
    "html": "html",
    "pdf_text": "pdf",
    "pdf_table": "pdf",
    "pdf_figure": "pdf",
    "docx_para": "docx",
    "docx_table": "docx",
    "ocr_region": "docx",  # media region inside a word doc (corpus convention)
    "sheet_rows": "xlsx",
    "csv_rows": "csv",
    "txt": "txt",
    "md": "md",
}

EXT_BY_FMT = {
    "html": ".html",
    "pdf": ".pdf",
    "docx": ".docx",
    "xlsx": ".xlsx",
    "csv": ".csv",
    "txt": ".txt",
    "md": ".md",
}

# formats whose units are page/block-local, safe to extract per split part
SPLITTABLE_FMTS = ("pdf", "docx", "html")


def fmt_of_spans(raw_spans: list[dict]) -> str:
    for sp in raw_spans:
        f = _FMT_BY_KIND.get(sp["kind"])
        if f:
            return f
    return "md"


def _walk_md(raw_spans: list[dict]) -> list[dict]:
    # whole file -> one Document (ref extractor.py:141-154); emitted even if
    # empty (the md branch has no first-doc-empty gate)
    return [
        {"kind": "raw", "text": sp["text"] or "", "media_ref": ""} for sp in raw_spans
    ]


def extract_doc(
    raw_spans: list[dict], fmt: str | None = None, plan: str | None = None
) -> list[dict]:
    """One doc's raw spans -> ordered extracted spans with `order` assigned.
    Sheets and txt chunk at the reference budget (sheet_kernel.CHUNK_SIZE).

    Also the golden oracle: tests run this single-threaded over the corpus and
    compare with the distributed pipeline's output.

    plan: None follows the reference dispatch (pdf/docx get 'basic +', the
    OCR path; everything else is plan-insensitive — extractor.py:80,119);
    pass 'basic' to force the text-layer-only PDF walk.
    """
    fmt = fmt or fmt_of_spans(raw_spans)
    if fmt in ("pdf", "docx"):
        units = walk_pages(raw_spans, plan=plan or "basic +")
    elif fmt == "xlsx":
        units = walk_sheets(raw_spans, excel_mode=True)
    elif fmt == "csv":
        units = walk_sheets(raw_spans, excel_mode=False)
    elif fmt == "txt":
        units = walk_txt(raw_spans)
    elif fmt == "md":
        units = _walk_md(raw_spans)
    elif fmt == "html":
        units = walk_html(raw_spans)
    else:
        raise AssertionError(f"Unsupported extension is given: {fmt}")
    for i, u in enumerate(units):
        u["order"] = i
    return units


def safe_extract_doc(
    raw_spans: list[dict], fmt: str | None = None, plan: str | None = None
) -> list[dict]:
    """extract_doc with per-document error isolation: a malformed file yields
    a single diagnostic span (kind='error', order=-1) instead of killing the
    task/job.  Mirrors the reference's per-file failure handling — the
    consumer catches extraction errors and marks just that document Failed
    (consumer.py:322-344, the Processing->Failed flow) while other files
    proceed.  Used by BOTH the distributed kernels and the oracle, so the
    span-equality contract covers failing docs too.
    """
    try:
        return extract_doc(raw_spans, fmt, plan)
    except Exception as e:  # noqa: BLE001 — any kernel error = this doc Failed
        return [
            {
                "kind": "error",
                "text": f"{type(e).__name__}: {e}"[:500],
                "media_ref": "",
                "order": -1,
            }
        ]
