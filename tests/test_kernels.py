"""Unit tests for the extraction kernels — populating the reference's EMPTY
test skeleton (every wheel's test/unit/unit_test.py is 0 bytes, SURVEY.md §5)
with tests for the documented behaviors, including the §2.12 quirks.
"""

import os
import subprocess
import sys

import pandas as pd
import pytest

from qs_spark.kernels.dispatch import extract_doc
from qs_spark.kernels.html_kernel import extract_main
from qs_spark.kernels.ocr_kernel import ocr_lines, stitch_page
from qs_spark.kernels.pdf_kernel import walk_pages
from qs_spark.kernels.sheet_kernel import chunk_frame, walk_sheets
from qs_spark.kernels.txt_kernel import chunk_text


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the kernel-independent serial reference is the sheet chunker's oracle
sys.path.insert(0, os.path.join(REPO, "tools"))
import serial_reference as sr  # noqa: E402


def _sp(kind, text="", media_ref="", offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


# ---- sheet chunker (ref excel/csv simple_reader_extractor) ----


def test_chunker_drops_last_fitting_row():
    # §2.12-1: iloc[_row:_p_row_num] is end-exclusive -> last row never emitted
    df = pd.DataFrame({"a": ["x1", "x2", "x3"], "b": ["y1", "y2", "y3"]})
    chunks = chunk_frame(df, chunk_size=102400)
    assert len(chunks) == 1
    assert "x2" in chunks[0] and "x3" not in chunks[0]


def test_chunker_single_row_emits_empty_frame_repr():
    # 1-row sheet -> to_string of an empty selection (pandas' Empty DataFrame repr)
    df = pd.DataFrame({"a": ["only"]})
    chunks = chunk_frame(df, chunk_size=102400)
    assert len(chunks) == 1
    assert chunks[0].startswith("Empty DataFrame")


def test_chunker_boundary_drops_row_per_chunk():
    df = pd.DataFrame({"a": [f"w{i:03d}" * 5 for i in range(40)]})
    one = df.to_string(index=False)
    # budget that splits roughly in half
    chunks = chunk_frame(df, chunk_size=len(one) // 2)
    assert len(chunks) >= 2
    # every chunk boundary loses one row: emitted rows < input rows
    emitted = sum(1 for i in range(40) if any(f"w{i:03d}" in c for c in chunks))
    assert emitted <= 40 - len(chunks)


def test_fast_chunker_equals_reference_loop():
    # the galloping/binary-search chunker must be byte-equal to the
    # reference's O(n^2) loop for every budget and shape
    import random

    from qs_spark.kernels.detstr import words

    rng = random.Random(7)
    for trial in range(25):
        n = rng.choice([1, 2, 3, 5, 10, 40])
        ncols = rng.randint(1, 4)
        df = pd.DataFrame(
            {
                f"c{c}": [
                    " ".join(words(("t", trial, r, c), rng.randint(1, 3))) for r in range(n)
                ]
                for c in range(ncols)
            }
        )
        full = df.to_string(index=False)
        for cs in [20, 100, len(full) // 2 + 2, len(full) + 1, 102400]:
            try:
                a = chunk_frame(df, cs)
            except ValueError:
                with pytest.raises(ValueError):
                    sr._greedy_chunks(df, cs)
                continue
            assert a == sr._greedy_chunks(df, cs), (trial, cs)
    # a >32-row frame incl. a >50-char cell (pandas truncation risk must be
    # in the validation sample)
    big = pd.DataFrame(
        {
            "a": ["x" * 120 if r == 77 else f"w{r}" for r in range(200)],
            "b": ["y"] * 200,
        }
    )
    for cs in (400, 5000, 102400):
        assert chunk_frame(big, cs) == sr._greedy_chunks(big, cs), cs


def test_unnamed_retry_loop():
    csv = ",,\ncola,colb,colc\n1,2,3\n4,5,6\n7,8,9"
    spans = [_sp("csv_rows", csv)]
    out = walk_sheets(spans, excel_mode=False)
    assert out, "junk header line should be skipped via the skiprows retry"
    assert "cola" in out[0]["text"]


def test_empty_sheet_skipped_excel_mode():
    out = walk_sheets([_sp("sheet_rows", "")], excel_mode=True)
    assert out == []


def test_first_chunk_empty_gate():
    # no chunks at all -> file contributes nothing (ref: docs[0] IndexError)
    assert walk_sheets([], excel_mode=True) == []


# ---- pdf walker (ref easyocr_extractor.read_file) ----


def test_pdf_empty_page_dropped_and_order_shifts():
    spans = [
        _sp("pdf_text", "page one"),
        _sp("pdf_text", ""),  # dropped
        _sp("pdf_text", "page three"),
    ]
    units = extract_doc(spans, "pdf")
    assert [(u["order"], u["text"]) for u in units] == [(0, "page one"), (1, "page three")]


def test_ocr_lines_join_with_trailing_newline():
    spans = [_sp("pdf_table", "r1 c1\nr2 c2")]
    units = walk_pages(spans)
    assert units[0]["kind"] == "ocr"
    assert units[0]["text"] == "r1 c1\nr2 c2\n"  # each line + "\n" (ref :46-48)


def test_ocr_media_ref_preserved_and_deterministic():
    spans = [_sp("pdf_figure", "", "media://docX/3")]
    u1 = walk_pages(spans)
    u2 = walk_pages(spans)
    assert u1 == u2
    if u1:  # unreadable refs (h%13==0) drop the page
        assert u1[0]["media_ref"] == "media://docX/3"
        assert u1[0]["text"].endswith("\n")


def test_ocr_retry_branch():
    # find a ref that is empty at 300 dpi but readable at 600 (h%7==0, h%13!=0)
    ref = None
    for i in range(3000):
        cand = f"media://retry/{i}"
        if not ocr_lines(cand, 300) and ocr_lines(cand, 600):
            ref = cand
            break
    assert ref is not None
    text = stitch_page(ref)
    assert text  # produced by the dpi*2 retry


def test_ocr_unreadable_page_dropped():
    ref = None
    for i in range(5000):
        cand = f"media://dead/{i}"
        if not ocr_lines(cand, 300) and not ocr_lines(cand, 600):
            ref = cand
            break
    assert ref is not None
    units = walk_pages([_sp("pdf_figure", "", ref), _sp("pdf_text", "after")])
    assert [u["text"] for u in units] == ["after"]


def test_plan_basic_vs_basic_plus():
    # ref extractor.py:80,119: pdf/docx run plan 'basic +' (OCR walker);
    # plan 'basic' = text layer only — tables verbatim, figures dropped
    spans = [
        _sp("pdf_text", "text page"),
        _sp("pdf_table", "t1 a\nt2 b"),
        _sp("pdf_figure", "", "media://plan/1"),
    ]
    plus = extract_doc(spans, "pdf", plan="basic +")
    basic = extract_doc(spans, "pdf", plan="basic")
    assert [u["kind"] for u in plus][:2] == ["pdf_text", "ocr"]
    assert [u["kind"] for u in basic] == ["pdf_text", "pdf_text"]  # figure dropped
    assert basic[1]["text"] == "t1 a\nt2 b"  # table text layer verbatim


# ---- docx -> pdf-walker mapping (ref doc easyocr_extractor: convert then walk) ----


def test_docx_blocks_map_to_pdf_kinds():
    spans = [
        _sp("docx_para", "hello world"),
        _sp("docx_table", "a b\nc d"),
        _sp("ocr_region", "", "media://docY/2"),
    ]
    units = extract_doc(spans, "docx")
    assert units[0]["kind"] == "pdf_text"
    assert units[1]["kind"] == "ocr"


# ---- txt ----


def test_txt_single_chunk_identity():
    t = "One sentence. Two sentence. Three."
    assert chunk_text(t, 102400) == [t]


def test_txt_multi_chunk_sentence_boundaries():
    t = "Aaaa bbbb. Cccc dddd. Eeee ffff. Gggg hhhh."
    chunks = chunk_text(t, 25)
    assert len(chunks) > 1
    for c in chunks:
        assert c.rstrip().endswith(".")


def test_txt_empty_file_no_output():
    assert extract_doc([_sp("txt", "")], "txt") == []


# ---- md passthrough ----


def test_md_whole_file_single_span():
    units = extract_doc([_sp("md", "# Title\nbody")], "md")
    assert len(units) == 1
    assert units[0]["kind"] == "raw"
    assert units[0]["text"] == "# Title\nbody"


# ---- html boilerplate strip ----


def test_html_strip_boilerplate():
    html = (
        "<html><head><script>x()</script><style>.c{}</style></head><body>"
        "<nav><a href='/'>home</a></nav>"
        "<main><p>real content here</p></main>"
        "<aside>ads</aside><footer>legal</footer></body></html>"
    )
    assert extract_main(html) == ["real content here"]


def test_html_link_density_drop():
    html = (
        "<body><p><a href='/a'>linky linky linky</a> x</p>"
        "<p>normal paragraph with plenty of plain text</p></body>"
    )
    blocks = extract_main(html)
    assert blocks == ["normal paragraph with plenty of plain text"]


def test_html_table_rows_and_entities():
    html = "<body><table><tr><td>a&amp;b</td><td>c</td></tr></table></body>"
    assert extract_main(html) == ["a&b | c"]


def test_html_empty_body():
    assert extract_main("<html><body><nav>x</nav></body></html>") == []


def test_order_is_position_after_drop():
    # §2.12-4: order = enumeration AFTER drops, never the physical position
    spans = [
        _sp("pdf_text", ""),
        _sp("pdf_text", "a"),
        _sp("pdf_text", ""),
        _sp("pdf_text", "b"),
    ]
    units = extract_doc(spans, "pdf")
    assert [(u["order"], u["text"]) for u in units] == [(0, "a"), (1, "b")]


def test_html_implied_end_tags_and_flush():
    from qs_spark.kernels.html_kernel import extract_main

    # unclosed <p>/<li> (HTML implied end tags) must not swallow content
    assert extract_main("<p>one<p>two</p>") == ["one", "two"]
    assert extract_main("<ul><li>a<li>b</li></ul>") == ["a", "b"]
    assert extract_main("<p>tail") == ["tail"]  # flushed at end of document
    # </li> unwinds an implied-open inner block
    assert extract_main("<li>a<p>b</li>") == ["b", "a"]
    # heading closes an open paragraph
    assert extract_main("<p>intro<h2>head</h2>") == ["intro", "head"]


def test_stitch_collapses_part_errors(spark):
    # mega-doc split path: one failing part => whole doc fails with a single
    # order=-1 error span, identical to safe_extract_doc's whole-doc
    # contract; healthy sibling docs renumber by (part_k, local_order)
    from qs_spark.extract import _stitch

    parts = spark.createDataFrame(
        [
            ("d", 0, 0, "pdf_text", "a", "", "pdf"),
            ("d", 1, -1, "error", "Boom: x", "", "pdf"),
            ("d", 1, 0, "pdf_text", "b", "", "pdf"),
            ("e", 1, 0, "pdf_text", "q", "", "pdf"),
            ("e", 0, 0, "pdf_text", "p", "", "pdf"),
            # errors in parts 2 and 0: the first by (part_k, local_order)
            # wins, whatever the input row order
            ("f", 2, -1, "error", "Late: z", "", "pdf"),
            ("f", 1, 0, "pdf_text", "m", "", "pdf"),
            ("f", 0, -1, "error", "Early: y", "", "pdf"),
            # a doc whose only part is an error
            ("g", 0, -1, "error", "Only: w", "", "pdf"),
        ],
        "doc_id string, part_k int, local_order int, kind string, "
        "text string, media_ref string, fmt string",
    )
    rows = _stitch(parts).collect()
    out = {(r.doc_id, r.order): r for r in rows}
    assert len(rows) == len(out) == 5
    assert out[("d", -1)].kind == "error" and out[("d", -1)].text == "Boom: x"
    assert out[("e", 0)].text == "p" and out[("e", 1)].text == "q"
    assert out[("f", -1)].kind == "error" and out[("f", -1)].text == "Early: y"
    assert out[("g", -1)].kind == "error" and out[("g", -1)].text == "Only: w"


def test_chunker_float_frames_stay_byte_equal():
    """r02 ADVICE (high): pandas formats float columns per printed sub-frame
    ('1.5' in a chunk of only 1.5-style values, '1.50' in the full frame), so
    no frozen cell projection is slice-stable for float64.  This frame
    diverged at chunk 11 under the pre-r03 formula path; a frame of
    slice-stable dtypes (int/bool/object) must stay byte-equal too."""
    df = pd.DataFrame({"a": [1.25] * 64 + [1.5] * 136, "b": ["x"] * 200})
    assert chunk_frame(df, 400) == sr._greedy_chunks(df, 400)
    df2 = pd.DataFrame({"a": range(200), "b": [True, False] * 100, "c": ["yy"] * 200})
    assert chunk_frame(df2, 400) == sr._greedy_chunks(df2, 400)


def test_chunker_float_hint_matches_reference():
    """Float frames must chunk byte-equal to the reference on decimal-varying,
    sign-varying and scientific-fallback frames (tiny and huge values)."""
    df = pd.DataFrame(
        {
            "f": [1.5, 1.25, 1000.125, -2.0, 0.0, 3.14159265] * 40,
            "g": [2.0, -0.5, 8.25, 123456.75, 0.001, 123.456] * 40,
            "s": ["ab", "c", "dd", "e", "ff", "g"] * 40,
        }
    )
    assert chunk_frame(df, 500) == sr._greedy_chunks(df, 500)
    df2 = pd.DataFrame({"f": [1e-7, 1.5, 2.5] * 30, "s": ["x", "yy", "z"] * 30})
    assert chunk_frame(df2, 300) == sr._greedy_chunks(df2, 300)
    df3 = pd.DataFrame({"f": [1e9, 1.5] * 30})
    assert chunk_frame(df3, 200) == sr._greedy_chunks(df3, 200)
    # 1e7 renders fixed at 15 chars (> digits+6): pandas flips the printed
    # slice to scientific
    df4 = pd.DataFrame({"f": [1e7, 2.5] * 30})
    assert chunk_frame(df4, 250) == sr._greedy_chunks(df4, 250)


def test_html_nested_table_keeps_outer_row():
    """r02 ADVICE: a nested table's <tr> must not implied-close the outer
    <tr>, and outer-cell text after the inner table must survive."""
    from qs_spark.kernels.html_kernel import extract_main

    h = (
        "<table><tr><td>a</td><td>x<table><tr><td>i1</td><td>i2</td></tr>"
        "</table> y</td></tr></table>"
    )
    assert extract_main(h) == ["i1 | i2", "a | x y"]
    # implied end tags still fire outside table scopes
    assert extract_main("<p>one<p>two") == ["one", "two"]
    assert extract_main("<table><tr><td>a</td><tr><td>b</td></table>") == ["a", "b"]
    # stray text directly inside <table> (outside any row) is chrome, dropped
    assert extract_main("<table>junk<tr><td>a</td></tr></table>") == ["a"]
    # a malformed end tag must not unwind across the table boundary
    assert extract_main("<ul><li>o<table></li></table>p</ul>") == ["op"]


# ---- pure (pandas-free) sheet path ----


@pytest.mark.parametrize(
    "text,excel,cs",
    [
        ("a,b_c\nfoo,bar baz\nqux x,y_z", True, None),
        ("a,b\nword one,two", False, None),  # 1 row -> empty-repr quirk
        (",,\nh0,h1,h2\ncell a,b,c\nd,e,f", True, None),  # junk retry
        (",,\n,,\nh0,h1,h2\naa,bb,cc\nd,e,f\ng,h,i", False, None),
        ("hdr_only,x", True, None),  # 0 data rows: excel skip
        ("hdr_only,x", False, None),  # 0 data rows: csv -> no chunks
        # multi-chunk with the dropped-row quirk (each row fits alone)
        ("h_a,h_b\naaa,bbb\nccc,ddd\neee,fff\nggg,hhh", True, 30),
        ("a,b\n" + "\n".join(f"w{i} x,yy zz" for i in range(30)), False, 90),
        # rows too wide to pair -> consecutive empty-repr emissions
        ("w0_col,x0,w1_col,x1\na b,c,d e,f\ng,h i,j,k", True, 50),
        # labels that legitimately start with "Unnamed" vs the retry test
        ("Unnamed_x,real_h\ncell,word", True, None),
        # retry loop exhausts in EXCEL mode: empty re-read -> sheet skipped
        # (the csv twin declines: see test_pure_sheet_declines_out_of_grammar)
        (",,\n,,", True, None),
    ],
    ids=[
        "words", "one_row", "junk_retry", "two_junk_retry", "hdr_only_excel",
        "hdr_only_csv", "dropped_rows", "many_chunks", "wide_rows",
        "unnamed_label", "excel_retry_exhausted",
    ],
)
def test_pure_sheet_in_grammar_matches_reference(text, excel, cs):
    """In-grammar sheets take the PURE path (never None) and chunk byte-equal
    to the serial reference's read_csv retry loop + greedy chunker."""
    import qs_spark.kernels.sheet_kernel as sk

    cs = cs or sk.CHUNK_SIZE
    got = sk._pure_sheet_chunks(text, excel, cs)
    assert got is not None
    df = sr._read_retry(text, excel)
    assert got == ([] if df is None else sr._greedy_chunks(df, cs))


def test_pure_sheet_parity_on_corpus_and_random_budgets():
    """The pandas-free parse+chunk must byte-match the serial reference's
    read_csv + greedy chunker on in-grammar corpus sheets — including
    which exceptions are raised (the message lands in the error span)."""
    import qs_spark.kernels.sheet_kernel as sk
    from qs_spark.corpus import gen_doc
    from qs_spark.kernels.dispatch import fmt_of_spans

    n_pure = 0
    for i in range(900):
        did, spans = gen_doc(i)
        fmt = fmt_of_spans(spans)
        if fmt not in ("xlsx", "csv"):
            continue
        excel = fmt == "xlsx"
        for sp in spans:
            text = sp["text"] or ""
            if text.count("\n") > 45:
                continue  # the O(rows^2) oracle is too slow on big sheets
            for cs in (sk.CHUNK_SIZE, 300, 120):
                try:
                    pure, perr = sk._pure_sheet_chunks(text, excel, cs), None
                except Exception as e:  # noqa: BLE001
                    pure, perr = "RAISED", f"{type(e).__name__}: {e}"
                try:
                    df = sr._read_retry(text, excel)
                    want = [] if df is None else sr._greedy_chunks(df, cs)
                    werr = None
                except Exception as e:  # noqa: BLE001
                    want, werr = "RAISED", f"{type(e).__name__}: {e}"
                if pure is None:
                    continue
                n_pure += 1
                if perr is not None:
                    assert perr == werr, (i, cs, perr, werr)
                else:
                    assert pure == want, (i, cs, text[:80])
    assert n_pure > 300  # the corpus grammar should ride the pure path


def test_pure_sheet_declines_out_of_grammar():
    """Quotes, numerics, NA/bool/inf tokens, empties, ragged rows, blank
    lines, dup labels: the pure path must decline (None) so read_csv's
    inference/error semantics stay authoritative."""
    import qs_spark.kernels.sheet_kernel as sk

    cases = [
        'a,b\n"q",x',
        "a,b\nx,1",
        "a,b\nx,2.5",
        "a,b\nx,",
        "a,b\nx,True",
        "a,b\nx,FALSE",
        "a,b\nx,NaN",
        "a,b\nx,na",
        "a,b\nx,inf",
        "a,b\nx,Infinity",
        "a,b\nx,y\n",
        "a,b\nx,y\n\nz,w",
        "a,a\nx,y",
        "a,b\nx,y,z",
        "a,b\nx,y\tz",
        # r05 vectorized-parse edges: the separator-position check must see
        # through compensating widths (2 cells + 3 cells around one header
        # width), non-ASCII cells (byte LUT is ASCII-only) and space-led
        # cells (first-byte class)
        "a,b\nxy\nz,w,q",
        "a,b\nx,é",
        "a,b\n x,y",
    ]
    for text in cases:
        for excel in (True, False):
            assert sk._pure_sheet_chunks(text, excel) is None, (text, excel)
    # csv-mode retry exhaustion must decline (EmptyDataError parity); the
    # excel twin skips the sheet (test_pure_sheet_in_grammar_matches_reference)
    assert sk._pure_sheet_chunks(",,\n,,", False) is None
    # 'x ' IS in grammar (trailing space allowed by [A-Za-z0-9_ ]*): must
    # AGREE with pandas, not decline
    got = sk._pure_sheet_chunks("a,b\nx ,y", False)
    df = sr._read_retry("a,b\nx ,y", False)
    assert got == sr._greedy_chunks(df, sk.CHUNK_SIZE)


def test_pure_sheet_unnamed_retry_and_quirks():
    import qs_spark.kernels.sheet_kernel as sk

    # junk header line -> retry consumes it, same as read_csv skiprows loop
    text = ",,\nh0,h1,h2\naa x,bb,cc\ndd,ee,ff"
    for excel in (True, False):
        pure = sk._pure_sheet_chunks(text, excel)
        df = sr._read_retry(text, excel)
        assert pure == sr._greedy_chunks(df, sk.CHUNK_SIZE)
    # 1-row sheet -> pandas' empty-frame repr, byte-exact
    pure = sk._pure_sheet_chunks("a,b_col\nonly,row", True)
    assert pure == ["Empty DataFrame\nColumns: [a, b_col]\nIndex: []"]
    # retry exhaustion in excel mode: sheet skipped without pandas
    assert sk._pure_sheet_chunks(",,\n,,", True) == []


_PANDAS_PROBE = """
import sys
import qs_spark.extract
from qs_spark.kernels.sheet_kernel import walk_sheets
def sheet(text):
    walk_sheets([{"kind": "sheet", "text": text, "media_ref": "", "offset": 0}], True)
    return "pandas" in sys.modules
before = "pandas" in sys.modules
print(before, sheet("a,b\\nfoo,bar"), sheet("a,b\\n1,2\\n3,4"))
"""


def test_extraction_import_leaves_pandas_unloaded():
    """Importing the extraction path loads no pandas (the driver and every
    Python worker import it before their first task), and neither does a
    fresh process's first PURE sheet; a numeric sheet, outside the PURE
    grammar, loads it through read_csv."""
    r = subprocess.run(
        [sys.executable, "-c", _PANDAS_PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert r.stdout.split() == ["False", "False", "True"]
