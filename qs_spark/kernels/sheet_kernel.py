"""Excel / CSV sheet walker + greedy chunker.

Reproduces the reference loaders' observable behavior exactly
(ameya_parser_excel whl!.../excel/extractors/simple_reader_extractor.py:16-142,
 ameya_parser_csv   whl!.../csv/extractors/simple_reader_extractor.py:14-72):

  1. read sheet -> pandas DataFrame (header = first row)
  2. "Unnamed" retry loop: while ALL column names start with "Unnamed",
     re-read with skiprows=count+1, incrementing count each pass
     (excel variant additionally bails if the re-read is empty and skips an
     empty sheet; the csv variant has no empty checks)
  3. greedy chunker over rows, budget chunk_size=102400 chars of
     df.to_string(index=False):

        while _row < num_rows:
            _p_row_num = 0
            for i in range(_row, num_rows):
                if len(to_string(rows _row..i)) < chunk_size: _p_row_num = i
                else: break
            emit to_string(rows _row.._p_row_num-1)      # EXCLUSIVE end:
            _row = _p_row_num + 1                        # row _p_row_num is
                                                         # silently dropped

     Two load-bearing quirks (SURVEY.md §2.12):
       - the last fitting row of every chunk window is never emitted
         (iloc[_row:_p_row_num] is end-exclusive);
       - a 1-row sheet yields to_string of an EMPTY frame
         ("Empty DataFrame\\nColumns: [...]\\nIndex: []") — pandas' repr for
         an empty selection — which is truthy and therefore stored.

Our input raw span carries the sheet serialized as CSV text (one span per
sheet, kind 'sheet_rows' / 'csv_rows'); parsing uses pandas.read_csv exactly
like the reference CSV loader, and the excel path shares it (the reference's
read_excel lands in the same DataFrame shape).  Byte-equality of to_string
output holds because oracle and pipeline run the same in-process pandas.
Only the reference's text rendering exists: the consumer pins the loaders'
text result type, so their to_markdown branch is never reached.

Each sheet takes exactly one of two paths, both byte-equal to the reference
(tested against the serial reference's greedy loop, tools/serial_reference.py):

  PURE: sheets whose data region provably parses to an all-object frame of
     plain strings (every cell [A-Za-z_][A-Za-z0-9_ ]*, no coercible
     bool/NA/inf token) skip pandas ENTIRELY — str.split tokenization, a
     closed-form width model, direct render.  pandas' per-call parser
     construction (~1.3 ms/sheet regardless of size) was 55% of the whole
     extraction kernel's CPU; this path is ~15x cheaper per small sheet and
     carries the generated corpus's sheets.  It loads no pandas (see
     _pure_sheet_chunks for the full gate list).
  PANDAS: everything else — plain read_csv (with the retry loop), then
     chunk_frame: galloping + binary search over real to_string lengths,
     O(log rows) probes per chunk (len(to_string) is monotone in the row
     count).  Correctness rides on pandas' own formatter, never on a model.
"""

from __future__ import annotations

import io
from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:  # annotations only: pandas loads with the first non-PURE sheet
    import pandas as pd

CHUNK_SIZE = 102400  # ref: simple_reader_extractor.py:18 (excel/csv/txt)


def _read_with_unnamed_retry(sheet_csv: str, excel_mode: bool) -> pd.DataFrame | None:
    """Parse + reproduce the all-Unnamed skiprows retry loop.
    EmptyDataError propagates where the reference lets it (csv mode).
    The only pandas caller: the PURE path parses without it, so a process
    stays pandas-free until its first sheet outside the PURE grammar."""
    import pandas as pd

    try:
        df = pd.read_csv(io.StringIO(sheet_csv))
    except pd.errors.EmptyDataError:
        return None
    count = 0
    while True:
        if all(str(col).startswith("Unnamed") for col in df.columns):
            try:
                df = pd.read_csv(io.StringIO(sheet_csv), skiprows=count + 1)
            except pd.errors.EmptyDataError:
                if excel_mode:
                    return None  # ref excel: `if df.empty: break` -> skip sheet
                raise  # ref csv has no guard: the error propagates, file fails
            if excel_mode and df.empty:
                return None
            count += 1
        else:
            break
    if excel_mode and df.empty:
        return None  # ref excel `if df.empty: continue`
    return df


def chunk_frame(df: pd.DataFrame, chunk_size: int = CHUNK_SIZE) -> list[str]:
    """Semantics-identical pandas-path chunker (byte-equal to the reference's
    O(rows^2) greedy loop, asserted in tests and by the independently-
    generated x33 golden).

    len(df.iloc[a:i+1].to_string(index=False)) is monotone nondecreasing in i
    (more lines, column widths only grow), so the reference inner loop's
    "largest i with len < chunk_size" is located by galloping + binary search
    over real to_string lengths instead of formatting every prefix.

    The reference quirk where the FIRST probe already overflowing leaves
    _p_row_num at 0 (and the loop would regress) is reproduced/guarded
    identically.
    """
    num_rows = df.shape[0]
    _row = 0
    chunks: list[str] = []

    def fits(i: int) -> bool:  # len(to_string(rows _row..i)) < chunk_size
        return len(df.iloc[_row : i + 1].to_string(index=False)) < chunk_size

    while _row < num_rows:
        if fits(num_rows - 1):
            # common case: the whole remainder fits -> one probe total
            _p_row_num = num_rows - 1
        elif not fits(_row):
            _p_row_num = 0  # reference: inner loop breaks on first probe
        else:
            lo = _row  # known fitting
            step = 1
            hi = None
            while hi is None:
                probe = lo + step
                if probe >= num_rows:
                    hi = num_rows - 1  # not fits (checked above)
                elif fits(probe):
                    lo = probe
                    step *= 2
                else:
                    hi = probe
            while hi - lo > 1:  # invariant: fits(lo), not fits(hi)
                mid = (lo + hi) // 2
                if fits(mid):
                    lo = mid
                else:
                    hi = mid
            _p_row_num = lo
        if _p_row_num + 1 <= _row and _row > 0:
            raise ValueError(
                f"row {_row} alone exceeds chunk_size={chunk_size}; "
                "reference semantics would loop forever"
            )
        chunks.append(df.iloc[_row:_p_row_num].to_string(index=False))
        _row = _p_row_num + 1
    return chunks


# ---------------------------------------------------------------------------
# PURE path: pandas-free parse + chunk for the restricted sheet grammar
# ---------------------------------------------------------------------------
#
# pandas' per-call parser construction (TextFileReader -> engine -> C wrapper)
# costs ~1.3 ms per sheet regardless of size and dominated the kernel profile
# (xlsx+csv = 81% of extraction CPU, >half of it in read machinery).  For
# sheets whose DATA region provably parses to an all-object frame of plain
# strings — every cell matches [A-Za-z_][A-Za-z0-9_ ]* and is not a token
# pandas would coerce (bool/NA/inf spellings; the leading-letter rule already
# excludes every numeric form) — read_csv is observationally equivalent to
# str.split, and to_string to a closed-form width model
# (_closed_form_boundary + _render_rows below).  Anything outside the
# grammar (quotes, CR, blank lines, empty/numeric/coercible cells, ragged
# rows, duplicate or all-"Unnamed" labels that would exhaust the retry
# loop) returns None and falls back to the pandas path, so error messages
# and exotic inference stay byte-exact.


def _escape(s: str) -> str:
    """pprint_thing's escape_chars=('\\t','\\r','\\n') applied to a cell."""
    if "\t" in s or "\r" in s or "\n" in s:
        return s.replace("\t", "\\t").replace("\r", "\\r").replace("\n", "\\n")
    return s


def _fmt_labels(cols) -> list[str]:
    """Column labels exactly as pandas' Index._format_with_header renders
    them for a string/object column Index (the only kind read_csv yields):
    format_array adds ONE leading space to every escaped label
    (leading_space=True), then trim_front strips leading ASCII spaces — one
    per round, only while ALL labels are non-empty AND all start with ' '
    (so ' a ' prints as 'a ', [' a', 'b'] keeps ' a' because 'b' has no
    space to share, and '\\xa0a' keeps its non-breaking space — found by the
    sheet fuzzer on space-led and unicode-whitespace headers)."""
    out = [" " + _escape(str(c)) for c in cols]
    while all(out) and all(x[0] == " " for x in out):
        out = [x[1:] for x in out]
    return out


def _render_rows(
    rows: list[tuple], hdr: list[str], widths: list[int], a: int, b: int
) -> str:
    """Byte-equal stand-in for df.iloc[a:b].to_string(index=False) on a
    non-empty slice of a pure-path sheet: every cell (and header) right-
    justified to the column's max width within THE SLICE, single-space
    column join, newline row join.

    rows is ROW-major (one tuple of formatted cell strings per row).  The
    rendering rides one %-format per line ('%7s %4s ...'): '%Ns' on a str
    right-justifies exactly like str.rjust (incl. the no-truncation case
    where the cell is wider than N), and measured 2.7x faster than a
    per-cell rjust generator join."""
    fmt = " ".join("%%%ds" % w for w in widths)
    lines = [fmt % tuple(hdr)]
    lines += [fmt % r for r in rows[a:b]]
    return "\n".join(lines)


def _closed_form_boundary(lens, hdr_len, a: int, n: int, chunk_size: int) -> int:
    """largest i in [a, n) with modeled len(to_string(rows a..i)) < chunk_size,
    else -1.  len = n_lines*(sum(col_widths)+ncols-1)+n_lines-1.

    The scan window is capped: every column width is >= its header width, so
    a chunk of r rows models at least (r+2)*(sum(hdr_len)+ncols) - 1 chars —
    rows beyond chunk_size // that-per-line-floor can never be in this chunk.
    The cap turns the per-chunk running-max over the whole remaining tail
    (quadratic across a many-chunk sheet) into a bounded window."""
    per_line_floor = int(hdr_len.sum()) + lens.shape[1]
    cap = min(n - a, chunk_size // max(per_line_floor, 1) + 1)
    w = np.maximum.accumulate(lens[a : a + cap], axis=0)
    sw = np.maximum(w, hdr_len).sum(axis=1)
    ll = np.arange(2, cap + 2, dtype="int64")  # lines incl header
    total = ll * (sw + lens.shape[1] - 1) + ll - 1
    idx = int(np.searchsorted(total, chunk_size))  # first >= chunk_size
    return a + idx - 1 if idx > 0 else -1


def _chunk_from_cells(
    rows: list[tuple],
    hdr: list[str],
    hdr_len: np.ndarray,
    lens: np.ndarray,
    empty_repr: str,
    chunk_size: int,
) -> list[str]:
    """The reference's greedy chunk loop over pre-formatted slice-stable
    cells: closed-form boundary location + direct render, zero pandas calls.
    Byte-equality with the reference's greedy loop is pinned by the tests.

    rows: row-major formatted cell strings; lens: (n_rows, n_cols) int64
    matrix of their lengths; empty_repr: pandas' empty-selection repr, the
    chunk a window emits when only its first row fits (1-row-sheet quirk)."""
    num_rows = len(rows)
    chunks: list[str] = []
    _row = 0
    while _row < num_rows:
        b = _closed_form_boundary(lens, hdr_len, _row, num_rows, chunk_size)
        _p_row_num = b if b >= 0 else 0
        if _p_row_num + 1 <= _row and _row > 0:
            raise ValueError(
                f"row {_row} alone exceeds chunk_size={chunk_size}; "
                "reference semantics would loop forever"
            )
        if _p_row_num > _row:
            w = np.maximum(hdr_len, lens[_row:_p_row_num].max(axis=0))
            chunks.append(_render_rows(rows, hdr, [int(x) for x in w], _row, _p_row_num))
        else:
            chunks.append(empty_repr)
        _row = _p_row_num + 1
    return chunks


# one data line: non-empty cells matching [A-Za-z_][A-Za-z0-9_ ]*, comma-
# joined -- the leading letter makes numeric coercion impossible, the charset
# makes quote/escape/NA-with-punctuation forms impossible.  Enforced by the
# byte-class LUT passes in _pure_sheet_chunks (formerly a whole-block regex).
# cells pandas' C parser would coerce to bool/NaN/inf despite the letter
# lead-in, checked as a WHOLE (lowered) cell via set membership on the
# first-byte-gated suspects — formerly a whole-block lower()+regex pass.
_PURE_BAD_TOKENS = frozenset(
    ["true", "false", "na", "nan", "null", "none", "inf", "infinity"]
)

# byte-class LUT for the data block: letters, digits, '_', ' ', ',', '\n'
# (the data-line charset above plus the two separators).  A cell's FIRST
# byte must additionally be a letter/underscore — checked vectorized below.
_PURE_LUT = np.zeros(256, dtype=bool)
for _c in b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_ ,\n":
    _PURE_LUT[_c] = True
_PURE_FIRST_LUT = np.zeros(256, dtype=bool)
for _c in b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_":
    _PURE_FIRST_LUT[_c] = True
# first bytes of the coercible tokens (true/false/nan/na/null/none/inf...):
# only a block containing a cell starting with one of these needs the
# (allocation-heavy) lower()+regex confirmation pass
_PURE_BAD_FIRST_LUT = np.zeros(256, dtype=bool)
for _c in b"tfniTFNI":
    _PURE_BAD_FIRST_LUT[_c] = True
del _c


def _pure_sheet_chunks(
    text: str, excel_mode: bool, chunk_size: int = CHUNK_SIZE
) -> list[str] | None:
    """Parse + unnamed-retry + chunk one sheet without pandas, or None when
    the input is outside the validated grammar (caller falls back to the
    read_csv path).  A non-None return is authoritative (possibly [] for a
    skipped/empty sheet).

    The data region is validated and measured in a handful of vectorized
    numpy passes over the raw bytes (separator positions -> cell lengths +
    raggedness; byte-class LUTs -> charset; first-byte gate -> the rare
    coercible-token confirmation), replacing the former whole-block regex +
    per-row len() sweep.  Byte-equality with the pandas path is pinned by
    the in-grammar, decline and parity tests."""
    # NUL and BOM break the verbatim-header model BEFORE the data-block
    # charset gate runs: pandas' C parser truncates a header cell at '\x00'
    # ('\x00a' -> empty -> 'Unnamed: 0', which must trigger the retry loop
    # and, in csv mode, the reference's propagated EmptyDataError) and
    # strips a leading U+FEFF BOM — found by the dispatch fuzz, so opt out
    # with the quote/CR cases and let the pandas path decide
    if '"' in text or "\r" in text or "\x00" in text or "\ufeff" in text:
        return None
    # any empty line (leading/trailing/blank) <=> pandas semantics differ;
    # equivalent to the former '"" in text.split("\n")' without the split
    if not text or text[0] == "\n" or text[-1] == "\n" or "\n\n" in text:
        return None

    # EVERY pandas read in the Unnamed-retry loop parses from its skiprows
    # offset to the END of the text, so a line with MORE fields than an
    # EARLIER read's header raises ParserError (or flips implicit-index
    # promotion) before the lazy peel below ever reaches it — found by the
    # sheet fuzzer: 'Unnamed: 0\nUnnamed: 0\na,bb' errors on read 0
    # ("Expected 1 fields in line 3, saw 2") while the peel would accept
    # header 'a,bb' at read 2.  Require a fully UNIFORM comma-count matrix
    # up front (',' and '\n' are unambiguous single bytes in UTF-8): every
    # read is then raggedness-free and the peel is an exact model; anything
    # non-uniform falls back to the pandas path.
    _ub = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    _cc = np.cumsum(_ub == 44)
    _nl_pos = np.flatnonzero(_ub == 10)
    _per_line = np.diff(
        np.concatenate(([0], _cc[_nl_pos], [int(_cc[-1])]))
    )
    if _per_line.size > 1 and (_per_line != _per_line[0]).any():
        return None

    # header + the reference's all-"Unnamed" skiprows retry loop
    # (_read_with_unnamed_retry): re-read with one more leading line skipped
    # until some label doesn't start with "Unnamed".  Lines are peeled
    # lazily (one find per retry) -- most sheets take zero retries.
    n = len(text)
    nl = text.find("\n")
    hdr_line = text[:nl] if nl != -1 else text
    if not hdr_line.strip():
        # a whitespace-only line is BLANK to pandas (skip_blank_lines covers
        # it even when non-empty: ' \nx' parses with header 'x'), which the
        # verbatim line model can't express — pandas path (dispatch fuzz)
        return None
    fields = hdr_line.split(",")
    labels = [f if f else f"Unnamed: {i}" for i, f in enumerate(fields)]
    while all(l.startswith("Unnamed") for l in labels):
        if nl == -1:
            # re-read would raise EmptyDataError (excel: skip sheet; csv:
            # propagate with pandas' exact message) -> pandas path decides
            return None
        off = nl + 1
        nl = text.find("\n", off)
        hdr_line = text[off:nl] if nl != -1 else text[off:]
        if not hdr_line.strip():
            return None  # blank-to-pandas candidate line, as above
        fields = hdr_line.split(",")
        labels = [f if f else f"Unnamed: {i}" for i, f in enumerate(fields)]
        if excel_mode and nl == -1:
            return []  # ref: `if df.empty: return None` right after a re-read
    if len(set(labels)) != len(labels):
        return None  # mangle-dedupe (.1 suffixes) -> pandas path

    if nl == -1:
        # 0-row frame: excel skips it (post-loop df.empty check); csv chunks
        # it to nothing (chunk_frame of an empty frame)
        return []
    block = text[nl + 1 :]
    try:
        buf = np.frombuffer(block.encode("ascii"), dtype=np.uint8)
    except UnicodeEncodeError:
        return None  # non-ASCII is outside the grammar

    ncols = len(fields)
    sep = (buf == 44) | (buf == 10)  # ',' '\n'
    pos = np.flatnonzero(sep)
    nrows = int((buf == 10).sum()) + 1
    if len(pos) != nrows * ncols - 1:
        return None  # ragged -> pandas' index-promotion semantics
    if ncols > 1:
        # newlines must land exactly every ncols-th separator
        expect_nl = np.zeros(len(pos), dtype=bool)
        expect_nl[ncols - 1 :: ncols] = True
        if not np.array_equal(buf[pos] == 10, expect_nl):
            return None  # ragged rows with compensating widths
    bounds = np.empty(len(pos) + 2, dtype=np.int64)
    bounds[0] = -1
    bounds[1:-1] = pos
    bounds[-1] = len(buf)
    lens_flat = bounds[1:] - bounds[:-1] - 1
    if not lens_flat.all():
        return None  # empty cell
    first = buf[bounds[:-1] + 1]
    if not _PURE_FIRST_LUT[first].all() or not _PURE_LUT[buf].all():
        return None  # cell not letter/underscore-led, or charset violation
    # bool/NA/inf spellings pandas would coerce: only cells whose first byte
    # is in tfni/TFNI can be one, so slice just those and set-test them
    suspect = np.flatnonzero(_PURE_BAD_FIRST_LUT[first])
    if suspect.size:
        starts = bounds[:-1] + 1
        ends = bounds[1:]
        for i in suspect:
            if block[starts[i] : ends[i]].lower() in _PURE_BAD_TOKENS:
                return None

    rows = [tuple(ln.split(",")) for ln in block.split("\n")]
    lens = lens_flat.reshape(nrows, ncols)
    # rendered headers: the _fmt_labels render (the pure grammar's frames
    # are all-object, so no numeric leading space); the empty-selection
    # repr keeps the VERBATIM labels (pandas prints the raw column Index
    # there, untrimmed)
    hdr = _fmt_labels(labels)
    hdr_len = np.array([len(h) for h in hdr], dtype="int64")
    empty_repr = "Empty DataFrame\nColumns: [%s]\nIndex: []" % ", ".join(labels)
    return _chunk_from_cells(rows, hdr, hdr_len, lens, empty_repr, chunk_size)


def walk_sheets(
    raw_spans: list[dict], excel_mode: bool, chunk_size: int = CHUNK_SIZE
) -> list[dict]:
    """All sheets of one workbook (one raw span per sheet, in sheet order) ->
    concatenated chunk streams as {kind:'table_chunk', text, media_ref:''}.

    File-level gate (ref simple_directory_reader: `if not docs[0].text`):
    if the FIRST emitted chunk has falsy text the whole file is skipped; if no
    chunks at all were produced the reference raises (docs[0] IndexError ->
    extraction error) and the file contributes nothing.
    """
    chunks: list[str] = []
    for sp in raw_spans:
        text = sp["text"] or ""
        pure = _pure_sheet_chunks(text, excel_mode, chunk_size)
        if pure is not None:
            chunks.extend(pure)
            continue
        df = _read_with_unnamed_retry(text, excel_mode)
        if df is None:
            continue
        chunks.extend(chunk_frame(df, chunk_size))
    if not chunks or not chunks[0]:
        return []
    return [{"kind": "table_chunk", "text": c, "media_ref": ""} for c in chunks]
