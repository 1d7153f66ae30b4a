"""Property-based equivalence: the optimized chunker must be byte-equal to
the reference loop for ARBITRARY string frames and budgets (hypothesis)."""

import os
import sys

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from qs_spark.kernels.sheet_kernel import chunk_frame

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import serial_reference as sr  # noqa: E402

cell = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
    min_size=0,
    max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(st.lists(cell, min_size=2, max_size=4), min_size=1, max_size=60).filter(
        lambda rs: len({len(r) for r in rs}) == 1
    ),
    budget=st.integers(min_value=15, max_value=3000),
)
def test_fast_chunker_property(rows, budget):
    df = pd.DataFrame(rows, columns=[f"c{i}" for i in range(len(rows[0]))])
    try:
        fast = chunk_frame(df, budget)
    except ValueError:
        try:
            sr._greedy_chunks(df, budget)
            raise AssertionError("fast raised, reference did not")
        except ValueError:
            return
    assert fast == sr._greedy_chunks(df, budget)


# mixed-dtype frames: ints at the int64 edges, floats incl. nan/inf, bools,
# None, unicode, tab/newline escapes, and datetimes — exercises pandas'
# per-dtype formatters under the galloping chunker (4k seeded examples
# passed offline before this was frozen at a CI-sized budget).
_mixed_val = st.one_of(
    st.text(max_size=10),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.booleans(),
    st.none(),
    st.sampled_from(["a\tb", "x\ny", "c\rd", "é", "", " ", "  pad", "trail  "]),
    st.datetimes(),
)


@settings(max_examples=80, deadline=None)
@given(
    rows=st.lists(
        st.lists(_mixed_val, min_size=1, max_size=4), min_size=1, max_size=25
    ).filter(lambda rs: len({len(r) for r in rs}) == 1),
    budget=st.integers(min_value=10, max_value=2000),
    hdr=st.sampled_from(
        [["c0", "c1", "c2", "c3"], [" a", "b ", "\tq", "x"], ["n", "n2", "N", "_"]]
    ),
)
def test_fast_chunker_property_mixed_dtypes(rows, budget, hdr):
    df = pd.DataFrame(rows, columns=hdr[: len(rows[0])])
    try:
        fast = chunk_frame(df, budget)
    except ValueError:
        try:
            sr._greedy_chunks(df, budget)
            raise AssertionError("fast raised, reference did not")
        except ValueError:
            return
    assert fast == sr._greedy_chunks(df, budget)
