"""Resume / idempotency (SURVEY.md §5-4): kill the checkpointed extraction
mid-table, re-run, and assert exactly-once span output + checkpoint
monotonicity.
"""

import pandas as pd
import pytest

from conftest import oracle_extract
from qs_spark.catalog import ParquetCatalog
from qs_spark.checkpoint import (
    CKPT_TABLE,
    SPANS_TABLE,
    committed_buckets,
    run_extract_checkpointed,
)
from qs_spark.corpus import corpus_df, gen_doc

N_DOCS = 150


def test_kill_and_resume_exactly_once(spark, tmp_path):
    cat = ParquetCatalog(str(tmp_path / "wh"))
    docs = corpus_df(spark, N_DOCS)

    # first run: crash after 1 committed wave (of 4)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_checkpointed(
            spark, docs, cat, run_id="r1", n_buckets=8, buckets_per_wave=2, fail_after_waves=1
        )
    done_after_crash = committed_buckets(spark, cat)
    assert 0 < len(done_after_crash) < 8

    # resume: completes only the remaining buckets
    out = run_extract_checkpointed(
        spark, docs, cat, run_id="r2", n_buckets=8, buckets_per_wave=2
    )
    got = (
        out.select("doc_id", "order", "kind", "text", "media_ref")
        .toPandas()
        .sort_values(["doc_id", "order"], kind="mergesort")
        .reset_index(drop=True)
    )
    got["order"] = got["order"].astype("int64")
    want = (
        oracle_extract([gen_doc(i) for i in range(N_DOCS)])
        .sort_values(["doc_id", "order"], kind="mergesort")
        .reset_index(drop=True)
    )
    # exactly-once: no dup spans, no missing spans
    pd.testing.assert_frame_equal(got, want)

    # checkpoint monotonicity: every bucket committed exactly once, r1's
    # buckets still owned by r1
    ck = cat.read(spark, CKPT_TABLE).toPandas()
    assert sorted(ck["bucket"]) == list(range(8))
    assert set(ck[ck.run_id == "r1"]["bucket"]) == done_after_crash


def test_rerun_is_noop_and_idempotent(spark, tmp_path):
    cat = ParquetCatalog(str(tmp_path / "wh2"))
    docs = corpus_df(spark, 60)
    run_extract_checkpointed(spark, docs, cat, run_id="a", n_buckets=4, buckets_per_wave=4)
    n1 = cat.read(spark, SPANS_TABLE).count()
    # second run: all buckets committed -> no work, same table
    run_extract_checkpointed(spark, docs, cat, run_id="b", n_buckets=4, buckets_per_wave=4)
    n2 = cat.read(spark, SPANS_TABLE).count()
    assert n1 == n2
    ck = cat.read(spark, CKPT_TABLE).toPandas()
    assert (ck["run_id"] == "a").all()  # no bucket was re-claimed


def test_lineage_doc_count_includes_spanless_docs(spark, tmp_path):
    """Docs with null or empty spans write no span row, but they are input
    docs of their bucket: the lineage doc_count must still count them,
    across a crash and a resume."""
    cat = ParquetCatalog(str(tmp_path / "wh3"))
    corpus = corpus_df(spark, 40)
    spanless = spark.createDataFrame(
        [(f"null_spans_{k}", None) for k in range(6)]
        + [(f"empty_spans_{k}", []) for k in range(6)],
        corpus.schema,
    )
    docs = corpus.unionByName(spanless)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_checkpointed(
            spark, docs, cat, run_id="c1", n_buckets=4, buckets_per_wave=2, fail_after_waves=1
        )
    run_extract_checkpointed(spark, docs, cat, run_id="c2", n_buckets=4, buckets_per_wave=2)
    ck = cat.read(spark, CKPT_TABLE).toPandas()
    assert sorted(ck["bucket"]) == list(range(4))
    assert int(ck["doc_count"].sum()) == 40 + 12
