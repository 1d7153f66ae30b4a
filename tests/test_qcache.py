"""S14 (Redis search-response cache -> partitioned result-cache table) and
A6 (folder-size ops metric + index-backup trigger).

Reference semantics under test:
  - file_searcher.py:215-230: hit requires entry + all four guards + query
  - file_searcher.py:364-373: insert_one replaces the uid's whole blob
  - db/redis.py insert_one(ev.uid, cache_data, 3600): TTL
  - file_upload.py:348/:642, file_searcher.py:183: mutations delete the entry
  - utils/util.py:228-262: get_folder_size; file_upload.py:377-382: backup
    whenever size is an exact multiple of INDEX_BACKUP_MAX_SIZE
"""

from __future__ import annotations

import os

import pytest

from qs_spark import qcache as Q
from qs_spark.catalog import ParquetCatalog
from qs_spark.checkpoint import folder_size_bytes, index_backup_decision


@pytest.fixture()
def cat(tmp_path):
    return ParquetCatalog(str(tmp_path / "cache_wh"))


def _results(spark, rows):
    return spark.createDataFrame(
        rows, "document_name string, match_count long, relavence_score double"
    )


BASE = dict(uid="u1", query="spark join", total_docs=42, state="Publish",
            exact_match=False, realm={"r": "eu"}, now_ts=1000.0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_store_then_lookup_roundtrip(spark, cat):
    res = _results(spark, [("a.txt", 3, 82.5), ("b.txt", 1, 70.0)])
    Q.cache_store(cat, res, **BASE)
    hit = Q.cache_lookup(spark, cat, **BASE)
    assert hit is not None
    assert _rows(hit) == _rows(res)
    assert sorted(hit.columns) == sorted(res.columns)  # guards stripped


@pytest.mark.parametrize(
    "delta",
    [
        {"query": "other query"},
        {"total_docs": 43},
        {"state": "inter"},
        {"exact_match": True},
        {"realm": {"r": "us"}},
    ],
)
def test_any_guard_mismatch_is_a_miss(spark, cat, delta):
    Q.cache_store(cat, _results(spark, [("a.txt", 3, 82.5)]), **BASE)
    probe = {**BASE, **delta}
    assert Q.cache_lookup(spark, cat, **probe) is None
    # and the original still hits (the miss didn't disturb the entry)
    assert Q.cache_lookup(spark, cat, **BASE) is not None


def test_ttl_expiry(spark, cat):
    Q.cache_store(cat, _results(spark, [("a.txt", 3, 82.5)]), **BASE)
    late = {**BASE, "now_ts": BASE["now_ts"] + Q.CACHE_TTL_SEC + 1}
    assert Q.cache_lookup(spark, cat, **late) is None
    edge = {**BASE, "now_ts": BASE["now_ts"] + Q.CACHE_TTL_SEC}
    assert Q.cache_lookup(spark, cat, **edge) is not None  # <= ttl is fresh


def test_empty_result_set_is_cacheable(spark, cat):
    """A zero-row result must still REPLACE the previous entry (the marker
    row carries the overwrite); without it the stale entry would survive."""
    Q.cache_store(cat, _results(spark, [("a.txt", 3, 82.5)]), **BASE)
    new = {**BASE, "query": "no hits at all"}
    Q.cache_store(cat, _results(spark, []), **new)
    hit = Q.cache_lookup(spark, cat, **new)
    assert hit is not None and hit.count() == 0
    # the old query is gone — one blob per uid, like insert_one
    assert Q.cache_lookup(spark, cat, **BASE) is None


def test_store_replaces_previous_entry_per_uid(spark, cat):
    Q.cache_store(cat, _results(spark, [("a.txt", 3, 82.5)]), **BASE)
    new = {**BASE, "query": "batch window", "now_ts": 1500.0}
    Q.cache_store(cat, _results(spark, [("c.txt", 9, 91.0)]), **new)
    assert Q.cache_lookup(spark, cat, **BASE) is None
    hit = Q.cache_lookup(spark, cat, **new)
    assert _rows(hit) == [("c.txt", 9, 91.0)]


def test_uids_are_independent_and_invalidate_is_scoped(spark, cat):
    other = {**BASE, "uid": "u2"}
    Q.cache_store(cat, _results(spark, [("a.txt", 3, 82.5)]), **BASE)
    Q.cache_store(cat, _results(spark, [("z.txt", 1, 66.0)]), **other)
    Q.cache_invalidate(spark, cat, "u1")  # index mutation for u1
    assert Q.cache_lookup(spark, cat, **BASE) is None
    hit = Q.cache_lookup(spark, cat, **other)
    assert _rows(hit) == [("z.txt", 1, 66.0)]


def test_lookup_on_missing_table_and_unknown_uid(spark, cat):
    assert Q.cache_lookup(spark, cat, **BASE) is None
    Q.cache_store(cat, _results(spark, [("a.txt", 3, 82.5)]), **BASE)
    assert Q.cache_lookup(spark, cat, **{**BASE, "uid": "ghost"}) is None


# ---------- A6: folder size + backup trigger ----------


def test_folder_size_bytes_semantics(tmp_path):
    assert folder_size_bytes(str(tmp_path / "missing")) == 0
    f = tmp_path / "one.bin"
    f.write_bytes(b"x" * 1234)
    assert folder_size_bytes(str(f)) == 1234
    sub = tmp_path / "idx" / "deep"
    sub.mkdir(parents=True)
    (tmp_path / "idx" / "a.bin").write_bytes(b"a" * 100)
    (sub / "b.bin").write_bytes(b"b" * 23)
    assert folder_size_bytes(str(tmp_path / "idx")) == 123


def test_index_backup_decision_modulo_quirk():
    # quirk-faithful: exact multiple triggers (including 0), versioned name
    assert index_backup_decision(0, 1000, "bk") == (True, "bk_0")
    assert index_backup_decision(2000, 1000, "bk") == (True, "bk_2")
    assert index_backup_decision(2001, 1000, "bk") == (False, "bk")
    # degenerate max guards the reference's ZeroDivisionError path
    assert index_backup_decision(500, 0, "bk") == (False, "bk")


def test_cache_table_layout_is_uid_partitioned(spark, cat, tmp_path):
    """The scale contract: lookups prune to one uid directory."""
    Q.cache_store(cat, _results(spark, [("a.txt", 3, 82.5)]), **BASE)
    root = cat.path(Q.CACHE_TABLE)
    assert os.path.isdir(os.path.join(root, "__uid=u1"))


def test_delete_cascade_composes_with_cache(spark, cat):
    """The reference's delete workflow order (file_upload.py:481-651 cascade
    then :642 cache.delete_one): after a doc delete, (a) explicit
    invalidation clears the tenant's entry, and (b) even WITHOUT it the
    __td total-docs guard rejects the stale entry — the two staleness layers
    the reference runs."""
    from qs_spark.registry import delete_versions

    reg = spark.createDataFrame(
        [("d1", 1, "Publish"), ("d2", 1, "Publish")],
        "doc_id string, version_id int, state string",
    )
    spans = spark.createDataFrame(
        [("d1", 1, "alpha"), ("d2", 1, "beta")],
        "doc_id string, version_id int, text string",
    )
    td = reg.select("doc_id").distinct().count()
    Q.cache_store(
        cat, _results(spark, [("a.txt", 3, 82.5)]), **{**BASE, "total_docs": td}
    )
    reg2, spans2 = delete_versions(reg, spans, "d2", None)
    assert (reg2.count(), spans2.count()) == (1, 1)
    # layer 1: the guard self-heals — total docs changed, lookup misses
    td2 = reg2.select("doc_id").distinct().count()
    assert Q.cache_lookup(spark, cat, **{**BASE, "total_docs": td2}) is None
    # layer 2: the workflow's explicit delete_one analog
    Q.cache_invalidate(spark, cat, BASE["uid"])
    assert Q.cache_lookup(spark, cat, **{**BASE, "total_docs": td}) is None
