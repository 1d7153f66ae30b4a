"""Query-scoped cache lifecycle.

Several operators cache a slim intermediate as a deliberate materialization
barrier (score_per_file, bm25l_phrase, near_dup_clusters' sketches — plan
audits in their docstrings).  In a long-lived session, every query would otherwise
leave its cached DataFrame behind, relying solely on LRU eviction under
executor memory pressure (round-2 ADVICE).  Operators register their caches
here; callers release them once the query's result is materialized — the
driver-contract wrapper in __spark_entry__ releases the previous query's
caches before each new query, bounding residency to one query's working set.
"""

from __future__ import annotations

_ACTIVE: list = []


def scoped_cache(df):
    """df.cache() that registers the handle for a later release_caches()."""
    df = df.cache()
    _ACTIVE.append(df)
    return df


def release_caches() -> int:
    """Unpersist every registered cache; returns how many were released.
    Safe to call with dead sessions (errors are swallowed — the JVM-side
    cache died with its session anyway)."""
    n = 0
    for df in _ACTIVE:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _ACTIVE.clear()
    return n
