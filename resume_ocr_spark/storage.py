"""Pinned-storage discipline for long-lived sessions.

An operator that caches an intermediate frame for multi-branch reuse
(``jaccard_pairs_lsh(persist_words=True)``) cannot unpersist it itself —
its result is lazy, so releasing before the caller materializes would
recompute the very lineage the cache exists to avoid; the same holds for
a caller that persists its own input (a live extraction it analyses in
query mode). One-shot batch jobs can let session
teardown reclaim everything; a long-lived session that calls these
repeatedly would accumulate pinned executor storage instead (round-2
verdict ask #6). This module is the caller-side discipline:

    with persisted(extracted) as e:
        rows = analyze_documents(e, query=q).collect()
    # e is unpersisted here, success or raise

or, for an operator that hands back its internal cache handle
(``result.cached_words``)::

    release_handles(result)   # after materializing
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

#: attribute names operators use to expose internally-pinned frames
_HANDLE_ATTRS = ("cached_words",)


@contextmanager
def persisted(*dfs: DataFrame, blocking: bool = False) -> Iterator[DataFrame]:
    """Persist the given frame(s) for the block, unpersist on exit (success
    or raise). Yields the single frame, or the tuple when given several."""
    for df in dfs:
        df.persist()
    try:
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in dfs:
            df.unpersist(blocking=blocking)


def release_handles(result: DataFrame, blocking: bool = False) -> int:
    """Unpersist every cache handle an operator attached to ``result``
    (``cached_words`` from jaccard_pairs_lsh). Call after materializing.
    Returns the number of frames released; safe to call twice (unpersist
    is idempotent)."""
    released = 0
    for attr in _HANDLE_ATTRS:
        pinned = getattr(result, attr, None)
        if pinned is not None:
            pinned.unpersist(blocking=blocking)
            released += 1
    return released
