"""Pinned-storage discipline for long-lived sessions.

A caller that persists a frame for multi-branch reuse (a live extraction
it analyses in query mode, a micro-batch that feeds two sinks) must
release it once the reuse is over. One-shot batch jobs can let session
teardown reclaim everything; a long-lived session that persists
repeatedly would accumulate pinned executor storage instead (round-2
verdict ask #6). ``persisted`` scopes the pin to a block:

    with persisted(extracted) as e:
        rows = analyze_documents(e, query=q).collect()
    # e is unpersisted here, success or raise
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame


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
