"""Session-scoped memo hygiene shared by the training/cluster caches.

Several deterministic driver-side training results are memoized per
(applicationId, ...) — k-means centroids and PQ codebooks
(`operators/similarity.py`), BPE merge lists (`operators/textprep.py`),
converged dedup-cluster frames (`operators/graph.py`), the cached scan
handles and the physical table schemas (`datasets.py`). The
applicationId key guarantees a NEW session never sees a dead session's
JVM-bound objects, but by itself it only ORPHANS the old entries
(ADVICE r5): a long-lived process cycling SparkSessions would
accumulate DataFrames pinned to stopped SparkContexts. Every memo
therefore drops, on a cache miss, all entries whose applicationId
differs from the live one (:func:`evict_stale`) — the dict holds at
most one session's worth of state.

Known caveat (documented, deliberate): WITHIN one session the training
and cluster memos serve the result computed from the parquet under
``sf_dir`` at first call — if the files are rewritten in place
mid-session, those memos are stale until the session (or applicationId)
changes. The engine's query surface treats sf_dir datasets as immutable
snapshots; mutating sinks write elsewhere. The schema memo behind
``datasets.load`` does not share the caveat: its key carries each
file's size and mtime, so a rewritten file is inferred again.
"""

from __future__ import annotations


def evict_stale(memo: dict, app_id: str) -> None:
    """Drop every memo entry belonging to another applicationId.

    Keys must be tuples whose first element is the applicationId. Called
    on a cache miss (the only time the dict can grow), so the sweep is
    O(entries) on the rare session-change path and free on hits.

    Thread-safety (ADVICE r6): the deliberately-unlocked memos
    (_TRAIN_MEMO, _BPE_MEMO, _CLUSTER_MEMO) tolerate a double-compute
    race, but iterating the live dict while another thread's first
    construction inserts would raise RuntimeError("dictionary changed
    size during iteration"). ``list(memo)`` snapshots the keys in one
    atomic bytecode op under the GIL, and ``pop(k, None)`` tolerates a
    concurrent evictor having removed the key already — so the worst
    case stays double-compute, never a crash.
    """
    for k in list(memo):
        if k[0] != app_id:
            memo.pop(k, None)
