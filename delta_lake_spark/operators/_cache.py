"""Per-session state: persisted frames and get-or-build memos.

Every piece of state an operator or query keeps across calls lives in
one slot per session, keyed by ``id(session)``. The module offers three
calls:

``register_persisted(df, group, capacity)``
    Track a persisted NARROW summary (BM25 per-doc summaries,
    token-budget projections, graph edge sets, a query's report
    frames). Several plan branches consume such a summary and
    Catalyst's per-branch column pruning defeats exchange reuse for
    it, so it is cached; the registry bounds how many stay cached per
    (session, group) and unpersists the oldest beyond ``capacity``. A
    bounded LRU, not evict-on-next-call: building two plans before
    collecting either must not drop the first plan's cache.

``memo(spark, key, build)``
    One get-or-build entry per (session, key): the funnel stage sets
    and the trained models. ``build()`` returns ``(value, frames)``;
    ``frames`` are the persisted frames the entry owns. A second caller
    of the same key waits for the first build, different keys build
    concurrently, and a failed build re-raises in every waiter while
    the next call retries. Memoized values assume the inputs they were
    built from (a parquet directory) do not change for the session's
    lifetime.

``clear_session_caches(session=None)``
    The one clear: unpersist the session's registered and memo-owned
    frames and drop its memo entries (every session's when ``session``
    is None). Benchmarks call it between timed runs, since a repeat
    would otherwise be served the previous run's caches and memos.

Plan equality: Spark's CacheManager keeps one cache entry per logical
plan and ``unpersist`` drops the entry whose plan matches, so
unpersisting a frame also uncaches every live frame with the same plan
(a repeat call builds exactly such a frame). Eviction therefore skips
the unpersist when the evicted frame ``sameSemantics`` a frame the
session still holds; the cache then stays with that frame.

A WeakKeyDictionary keyed by SparkSession could never reclaim a slot:
the stored DataFrames strongly reference their session. Slots hold the
session strongly instead, and every access SWEEPS slots whose session
is stopped (their frames are unpersisted best-effort and dropped). One
lock guards the tables; builds and Spark jobs run outside it.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# id(session) -> {"session": SparkSession,
#                 "groups": {group: [df, ...]},
#                 "memo": {key: claim entry, see get_or_build}}
_REGISTRY: dict[int, dict] = {}
_LOCK = threading.Lock()


def _is_stopped(session) -> bool:
    try:
        return session._sc is None or session._sc._jsc is None
    except Exception:
        return True


def _frames(slot: dict) -> list[DataFrame]:
    """Every frame a slot holds: registered ones, then memo-owned ones
    (entries still building own none yet)."""
    frames = [df for dfs in slot["groups"].values() for df in dfs]
    for entry in slot["memo"].values():
        if entry["value"] is not None:
            frames.extend(entry["value"][1])
    return frames


def _slot_locked(session) -> tuple[dict, list[DataFrame]]:
    """The session's slot (created on first use) plus the frames of
    swept stopped sessions; caller holds the lock and unpersists the
    returned frames outside it."""
    stale: list[DataFrame] = []
    for key in [k for k, v in _REGISTRY.items() if _is_stopped(v["session"])]:
        stale.extend(_frames(_REGISTRY.pop(key)))
    slot = _REGISTRY.setdefault(
        id(session), {"session": session, "groups": {}, "memo": {}}
    )
    return slot, stale


def _unpersist(frames) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # cache belonged to a since-stopped SparkSession


def _shares_plan(df: DataFrame, frames: list[DataFrame]) -> bool:
    try:
        return any(df.sameSemantics(other) for other in frames)
    except Exception:
        return False  # a since-stopped session: nothing left to share


def get_or_build(table: dict, lock, key, build):
    """Return ``table[key]``, running ``build()`` to fill it on the first
    call. The first caller claims the key under ``lock`` and builds
    outside it; a concurrent caller of the same key waits for that
    build, callers of other keys do not. A failed build re-raises in
    every waiter and releases the claim, so the next call retries."""
    with lock:
        entry = table.get(key)
        claimed = entry is None
        if claimed:
            entry = {"event": threading.Event(), "value": None, "err": None}
            table[key] = entry
    if not claimed:
        entry["event"].wait()
        if entry["err"] is not None:
            raise entry["err"]
        return entry["value"]
    try:
        entry["value"] = build()
    except BaseException as e:
        entry["err"] = e
        with lock:
            if table.get(key) is entry:
                del table[key]
        raise
    finally:
        entry["event"].set()
    return entry["value"]


def memo(spark, key, build):
    """Get-or-build the (session, key) entry; ``build()`` returns
    ``(value, frames)`` and the entry owns ``frames`` until
    :func:`clear_session_caches`. Returns ``value``."""
    with _LOCK:
        slot, stale = _slot_locked(spark)
    _unpersist(stale)
    return get_or_build(slot["memo"], _LOCK, key, build)[0]


def clear_session_caches(session=None) -> None:
    """Unpersist every registered and memo-owned frame and drop the memo
    entries, for one session or (``session=None``) for all."""
    with _LOCK:
        keys = [id(session)] if session is not None else list(_REGISTRY)
        slots = [_REGISTRY.pop(k) for k in keys if k in _REGISTRY]
    _unpersist(df for slot in slots for df in _frames(slot))


def register_persisted(
    df: DataFrame, group: str, capacity: int = 4
) -> DataFrame:
    """Track a persisted summary; release the oldest entries beyond
    ``capacity`` live ones in this (session, group), unpersisting each
    unless a frame the session still holds has the same plan. Returns
    ``df``."""
    session = df.sparkSession
    with _LOCK:
        slot, stale = _slot_locked(session)
        entries = slot["groups"].setdefault(group, [])
        entries.append(df)
        evicted = entries[: max(0, len(entries) - capacity)]
        del entries[: len(evicted)]
        live = _frames(slot) if evicted else []
    _unpersist(stale)
    _unpersist(old for old in evicted if not _shares_plan(old, live))
    return df
