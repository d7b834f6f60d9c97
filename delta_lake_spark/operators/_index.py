"""Persistent corpus indexes: one maintenance lifecycle.

Five indexes keep corpus-side state that later batches probe instead of
re-reading the corpus: LSH signatures and winnowing fingerprints
(``dedup.py``), exact-substring grams (``dedup.py``), BM25 postings
(``text.py``) and PQ codes (``similarity.py``). Each is a few Delta
tables under one path:

- a PRIMARY table of rows keyed by doc id (buckets, fps, grams,
  postings, codes). It carries the frozen build parameters and the
  corpus version the index reflects (``syncedVersion``) as table
  properties under a family prefix, so every update and probe provably
  uses the same family;
- a REGISTRY table (sizes, lengths) holding the known-id set that makes
  ``update_*`` skip ids it already indexed, so a replayed update is a
  no-op. PQ has none: its codes table is its own registry.

Every family follows the same lifecycle, written here once:

``build_*``
    writes the tables and pins ``pin(prefix, params, corpus_version)``
    on the primary table. ``corpus_version`` is the corpus Delta version
    the build read; the default 0 is only right for a v0 snapshot.
``update_*``
    appends the rows of ids the registry does not hold yet.
``delete_from_*``
    ``delete_ids`` (GDPR propagation, as the MERGE-delete scrub of
    ``05_compliance.py``): one MERGE-delete per table. Deleting absent
    ids is a no-op, so a replay is idempotent.
``sync_*_from_cdf``
    ``sync_from_cdf``: re-index exactly the ids the corpus change feed
    touched since the pinned version.

Crash ordering. Each table write is one atomic commit; between them:

- append: primary FIRST, registry second. A crash between leaves ids
  indexed but unknown, the replay re-indexes them, and each probe
  tolerates the duplicate primary rows. Registry-first would leave ids
  known but unindexed, skipped by every later update.
- delete: registry FIRST, primary second. A crash between leaves ghost
  primary rows that the replay removes and each probe tolerates; a
  re-appended id is re-indexed because its registry row is gone.
  Primary-first would again strand ids as known but unindexed.
- sync: the version pin is the LAST commit. A crash anywhere earlier
  replays the whole loop from the old pin, and its delete and update
  steps are idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pinned(table: str, prefix: str) -> dict:
    """The properties pinned under ``prefix`` on ``table``, prefix
    stripped. Integer values come back as int, "true"/"false" as bool
    (the inverse of ``pin``); anything else as the stored string."""
    from ..log import DeltaLog

    conf = DeltaLog(table).snapshot().metadata.configuration
    out = {}
    for key, val in conf.items():
        if key.startswith(prefix):
            if val.lstrip("-").isdigit():
                val = int(val)
            elif val in ("true", "false"):
                val = val == "true"
            out[key[len(prefix):]] = val
    return out


def pin(prefix: str, params: dict, corpus_version: int) -> dict:
    """Table properties pinning ``params`` and ``syncedVersion`` =
    ``corpus_version`` under ``prefix`` (bools as "true"/"false")."""
    props = {**params, "syncedVersion": corpus_version}
    return {
        prefix + key: str(val).lower() if isinstance(val, bool) else str(val)
        for key, val in props.items()
    }


def delete_ids(ids: DataFrame, id_col: str, *paths: str) -> None:
    """MERGE-delete the rows of ``ids`` from each table in ``paths``,
    in the order given (registry first: see the module docstring)."""
    from ..table import DeltaTable

    spark = ids.sparkSession
    doomed = ids.select(id_col).distinct()
    for path in paths:
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(doomed, f"t.{id_col} = s.{id_col}", source_alias="s")
            .whenMatchedDelete()
            .execute()
        )


def sync_from_cdf(
    spark, corpus_path: str, pin_path: str, prefix: str, id_col: str, reindex
) -> int:
    """Bring an index from its pinned ``syncedVersion`` to the corpus
    head through the corpus change feed, at a cost bounded by what
    changed, not by the corpus:

      1. ``current`` = the corpus head; the touched ids are those of
         ``table_changes(corpus, syncedVersion + 1, current)``;
      2. ``reindex(touched, docs)`` deletes every touched id's index
         rows (stale rows of updated AND deleted docs) and then updates
         from ``docs``: the touched docs of the corpus snapshot AT
         ``current``, so a commit landing meanwhile is left to the next
         sync instead of being indexed under the older pin (ids deleted
         from the corpus simply are not there);
      3. pin ``syncedVersion = current`` on ``pin_path``, LAST.

    Returns the number of touched ids (0 = already in sync)."""
    from ..cdf import table_changes
    from ..log import DeltaLog
    from ..reader import read_delta
    from ..table import DeltaTable

    synced = pinned(pin_path, prefix).get("syncedVersion", 0)
    current = DeltaLog(corpus_path).latest_version()
    if current <= synced:
        return 0
    # persist the touched-ids set: the CDF file-multiset diff is the
    # expensive scan here, and without the cache every consumer (the
    # count, each MERGE-delete, the re-index semi-join) would recompute
    # it. Ids only, so the cache is mutation-sized, never corpus-sized
    touched = (
        table_changes(spark, corpus_path, synced + 1, current)
        .select(id_col)
        .distinct()
    ).persist()
    try:
        n_touched = touched.count()
        if n_touched:
            docs = read_delta(spark, corpus_path, version=current).join(
                touched, id_col, "left_semi"
            )
            reindex(touched, docs)
        DeltaTable.forPath(spark, pin_path).set_properties(
            {prefix + "syncedVersion": str(current)}
        )
    finally:
        touched.unpersist()
    return n_touched
