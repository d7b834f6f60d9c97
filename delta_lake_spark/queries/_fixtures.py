"""Process-scoped on-disk fixture memo for the multi-commit index
queries (q129 / q140 / q146 / q148 / q151).

Those queries each stage the same deterministic artifacts before the
work they actually test: a CDF-enabled Delta corpus (write v0, append
a day-2 batch, GDPR-delete every 10th id) and a BASE index built from
the v0 snapshot (LSH signatures / BM25 postings / PQ codes). Every
artifact is a pure function of (sf_dir, recipe) — identical rows in,
identical Delta state out — so building them once per process and
letting each query replay only its own mutation tail changes NOTHING
about what the query computes; it only stops the gate from paying the
same dozen sequential Delta commits five times over. A production
corpus works the same way: the corpus table and its base index exist
ONCE, and each maintenance or serving job starts from them.

Sharing discipline:
  - corpus tables are READ-ONLY for every consumer (they read
    snapshots and `table_changes`; nothing commits to them) -> handed
    out directly.
  - base indexes are MUTATED by sync/update consumers -> handed out
    as clone-on-write directory copies (`clone_index`). Data files in
    this engine's Delta log are table-relative (log.py:22), so a
    recursive copy is a fully independent, valid table.

Immutability contract (mirrors the session memo, operators/_cache.py):
the parquet under ``sf_dir`` is assumed immutable for the process
lifetime. The memo key is (kind, sf_dir); artifacts live under a
per-PID scratch root so concurrent pytest workers never share
half-built state. The memo is process-scoped, not per session, because
its artifacts are directories and not session objects; its claims are
the session memo's (``get_or_build``): a second consumer of one key
waits for the first build, and independent artifacts (a query's corpus
table and base index both derive from the parquet, not from each
other; see fetch_parallel) build concurrently.
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading

from pyspark.sql import functions as F

from ..operators._cache import get_or_build
from .relational import _t

_FIX_ROOT = f"/tmp/dls_query_tables/fixtures_{os.getpid()}"
# (kind, sf_dir) -> claim entry whose value is the artifact directory
_MEMO: dict[tuple[str, str], dict] = {}
_LOCK = threading.Lock()
_CLONES = itertools.count()


def _path(kind: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    return os.path.join(_FIX_ROOT, f"{kind}_{tag}")


def _memoized(kind: str, sf_dir: str, build) -> str:
    def build_dir():
        path = _path(kind, sf_dir)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        try:
            build(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        return path

    return get_or_build(_MEMO, _LOCK, (kind, sf_dir), build_dir)


def fetch_parallel(*thunks):
    """Evaluate independent fixture getters concurrently (each build
    is its own set of Spark jobs — the scheduler interleaves them) and
    return their results in order. Used by the first consumer of a
    (corpus, base index) pair: the two artifacts derive independently
    from the source parquet, so first-touch cost is max(), not
    sum()."""
    results = [None] * len(thunks)
    errs: list[BaseException] = []

    def run(i):
        try:
            results[i] = thunks[i]()
        except BaseException as e:
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(i,), daemon=True)
        for i in range(len(thunks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return results


def clone_index(master_path: str) -> str:
    """Fresh clone-on-write copy of a memoized base index directory
    (consumers that sync/update MUTATE their index; the master stays
    pristine for the next consumer)."""
    dst = os.path.join(_FIX_ROOT, f"clone_{next(_CLONES)}")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(master_path, dst)
    return dst


def _docs(spark, sf_dir: str):
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
    )


def _emb(spark, sf_dir: str):
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def docs_day2(docs):
    """The shared day-2 batch recipe (every 7th doc, shifted ids,
    one appended token) — q129/q140/q148 all stage exactly this."""
    return docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )


def docs_corpus_cdf(spark, sf_dir: str) -> str:
    """CDF-enabled documents corpus at its FINAL version: v0 = the
    documents table, v1 = day-2 append, v2 = GDPR delete of every
    10th doc_id. Read-only for consumers (q140/q148 read snapshots
    and table_changes; their syncs mutate only their own index
    clones)."""
    from ..table import DeltaTable
    from ..writer import write_delta

    def build(path):
        docs = _docs(spark, sf_dir)
        write_delta(docs, path)  # v0
        write_delta(docs_day2(docs), path, mode="append")  # v1
        DeltaTable.forPath(spark, path).delete("doc_id % 10 = 0")  # v2

    return _memoized("docs_corpus_cdf", sf_dir, build)


def emb_corpus_cdf(spark, sf_dir: str) -> str:
    """CDF-enabled embeddings corpus at its final version: v0 = the
    embeddings table, v1 = day-2 append (negated vectors, shifted
    ids), v2 = GDPR delete of every 10th vec_id (q146's recipe)."""
    from ..table import DeltaTable
    from ..writer import write_delta

    def build(path):
        emb = _emb(spark, sf_dir)
        write_delta(emb, path)  # v0
        day2 = emb.filter(F.col("vec_id") % 7 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
        )
        write_delta(day2, path, mode="append")  # v1
        DeltaTable.forPath(spark, path).delete("vec_id % 10 = 0")  # v2

    return _memoized("emb_corpus_cdf", sf_dir, build)


def lsh_base_index(spark, sf_dir: str) -> str:
    """Base LSH signature index over the documents table (== the
    corpus v0 snapshot — write_delta then read_delta round-trips the
    same rows, and the signature family is a deterministic function
    of rows + frozen params), syncedVersion pinned at 0. Consumers
    mutate -> take a clone_index copy."""
    from ..operators.dedup import build_signature_index

    def build(path):
        build_signature_index(
            _docs(spark, sf_dir), "text", "doc_id", path, corpus_version=0
        )

    return _memoized("lsh_base_index", sf_dir, build)


def winnow_base_index(spark, sf_dir: str) -> str:
    """Base winnowing fingerprint index over the documents table
    (corpus v0), syncedVersion pinned at 0. q196 mutates a clone."""
    from ..operators.dedup import build_winnow_index

    def build(path):
        build_winnow_index(
            _docs(spark, sf_dir), "text", "doc_id", path, corpus_version=0
        )

    return _memoized("winnow_base_index", sf_dir, build)


def text_base_index(spark, sf_dir: str) -> str:
    """Base BM25 inverted index over the documents table (corpus v0),
    version pinned at 0. q148 mutates a clone; q151 reads the master
    directly (it never syncs)."""
    from ..operators.text import build_text_index

    def build(path):
        build_text_index(
            _docs(spark, sf_dir), "text", "doc_id", path, corpus_version=0
        )

    return _memoized("text_base_index", sf_dir, build)


def pq_base_index(spark, sf_dir: str) -> str:
    """Base PQ index over the full embeddings table (corpus v0) under
    the standard tiny-fixture params (n_cells=16, m=4, k_codes=16,
    dim=64), version pinned at 0. q146 mutates a clone; q151 reads
    the master directly."""
    from ..operators.similarity import build_pq_index

    def build(path):
        build_pq_index(
            _emb(spark, sf_dir), path,
            n_cells=16, m=4, k_codes=16, dim=64, corpus_version=0,
        )

    return _memoized("pq_base_index", sf_dir, build)


def clear_fixture_memo() -> None:
    """Drop every memoized fixture and its directory (bench.py calls
    this between timed runs so repeats measure real builds)."""
    with _LOCK:
        _MEMO.clear()
        shutil.rmtree(_FIX_ROOT, ignore_errors=True)
