"""Deduplication operators for large text corpora.

Five strategies, cheapest to richest:
  - exact_dedup:          hash-groupBy on normalized text (one shuffle)
  - ngram_jaccard_pairs:  EXACT near-dup pairs via inverted-index join
  - minhash_lsh_pairs:    MinHash + banded LSH candidates, then exact
                          jaccard verification (the 100 TB path)
  - simhash_pairs:        64-bit SimHash with banded hamming search
  - winnow_dup_pairs:     winnowing fingerprints (MOSS) — guaranteed
                          run coverage at ~2/(w+1) gram density

Scale design notes:
  - Everything is built-in-function only (codegen'd, no Python in the
    hot path); shingling uses higher-order array functions.
  - The inverted-index join in ngram_jaccard_pairs explodes |docs| x
    |shingles| rows and self-joins on the shingle — exact but
    shuffle-heavy; use it to verify/calibrate, and minhash_lsh_pairs
    (signature length k, b bands) for production: candidate generation
    shuffles only b rows per doc, and hot buckets (boilerplate shingles)
    are capped by dropping shingles that appear in more than
    ``max_doc_freq`` of the corpus — the classic stop-shingle guard
    against quadratic bucket blowup — plus a hard per-bucket size cap
    as defense-in-depth.
  - MinHash permutations are per-seed xxhash64 (a genuinely
    independent 64-bit family). An affine (a*h+b) mod p family is a
    trap in 64-bit arithmetic: keeping a*h overflow-safe forces the
    map monotone in h, every permutation elects the same minimum
    shingle, and banded recall silently collapses to ~j.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._index import delete_ids, pin, pinned, sync_from_cdf

# Spark's CacheManager holds DataFrame caches until an explicit
# unpersist — NOT until the Python object is garbage-collected — so a
# long-lived session running dedup repeatedly would accumulate one
# cached shingle relation per call. Evict the previous call's cache
# when a new one arrives: unpersisting a cache that an old (lazy)
# result still references only forces recompute, never wrong results.
# Keyed BY SparkSession so two concurrent pipelines in one process
# (separate sessions) never evict each other's caches; a session's
# entry dies with its (weakly-referenced) session.
import weakref

_last_shingle_cache: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# ngram_jaccard_pairs auto-strategy crossover: above this many docs the
# prefix-filtered (bounded-candidate) path is chosen; at or below it the
# full inverted index is both faster (fewer shuffles) and safe (the
# explosion regime needs corpus-scale boilerplate repetition)
PREFIX_FILTER_MIN_DOCS = 500_000


def _cache_shingles(sh: DataFrame) -> DataFrame:
    session = sh.sparkSession
    prev = _last_shingle_cache.pop(session, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    sh = sh.cache()
    _last_shingle_cache[session] = sh
    return sh


def _hot_shingle_hashes(
    hashed: DataFrame, id_col: str, n_docs: int, max_doc_freq: float
) -> DataFrame:
    """The (__h) stop-shingle relation: hashes present in more than
    ``max_doc_freq`` of ``n_docs`` documents, detected from a
    deterministic hash SAMPLE whose rate keeps >= ~50 expected hits for
    a shingle AT the doc-freq cutoff (tight CLT), capped at 1/50 — the
    doc-freq shuffle shrinks up to 50x, so at corpus scale the guard
    costs a rounding error instead of a second full shuffle. Tiny
    corpora (cutoff < 100 docs) keep the exact count, where sampling
    noise would dominate. Hash-based (not .sample()) so the decision is
    stable across partitionings and reruns.

    ONE definition shared by minhash_lsh_candidates,
    cross_corpus_near_dups, and build_signature_index: the index-build
    and probe sides MUST use the same sampling family — drift between
    them would silently desynchronize signatures and collapse recall.
    """
    mod = min(50, max(1, int(max_doc_freq * n_docs / 50)))
    if mod > 1:
        freq_src = hashed.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.col("__h")), F.lit(mod)) == 0
        )
        cutoff = max_doc_freq * n_docs / mod
    else:
        freq_src = hashed
        cutoff = max_doc_freq * n_docs
    return (
        freq_src.groupBy("__h")
        .count()
        .filter(F.col("count") > cutoff)
        .select("__h")
    )


def normalize_text(col: str | Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapsed whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per distinct normalized text (hash groupBy —
    a single shuffle on the text hash; partial aggregation map-side)."""
    return (
        df.groupBy(normalize_text(text_col).alias("__norm"))
        .agg(F.min(id_col).alias(id_col))
        .drop("__norm")
    )


def exact_dedup_keep_best(
    df: DataFrame, text_col: str, id_col: str, score_col: str
) -> DataFrame:
    """Exact dedup that keeps the HIGHEST-``score_col`` copy of each
    duplicate group (ties on the smallest id) — the production variant
    when duplicates span sources of different quality (a cleanly
    extracted article vs. its boilerplate-ridden mirror) and the min-id
    keeper of :func:`exact_dedup` would systematically prefer whichever
    source was ingested first.

    Same scale shape as ``exact_dedup``: ONE hash shuffle on the
    normalized text with map-side partial aggregation — ``max_by`` with
    an explicit (score, -id) ordering struct, so the keeper election is
    deterministic and the oracle's ranked-window replay matches it
    exactly. The tie-break negates the id, so ``id_col`` must be
    numeric (a string key would cast to NULL and make score ties
    nondeterministic) — map string keys through xxhash64 first, as the
    PQ-index path requires.

    NaN discipline: Spark sorts NaN ABOVE every double, so a NaN-scored
    copy would otherwise always win the election and propagate NaN to
    the output. The ordering demotes NaN to -inf (``nanvl``), so a NaN
    copy is elected only when the whole group is NaN-scored (then the
    smallest id, matching an oracle whose NULL scores sort last).

    Returns: id_col, score_col (of the kept row).
    """
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long", "float", "double") \
            and not id_type.startswith("decimal"):
        raise TypeError(
            f"exact_dedup_keep_best: id column '{id_col}' is {id_type}; "
            "the deterministic tie-break needs a numeric id — map string "
            "keys to a long (e.g. xxhash64) first"
        )
    # max_by on a struct orders lexicographically: NaN-demoted score
    # first, then NEGATED id so score ties elect the SMALLEST id
    ranked_score = F.nanvl(
        F.col(score_col).cast("double"), F.lit(float("-inf"))
    )
    best = F.max_by(
        F.struct(F.col(id_col), F.col(score_col)),
        F.struct(
            ranked_score.alias("__rs"), (-F.col(id_col)).alias("__negid")
        ),
    )
    return (
        df.groupBy(normalize_text(text_col).alias("__norm"))
        .agg(best.alias("__best"))
        .select(
            F.col(f"__best.{id_col}").alias(id_col),
            F.col(f"__best.{score_col}").alias(score_col),
        )
    )


def _shingle_arr_expr(n: int) -> Column:
    """Word n-gram shingle array over a staged ``__words`` column.
    Documents shorter than n words produce NO shingles: the CASE guard
    avoids sequence(1, 0), which Spark evaluates DESCENDING ([1, 0])
    and would feed element_at an invalid 0 index."""
    return F.expr(
        f"CASE WHEN size(__words) >= {n} THEN "
        f"transform(sequence(1, size(__words) - {n - 1}), "
        f"i -> concat_ws(' ', {', '.join(f'element_at(__words, i + {j})' for j in range(n))}))"
        f" ELSE array() END"
    )


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id_col, shingle).

    1-indexed element_at arithmetic matches the ANSI-SQL oracle exactly.
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    shingle_arr = _shingle_arr_expr(n)
    # per-doc dedup is LOCAL (array_distinct before the explode) — the
    # equivalent row-level .distinct() would shuffle the whole exploded
    # doc x shingle relation. Repartition the compact doc rows FIRST so
    # the expensive tokenize+explode parallelizes even from a one-file
    # scan: shuffling |docs| rows costs far less than shuffling
    # |docs x shingles| rows.
    return df.repartition(F.col(id_col)).select(
        F.col(id_col), words.alias("__words")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle_arr)).alias("shingle"),
    )


def _word_shingles_sized(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """word_shingles with the per-document DISTINCT shingle count
    carried on every exploded row: (id_col, shingle, n_sh). n_sh is
    ``size(array_distinct(...))`` of the SAME array the explode
    consumes, so it is computed map-side for free — the pair
    generators read it off the row instead of aggregating a separate
    |docs|-row sizes relation and joining it back onto every surviving
    pair (one exchange and two joins per invocation, and at scale one
    whole extra pass over the shingle relation)."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    shingle_arr = _shingle_arr_expr(n)
    return (
        df.repartition(F.col(id_col))
        .select(F.col(id_col), words.alias("__words"))
        .select(F.col(id_col), F.array_distinct(shingle_arr).alias("__dsh"))
        # size staged as a SCALAR projection before the explode, and
        # explode_OUTER + an explicit NULL drop instead of explode:
        # plain explode makes Catalyst infer a size(__dsh) > 0 filter
        # on the staged array attribute and push it below the
        # repartition, where the inlined higher-order shingle
        # expression re-evaluates split() per lambda element —
        # O(words^2) per document (measured 0.6 s -> 18 s at sf0.1).
        # explode_outer infers no such filter; its one extra NULL row
        # per shingle-less document is dropped right here, so the
        # output is row-identical to explode
        .select(F.col(id_col), "__dsh", F.size("__dsh").alias("n_sh"))
        .select(
            F.col(id_col),
            F.explode_outer("__dsh").alias("shingle"),
            F.col("n_sh"),
        )
        .filter(F.col("shingle").isNotNull())
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """EXACT near-duplicate pairs (id_1 < id_2, jaccard >= threshold)
    over word n-gram shingle sets via an inverted index.

    Two identical-output candidate strategies, chosen by corpus size
    when ``prefix_filter`` is None (one cheap count — the same way
    Catalyst picks broadcast vs shuffle joins by size):

    - ``prefix_filter=True`` (auto above ``PREFIX_FILTER_MIN_DOCS``):
      prefix filtering (Bayardo et al. WWW'07 all-pairs) — only each
      doc's |d| - ceil(t*|d|) + 1 globally-RAREST shingles build the
      index, so frequent boilerplate shingles never explode the
      candidate set. This is the property that keeps exact all-pairs
      runnable at corpus scale; the rarity ranking costs two extra
      shuffles, which the bounded candidate set repays there.
    - ``prefix_filter=False`` (auto at/below the threshold): the full
      inverted index — every shared shingle emits one pair row, fewer
      shuffles, and at small scale the |docs x shingles| self-join is
      bounded by the input itself, so nothing can explode.

    Returns columns: id_1, id_2, jaccard (double).
    """
    from pyspark.sql import Window

    if prefix_filter is None:
        prefix_filter = df.count() > PREFIX_FILTER_MIN_DOCS

    # per-doc set sizes ride every shingle row (map-side, free — see
    # _word_shingles_sized) instead of a separate |docs|-row sizes
    # aggregation joined back onto the surviving pairs: one fewer
    # exchange and two fewer joins per invocation, and the jaccard
    # denominators group out of the intersection count itself (n_sh is
    # functionally determined by the id, so widening the groupBy key
    # never changes the groups)
    sh = _word_shingles_sized(df, text_col, id_col, n)

    if prefix_filter:
        sh = _cache_shingles(sh)
        # only globally-rarest prefix shingles generate candidates;
        # exact verification (join back against the FULL shingle sets)
        # keeps the output identical
        doc_freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        w = Window.partitionBy(id_col).orderBy(
            F.col("__df").asc(), F.col("shingle")
        )
        ranked = sh.join(doc_freq, "shingle").withColumn(
            "__pos", F.row_number().over(w)
        )
        index_src = ranked.filter(
            F.col("__pos")
            <= F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1
        ).select(id_col, "shingle")
        postings = index_src.groupBy("shingle").agg(
            F.collect_set(id_col).alias("ids")
        )
        candidates = (
            postings.filter(F.size("ids") > 1)
            .select(F.explode("ids").alias("id_1"), F.col("ids"))
            .select("id_1", F.explode("ids").alias("id_2"))
            .filter(F.col("id_1") < F.col("id_2"))
            .distinct()
        )
        # intersection joins carry xxhash64(shingle), not the ~30-80
        # byte string — the shuffle-byte cut of the decontaminate
        # change applied to the verify path (a phantom intersection row
        # needs a within-pair 64-bit collision: P ~ n_sh^2 / 2^64)
        sh1 = sh.select(
            F.col(id_col).alias("id_1"),
            F.xxhash64("shingle").alias("__sh"),
            F.col("n_sh").alias("__n1"),
        )
        sh2 = sh.select(
            F.col(id_col).alias("id_2"),
            F.xxhash64("shingle").alias("__sh"),
            F.col("n_sh").alias("__n2"),
        )
        inter = (
            candidates.join(sh1, "id_1")
            .join(sh2, ["id_2", "__sh"])
            .groupBy("id_1", "id_2", "__n1", "__n2")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # full index: every shared shingle emits one pair row, so the
        # groupBy count IS the exact intersection size — one shuffle to
        # build postings, one to count, no verification joins needed.
        # The shingle relation is consumed exactly ONCE here, so it is
        # not cached (the cache fill was pure overhead on this path).
        postings = sh.groupBy("shingle").agg(
            F.collect_set(F.struct(id_col, "n_sh")).alias("ids")
        )
        inter = (
            postings.filter(F.size("ids") > 1)
            .select(F.explode("ids").alias("m1"), F.col("ids"))
            .select("m1", F.explode("ids").alias("m2"))
            .filter(F.col(f"m1.{id_col}") < F.col(f"m2.{id_col}"))
            # project the struct fields to NAMED columns before the
            # groupBy so the exchange keys keep their names (grouping
            # directly on m1.x expressions yields opaque
            # _groupingexpression aliases in the plan)
            .select(
                F.col(f"m1.{id_col}").alias("id_1"),
                F.col(f"m2.{id_col}").alias("id_2"),
                F.col("m1.n_sh").alias("__n1"),
                F.col("m2.n_sh").alias("__n2"),
            )
            .groupBy("id_1", "id_2", "__n1", "__n2")
            .agg(F.count("*").alias("n_inter"))
        )
    return inter.select(
        "id_1",
        "id_2",
        (
            F.col("n_inter")
            / (F.col("__n1") + F.col("__n2") - F.col("n_inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _hash_shingles(shingle_df: DataFrame, id_col: str) -> DataFrame:
    """Project (id, shingle) to (id, __h): murmur3 mapped to unsigned
    32-bit so a*h+b < 2^61 under ANSI mode. Hashing FIRST shrinks every
    downstream shuffle (8-byte longs instead of shingle strings)."""
    return shingle_df.select(
        id_col,
        F.hash("shingle").cast("long").bitwiseAND(F.lit(0xFFFFFFFF)).alias("__h"),
    )


def _signatures_from_hashed(
    hashed: DataFrame, id_col: str, k: int, seed: int
) -> DataFrame:
    """MinHash signatures from a pre-hashed (id, __h) relation: k
    independent permutations via per-permutation-seeded xxhash64, one
    aggregation with map-side partial mins.

    Why not the classic affine family ((a*h+b) mod p)? In 64-bit
    arithmetic a must stay below 2^31 so a*h doesn't overflow, which
    leaves a*h+b BELOW the Mersenne modulus for most inputs — the map
    is then monotone in h, every "permutation" elects the same minimum
    shingle, and signatures become all-or-nothing (two docs agree on
    all k positions or none; banded recall collapses from
    1-(1-j^r)^b to ~j). Seeded xxhash64 is a genuinely independent
    64-bit family, evaluated JVM-side."""
    # ONE SQL-string expression for the whole signature array: the
    # k-column Python construction (F.min(F.xxhash64(...)) x k, then
    # F.array over k aliases) cost hundreds of py4j round trips per
    # invocation — measured ~1s of pure driver time at k=64 (same fix
    # as semantic_decontaminate's expression-build note). The parsed
    # plan, and therefore every value, is identical.
    sig_expr = "array({})".format(
        ", ".join(
            f"min(xxhash64(__h, {seed * 1_000_003 + i}))" for i in range(k)
        )
    )
    return hashed.groupBy(id_col).agg(F.expr(sig_expr).alias("sig"))


def minhash_signatures(
    shingle_df: DataFrame, id_col: str, k: int = 64, seed: int = 42
) -> DataFrame:
    """k-permutation MinHash signature per id: (id_col, sig array<long>).

    Each "permutation" is an INDEPENDENT seeded xxhash64 of the
    shingle (see the module header: affine maps of one base hash are
    order-correlated and degenerate as an LSH family) — fully
    deterministic across runs and cluster sizes. One aggregation
    (map-side partial mins)."""
    return _signatures_from_hashed(
        _hash_shingles(shingle_df, id_col), id_col, k, seed
    )


def minhash_lsh_candidates(
    sh: DataFrame,
    id_col: str,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_doc_freq: float | None = 0.1,
    n_docs: int | None = None,
) -> DataFrame:
    """Candidate pair generation for MinHash LSH: (id_1, id_2), id_1 <
    id_2. ``sh`` is a (id_col, shingle) relation (see word_shingles).

    The ``max_doc_freq`` stop-shingle guard is ON by default: shingles
    present in more than that fraction of documents (boilerplate) are
    excluded from SIGNATURE construction, so a shingle shared by x% of
    the corpus can never min-hash x% of the corpus into one bucket and
    go quadratic. Verification (in minhash_lsh_pairs) still uses the
    full shingle sets, so surviving pairs keep their exact jaccard.
    The guard runs on the 8-byte shingle HASH (one projection shared
    with signature construction), not the shingle string — the doc-freq
    shuffle moves longs, and a benign hash collision only folds two
    shingles' frequencies, which exact verification absorbs. ``n_docs``
    skips the distinct-count job when the caller already knows the
    corpus size (a parquet metadata count, vs a distinct over the
    exploded shingle relation).
    """
    rows = k // bands
    hashed = _hash_shingles(sh, id_col)
    if max_doc_freq is not None:
        if n_docs is None:
            n_docs = sh.select(id_col).distinct().count()
        hot = _hot_shingle_hashes(hashed, id_col, n_docs, max_doc_freq)
        hashed = hashed.join(F.broadcast(hot), "__h", "left_anti")

    sig = _signatures_from_hashed(hashed, id_col, k=k, seed=seed)
    # one SQL-string expression for the banded struct array (see the
    # signature-expression note in _signatures_from_hashed): identical
    # parsed plan, none of the per-band py4j construction cost
    bands_expr = "array({})".format(
        ", ".join(
            f"struct({i} as band, "
            f"xxhash64(cast(slice(sig, {i * rows + 1}, {rows}) as string))"
            f" as bucket)"
            for i in range(bands)
        )
    )
    banded = sig.select(
        F.col(id_col), F.explode(F.expr(bands_expr)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")

    # within-bucket pair generation: ONE shuffle (groupBy band+bucket)
    # instead of a self-join that would recompute the whole signature
    # pipeline twice. Bucket membership lists are small by construction
    # (true near-dup groups, plus the max_doc_freq stop-shingle guard),
    # so the per-bucket explode is bounded.
    bucketed = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_set(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # defense-in-depth behind the stop-shingle guard: a bucket that
    # still collects a large membership (adversarial boilerplate below
    # the doc-freq cutoff) is dropped rather than exploded — a true
    # near-dup pair collides in many of the b bands, so losing one hot
    # band costs ~nothing in recall while bounding the worst-case pair
    # explosion to max_bucket^2 per bucket
    max_bucket = 1000
    bucketed = bucketed.filter(F.size("ids") <= max_bucket)
    return (
        bucketed.select(F.explode("ids").alias("id_1"), F.col("ids"))
        .select("id_1", F.explode("ids").alias("id_2"))
        .filter(F.col("id_1") < F.col("id_2"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_doc_freq: float | None = 0.1,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified exactly.

    Pipeline: shingle -> minhash signature (k hashes) -> b bands of k/b
    rows -> band-bucket self-join for candidates -> exact jaccard on the
    candidates only -> filter >= threshold. With r = k/b rows per band,
    P(candidate) = 1-(1-j^r)^b; defaults (k=64, b=16, r=4) give >99.99%
    recall at j >= 0.8 and near-1 at the 0.6 threshold region, so the
    verified output equals the exact ngram_jaccard_pairs output.

    The ``max_doc_freq`` stop-shingle guard defaults ON (0.1); exact
    jaccard is always computed over the FULL shingle sets, so the guard
    only prunes candidate generation, never changes surviving values.
    ``n_docs`` lets a caller that already knows the document count
    (cached survivor ids, table stats, a parquet footer) skip the
    count job over ``df`` that sizes the guard — it must EQUAL
    df.count(), since the stop-shingle cutoff (and therefore the
    signatures and the candidate set) depends on it.

    Returns: id_1, id_2, jaccard.
    """
    # per-doc set sizes ride the shingle rows (see ngram_jaccard_pairs
    # / _word_shingles_sized): the |docs|-row sizes aggregation and its
    # two pair-side joins fold into the intersection groupBy
    sh = _cache_shingles(_word_shingles_sized(df, text_col, id_col, n))
    sh.count()  # materialize once: reused by signatures and verify
    candidates = minhash_lsh_candidates(
        sh,
        id_col,
        k=k,
        bands=bands,
        seed=seed,
        max_doc_freq=max_doc_freq,
        # corpus size from the caller when known, else one count of the
        # compact source relation (never a distinct over the exploded
        # shingle rows)
        n_docs=(
            (df.count() if n_docs is None else n_docs)
            if max_doc_freq is not None
            else None
        ),
    )

    # exact verification restricted to candidates: start FROM the (small)
    # candidate set so intersection rows are only materialized for pairs
    # that banded together — never the full inverted-index cross product
    # hashed intersection key — see ngram_jaccard_pairs' verify note
    sh1 = sh.select(
        F.col(id_col).alias("id_1"),
        F.xxhash64("shingle").alias("__sh"),
        F.col("n_sh").alias("__n1"),
    )
    sh2 = sh.select(
        F.col(id_col).alias("id_2"),
        F.xxhash64("shingle").alias("__sh"),
        F.col("n_sh").alias("__n2"),
    )
    inter = (
        candidates.join(sh1, "id_1")
        .join(sh2, ["id_2", "__sh"])
        .groupBy("id_1", "id_2", "__n1", "__n2")
        .agg(F.count("*").alias("n_inter"))
    )
    return inter.select(
        "id_1",
        "id_2",
        (
            F.col("n_inter")
            / (F.col("__n1") + F.col("__n2") - F.col("n_inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def resolve_duplicate_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    driver_union_find_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, cluster_id),
    cluster_id = smallest member id (the canonical survivor). Documents
    in no pair form singleton clusters of themselves.

    Two identical-output strategies, chosen by edge count (one cheap
    count — the same way ngram_jaccard_pairs picks its candidate
    strategy and Catalyst picks broadcast joins):

    - at or below ``driver_union_find_max_edges`` (the overwhelmingly
      common case — near-dup PAIRS are a sliver of any deduped corpus):
      driver-side union-find with min-root union. The collect is
      EXPLICITLY bounded — a ``limit(threshold + 1)`` probe, so at most
      threshold+1 two-long rows (~16 MB) ever reach the driver and the
      pair pipeline executes ONCE; distributed label propagation costs
      graph-diameter ROUNDS of Spark jobs, which for a small dense
      graph is pure scheduler overhead — union-find resolves it in
      microseconds and rejoins as one broadcast.
    - above the threshold: distributed min-label propagation — every
      node starts as its own label; each round joins labels across
      edges and keeps the minimum; stop when a round changes nothing.
      Rounds needed = graph diameter (near-dup clusters are small and
      dense, so typically 2-3); each round is one join + one
      aggregation — no driver-side graph, scales with edges.
      ``persist`` per round keeps lineage from growing exponentially.
    """
    # persist BEFORE the strategy probe: the limit() only materializes
    # the partitions it touches, but whatever the probe computes is
    # cached — on the distributed path the (expensive) upstream pair
    # pipeline is then finished from cache instead of re-run per branch
    p2 = pairs.select("id_1", "id_2").persist()
    probe = p2.limit(driver_union_find_max_edges + 1).collect()
    if len(probe) <= driver_union_find_max_edges:
        p2.unpersist()
        return _resolve_clusters_driver(probe, all_ids, id_col)
    edges = (
        p2.select(F.col("id_1").alias("a"), F.col("id_2").alias("b"))
        .union(p2.select(F.col("id_2").alias("a"), F.col("id_1").alias("b")))
        .distinct()
        .persist()
    )
    edges.count()  # fill the edges cache from the p2 cache, then drop it
    p2.unpersist()
    labels = all_ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).persist()
    for _ in range(max_iterations):
        propagated = (
            edges.join(labels, edges.a == labels.node)
            .select(F.col("b").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_labels = (
            labels.unionByName(propagated)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if not changed:
            break
    edges.unpersist()
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def _resolve_clusters_driver(
    rows: list, all_ids: DataFrame, id_col: str
) -> DataFrame:
    """Small-graph branch of resolve_duplicate_clusters: union-find with
    min-root union (the root IS the smallest member, matching the
    propagation fixpoint exactly) over the already-collected bounded
    edge list; the mapping broadcasts back and singletons label
    themselves via coalesce."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            if b < a:
                a, b = b, a
            parent[b] = a  # min root wins -> cluster_id = min member

    spark = all_ids.sparkSession
    id_type = all_ids.schema[id_col].dataType
    schema = StructType(
        [StructField(id_col, id_type), StructField("cluster_id", id_type)]
    )
    seen = set()
    for r in rows:
        seen.add(r[0])
        seen.add(r[1])
    mapping = spark.createDataFrame(
        [(x, find(x)) for x in sorted(seen)], schema
    )
    return all_ids.select(F.col(id_col)).join(
        F.broadcast(mapping), id_col, "left"
    ).select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: ``bits``-bit signatures from word hashes,
    banded search for pairs within ``max_hamming``. By pigeonhole, any
    pair with <= bands-1 differing bits shares at least one identical
    band, so bands = max_hamming + 1 guarantees recall.

    ``portable=True`` derives token-hash bits from md5 hex digits by
    plain arithmetic instead of xxhash64, so an external ANSI-SQL engine
    can replicate the signature bit-for-bit (md5 is universal; xxhash64
    is not). Use bits <= 60 with portable so the signature long stays
    positive and ``>>`` behaves identically everywhere. xxhash64 stays
    the default hot path (one 64-bit hash vs 16 hex-digit extractions).

    Returns: id_1, id_2, hamming (int).
    """
    assert bands >= max_hamming + 1, "bands must exceed max_hamming for full recall"
    if portable:
        assert bits <= 60, "portable simhash needs bits <= 60 (positive long)"
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    # SQL-string construction throughout (see _signatures_from_hashed):
    # the per-bit Python Column loops cost ~bits x 6 py4j round trips
    # per invocation; one parsed string yields the identical plan
    if portable:
        # one hex->long conversion per token (first ceil(bits/4) md5 hex
        # digits); the per-bit extraction is then a shift+mask on a long,
        # which codegen folds — not 60 separate digit conversions
        n_hex = (bits + 3) // 4
        hval = f"cast(conv(substring(md5(tok), 1, {n_hex}), 16, 10) as bigint)"
    else:
        hval = "xxhash64(tok)"
    # hash ONCE per token in a projection BELOW the aggregate: inlining
    # ``hval`` into every per-bit sum made each aggregate function carry
    # its own copy of the md5/xxhash subtree — ``bits`` hash evaluations
    # per token unless codegen's subexpression elimination caught all of
    # them. Factoring it out pins the cost at one hash per token by
    # construction; the per-bit shift+mask over the staged long is the
    # cheap part. Values are unchanged (same expression, same input).
    tokens = df.select(F.col(id_col), F.explode(words).alias("tok")).select(
        F.col(id_col), F.expr(f"{hval} as __h")
    )
    bit_sums = [
        f"sum(CASE WHEN (shiftright(__h, {i}) & 1) = 1"
        f" THEN 1 ELSE -1 END) as b{i}"
        for i in range(bits)
    ]
    agg = tokens.groupBy(id_col).agg(
        F.expr(bit_sums[0]), *[F.expr(e) for e in bit_sums[1:]]
    )
    sig = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN shiftleft(cast(1 as bigint), {i})"
        f" ELSE cast(0 as bigint) END)"
        for i in range(bits)
    )
    signatures = agg.select(F.col(id_col), F.expr(sig).alias("simhash"))

    width = bits // bands
    mask = (1 << width) - 1
    bands_expr = "array({})".format(
        ", ".join(
            f"struct({i} as band, "
            f"shiftrightunsigned(simhash, {i * width}) & {mask} as key)"
            for i in range(bands)
        )
    )
    banded = signatures.select(
        id_col, "simhash", F.explode(F.expr(bands_expr)).alias("bb")
    ).select(id_col, "simhash", "bb.band", "bb.key")
    # within-bucket pair generation (one shuffle; see minhash_lsh_pairs)
    bucketed = (
        banded.groupBy("band", "key")
        .agg(F.collect_set(F.struct(id_col, "simhash")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    cand = (
        bucketed.select(F.explode("ms").alias("m1"), F.col("ms"))
        .select("m1", F.explode("ms").alias("m2"))
        .filter(F.col(f"m1.{id_col}") < F.col(f"m2.{id_col}"))
        .select(
            F.col(f"m1.{id_col}").alias("id_1"),
            F.col(f"m2.{id_col}").alias("id_2"),
            F.col("m1.simhash").alias("s1"),
            F.col("m2.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.select("id_1", "id_2", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    expected_corpus_keys: int | None = None,
    fpp: float = 0.01,
    use_bloom: bool = True,
) -> DataFrame:
    """Incremental exact dedup: drop ``batch`` rows whose normalized text
    already exists in the historical ``corpus`` (returns the surviving
    batch rows, original columns).

    The decision is an anti-join on (content hash, normalized text) —
    exact by construction. The 100 TB choreography wraps it:

      1. Corpus is projected to 8-byte ``xxhash64`` content hashes; a
         Bloom filter over those hashes is built distributively
         (mapInPandas emits ONE bitmap per partition — |partitions| rows,
         never the data — OR-folded driver-side, rebroadcast).
      2. Batch rows whose hash misses the bloom are DEFINITELY new
         (bloom has no false negatives) and skip the join entirely; at a
         typical daily-batch-vs-history ratio that is ~99% of rows.
      3. Only the "maybe" remainder joins: corpus is first semi-pruned
         on the candidate hash set, then the anti-join compares the
         normalized TEXT, so a 64-bit hash collision can never drop a
         genuinely-new document.

    False-positive rate only affects how many rows take the join path,
    never the result. ``expected_corpus_keys`` sizes the bitmap without
    an extra count job (pass the table's known row count); at corpora
    where a single bitmap outgrows one broadcast (~10^10 keys), shard
    the corpus by hash range and run this operator per shard.
    """
    import math

    norm = normalize_text(text_col)
    b = batch.withColumn("__norm", norm).withColumn(
        "__bh", F.xxhash64(F.col("__norm"))
    )
    c = corpus.select(
        norm.alias("__norm"), F.xxhash64(norm).alias("__bh")
    )

    if use_bloom:
        n = expected_corpus_keys
        if n is None:
            n = corpus.count()
        n = max(n, 1)
        m_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        # round bitmap up to whole bytes; cap hash count at 16
        m_bytes = (m_bits + 7) // 8
        m_bits = m_bytes * 8
        k = min(16, max(1, round(m_bits / n * math.log(2))))

        import numpy as np

        def _positions(h: "np.ndarray") -> "np.ndarray":
            # double hashing over the unsigned 64-bit content hash:
            # pos_i = (h1 + i*h2) mod m, h2 forced odd
            h1 = h.astype(np.uint64)
            h2 = (h1 >> np.uint64(17) | h1 << np.uint64(47)) | np.uint64(1)
            return np.stack(
                [(h1 + np.uint64(i) * h2) % np.uint64(m_bits) for i in range(k)]
            )

        def _partition_bitmaps(batches):
            import pandas as pd

            bm = np.zeros(m_bytes, dtype=np.uint8)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                pos = _positions(pdf["__bh"].to_numpy(dtype=np.int64))
                np.bitwise_or.at(
                    bm, (pos >> np.uint64(3)).ravel().astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)).ravel(),
                )
            if seen:
                yield pd.DataFrame({"bitmap": [bm.tobytes()]})

        parts = c.select("__bh").mapInPandas(
            _partition_bitmaps, schema="bitmap binary"
        )
        # one bounded collect: |partitions| bitmap rows, not data rows
        merged = np.zeros(m_bytes, dtype=np.uint8)
        for row in parts.collect():
            merged |= np.frombuffer(row["bitmap"], dtype=np.uint8)
        bloom_bc = batch.sparkSession.sparkContext.broadcast(merged.tobytes())

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("boolean")
        def _maybe_in_corpus(bh):
            import pandas as pd

            bm = np.frombuffer(bloom_bc.value, dtype=np.uint8)
            pos = _positions(bh.to_numpy(dtype=np.int64))
            hits = (
                bm[(pos >> np.uint64(3)).astype(np.int64)]
                >> (pos & np.uint64(7)).astype(np.uint8)
            ) & np.uint8(1)
            return pd.Series(hits.all(axis=0).astype(bool))

        b = b.withColumn("__maybe", _maybe_in_corpus(F.col("__bh")))
        definitely_new = b.filter(~F.col("__maybe"))
        maybe = b.filter(F.col("__maybe"))
        # semi-prune the corpus to candidate hashes before the text
        # compare: at scale the maybe-set is small, so this join prunes
        # the 100 TB side down to the (tiny) colliding key range
        cand_hashes = maybe.select("__bh").distinct()
        pruned_corpus = c.join(cand_hashes, "__bh", "left_semi")
        survivors = maybe.join(
            pruned_corpus, ["__bh", "__norm"], "left_anti"
        )
        out = definitely_new.drop("__maybe").unionByName(
            survivors.drop("__maybe")
        )
    else:
        out = b.join(c, ["__bh", "__norm"], "left_anti")
    return out.drop("__norm", "__bh")


def _banded_bucket_rows(
    hashed: DataFrame, id_col: str, out: str, k: int, bands: int, seed: int
) -> DataFrame:
    """(out, band, bucket) LSH rows from hashed shingles: the banded
    signature slices a production index persists and equi-joins on."""
    rows = k // bands
    sig = _signatures_from_hashed(hashed, id_col, k=k, seed=seed)
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(
                F.slice(F.col("sig"), i * rows + 1, rows).cast("string")
            ).alias("bucket"),
        )
        for i in range(bands)
    ]
    return sig.select(
        F.col(id_col).alias(out), F.explode(F.array(*band_cols)).alias("bb")
    ).select(out, "bb.band", "bb.bucket")


def cross_corpus_near_dups(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_doc_freq: float | None = 0.1,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora (a new batch vs the
    existing training set) — the fuzzy companion of
    dedup_against_corpus: MinHash signatures on both sides, band-bucket
    EQUI-JOIN between the sides (never a self-join, never A x B), exact
    jaccard verification over full shingle sets on candidates only.

    Scale shape: the corpus side's signatures are a per-document
    b-row relation a production pipeline computes once and reuses per
    batch; candidate generation is one equi-join on (band, bucket)
    where the (small) batch side broadcasts. The doc-freq stop-shingle
    guard runs on the UNION (boilerplate frequent in either corpus is
    excluded from signatures on both sides, keeping the bucket key
    distribution aligned).

    Returns: batch_id, corpus_id, jaccard (exact, over full sets).
    """
    sh_b = word_shingles(batch, text_col, id_col, n)
    sh_c = word_shingles(corpus, text_col, id_col, n)

    hashed_b = _hash_shingles(sh_b, id_col)
    hashed_c = _hash_shingles(sh_c, id_col)
    if max_doc_freq is not None:
        n_docs = batch.count() + corpus.count()
        both = hashed_b.unionByName(hashed_c)
        hot = _hot_shingle_hashes(both, id_col, n_docs, max_doc_freq)
        hashed_b = hashed_b.join(F.broadcast(hot), "__h", "left_anti")
        hashed_c = hashed_c.join(F.broadcast(hot), "__h", "left_anti")

    cand = (
        _banded_bucket_rows(hashed_b, id_col, "batch_id", k, bands, seed)
        .join(
            _banded_bucket_rows(hashed_c, id_col, "corpus_id", k, bands, seed),
            ["band", "bucket"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )

    sizes_b = sh_b.groupBy(id_col).agg(F.count("*").alias("n_b"))
    sizes_c = sh_c.groupBy(id_col).agg(F.count("*").alias("n_c"))
    # hashed intersection key — see ngram_jaccard_pairs' verify note
    b1 = sh_b.select(
        F.col(id_col).alias("batch_id"), F.xxhash64("shingle").alias("__sh")
    )
    c1 = sh_c.select(
        F.col(id_col).alias("corpus_id"), F.xxhash64("shingle").alias("__sh")
    )
    inter = (
        cand.join(b1, "batch_id")
        .join(c1, ["corpus_id", "__sh"])
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes_b.select(F.col(id_col).alias("batch_id"), "n_b"), "batch_id"
        )
        .join(
            sizes_c.select(F.col(id_col).alias("corpus_id"), "n_c"),
            "corpus_id",
        )
        .select(
            "batch_id",
            "corpus_id",
            (
                F.col("n_inter")
                / (F.col("n_b") + F.col("n_c") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# Persistent incremental LSH signature index: compute corpus signatures
# ONCE, maintain them on append, and run every daily batch against the
# stored index — at 100 TB the corpus side is never re-shingled. The
# maintenance lifecycle is operators/_index.py's.
# --------------------------------------------------------------------------

_IDX_PROP = "dls.lshIndex."  # table-property prefix on the buckets table


def _index_tables(index_path: str) -> tuple[str, str, str]:
    return (
        f"{index_path}/buckets",  # (doc id, band, bucket) LSH rows
        f"{index_path}/sizes",    # (doc id, n_sh) full shingle-set sizes
        f"{index_path}/hot",      # (__h) frozen stop-shingle hashes
    )


def build_signature_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_doc_freq: float | None = 0.1,
    corpus_version: int = 0,
) -> None:
    """Build the persistent LSH signature index for ``corpus``: three
    versioned tables under ``index_path`` (banded bucket rows, per-doc
    shingle-set sizes, and the stop-shingle hash set), with the LSH
    parameters pinned as table properties so every later update and
    query provably uses the same family.

    The ``max_doc_freq`` stop-shingle guard is computed from the corpus
    at BUILD time and frozen: signatures must stay comparable across
    incremental updates, so the exclusion set cannot drift with each
    batch (corpus-scale doc-freq changes slowly; rebuild the index to
    refresh it). Build cost is one shingle pass + one aggregation —
    the same work ``cross_corpus_near_dups`` would spend on the corpus
    side of a SINGLE batch, here amortized over every future batch."""
    from ..writer import write_delta

    spark = corpus.sparkSession
    t_buckets, t_sizes, t_hot = _index_tables(index_path)
    sh = _cache_shingles(word_shingles(corpus, text_col, id_col, n))
    hashed = _hash_shingles(sh, id_col)

    if max_doc_freq is not None:
        n_docs = corpus.count()
        hot = _hot_shingle_hashes(hashed, id_col, n_docs, max_doc_freq)
    else:
        hot = spark.range(0).select(F.col("id").alias("__h"))
    write_delta(hot, t_hot, mode="overwrite")

    from ..reader import read_delta

    hot_stored = read_delta(spark, t_hot)
    hashed = hashed.join(F.broadcast(hot_stored), "__h", "left_anti")
    buckets = _banded_bucket_rows(hashed, id_col, id_col, k, bands, seed)
    props = pin(
        _IDX_PROP,
        {"n": n, "k": k, "bands": bands, "seed": seed},
        corpus_version,
    )
    write_delta(buckets, t_buckets, mode="overwrite", properties=props)
    write_delta(
        sh.groupBy(id_col).agg(F.count("*").alias("n_sh")),
        t_sizes,
        mode="overwrite",
    )


def update_signature_index(
    new_docs: DataFrame, text_col: str, id_col: str, index_path: str
) -> None:
    """Incrementally extend the index with newly-appended corpus docs:
    signatures are computed for the NEW docs only (under the frozen
    parameters and stop-shingle set) and appended transactionally —
    repeated daily dedup never re-shingles the existing corpus. Ids
    already present are skipped, so replaying an update is a no-op
    (idempotent under at-least-once pipelines).

    Crash ordering: buckets append FIRST, sizes second. Idempotence
    keys on the sizes table, so a crash between the two appends leaves
    a state a replay fully repairs (the docs are re-signed and
    re-appended; the duplicate bucket rows are absorbed by candidate
    dedup), and queries in the torn window stay correct because
    verification derives corpus set sizes from the corpus itself, not
    the sizes table. Sizes-first would invert that: a replay would see
    the ids as known and skip them, losing their bucket rows forever."""
    from ..reader import read_delta
    from ..writer import write_delta

    spark = new_docs.sparkSession
    t_buckets, t_sizes, t_hot = _index_tables(index_path)
    p = pinned(t_buckets, _IDX_PROP)

    known = read_delta(spark, t_sizes).select(id_col)
    fresh = new_docs.join(known, id_col, "left_anti")
    sh = _cache_shingles(word_shingles(fresh, text_col, id_col, p["n"]))
    hashed = _hash_shingles(sh, id_col).join(
        F.broadcast(read_delta(spark, t_hot)), "__h", "left_anti"
    )
    write_delta(
        _banded_bucket_rows(hashed, id_col, id_col, p["k"], p["bands"], p["seed"]),
        t_buckets,
        mode="append",
    )
    write_delta(
        sh.groupBy(id_col).agg(F.count("*").alias("n_sh")),
        t_sizes,
        mode="append",
    )


def delete_from_signature_index(
    ids: DataFrame, index_path: str, id_col: str = "doc_id"
) -> None:
    """GDPR delete propagation: MERGE-delete the ids' ``sizes`` rows,
    then their ``buckets`` rows (ordering: operators/_index.py). Ghost
    bucket rows from a torn delete only cost a probe wasted candidates:
    verification re-reads the corpus, where the id is gone."""
    t_buckets, t_sizes, _ = _index_tables(index_path)
    delete_ids(ids, id_col, t_sizes, t_buckets)


def sync_signature_index_from_cdf(
    spark,
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Maintain the signature index from the corpus Delta table's change
    feed (``_index.sync_from_cdf``): re-sign only the docs the commits
    since the pinned ``syncedVersion`` touched (appends, updates, GDPR
    deletes), under the frozen params. Returns the number of touched
    ids (0 = already in sync)."""

    def reindex(touched: DataFrame, docs: DataFrame) -> None:
        delete_from_signature_index(touched, index_path, id_col)
        update_signature_index(docs, text_col, id_col, index_path)

    return sync_from_cdf(
        spark, corpus_path, _index_tables(index_path)[0], _IDX_PROP,
        id_col, reindex,
    )


def near_dups_against_index(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs between ``batch`` and the indexed corpus —
    ``cross_corpus_near_dups`` with the corpus side served from the
    persistent index: candidate generation equi-joins the batch's
    banded signatures against the STORED bucket rows, and only the
    candidate corpus docs are re-read (semi-join on id) for the exact
    jaccard verification. Per-batch cost is O(batch signatures +
    candidates), independent of corpus size outside the one bucket
    equi-join.

    Returns: batch_id, corpus_id, jaccard (exact, over full sets)."""
    from ..reader import read_delta

    spark = batch.sparkSession
    # sizes table deliberately unused here: it is write-side idempotence
    # bookkeeping ONLY — verification derives corpus set sizes from the
    # corpus itself so a torn update can never silently drop pairs
    t_buckets, _, t_hot = _index_tables(index_path)
    p = pinned(t_buckets, _IDX_PROP)

    sh_b = _cache_shingles(word_shingles(batch, text_col, id_col, p["n"]))
    hashed_b = _hash_shingles(sh_b, id_col).join(
        F.broadcast(read_delta(spark, t_hot)), "__h", "left_anti"
    )
    cand = (
        _banded_bucket_rows(
            hashed_b, id_col, "batch_id", p["k"], p["bands"], p["seed"]
        )
        .join(
            read_delta(spark, t_buckets).select(
                F.col(id_col).alias("corpus_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )

    # exact verification: shingle ONLY the candidate corpus docs. Their
    # set sizes are computed from this re-read, NOT the stored sizes
    # table: a crash between the buckets append and the sizes append in
    # update_signature_index must not silently drop pairs for docs whose
    # bucket rows landed first (the sizes table serves idempotence
    # bookkeeping; verification trusts only the corpus itself)
    cand_ids = cand.select(F.col("corpus_id").alias(id_col)).distinct()
    sh_c = word_shingles(
        corpus.join(cand_ids, id_col, "left_semi"), text_col, id_col, p["n"]
    )
    sizes_b = sh_b.groupBy(id_col).agg(F.count("*").alias("n_b"))
    sizes_c = sh_c.groupBy(id_col).agg(F.count("*").alias("n_c")).select(
        F.col(id_col).alias("corpus_id"), "n_c"
    )
    # hashed intersection key — see ngram_jaccard_pairs' verify note
    inter = (
        cand.join(
            sh_b.select(
                F.col(id_col).alias("batch_id"),
                F.xxhash64("shingle").alias("__sh"),
            ),
            "batch_id",
        )
        .join(
            sh_c.select(
                F.col(id_col).alias("corpus_id"),
                F.xxhash64("shingle").alias("__sh"),
            ),
            ["corpus_id", "__sh"],
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes_b.select(F.col(id_col).alias("batch_id"), "n_b"), "batch_id")
        .join(sizes_c, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            (
                F.col("n_inter")
                / (F.col("n_b") + F.col("n_c") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram,
    slide a window of ``w`` consecutive hashes, keep each window's
    MINIMUM. Guarantees: any shared run of at least w + k - 1 words is
    caught by at least one shared fingerprint, while the expected
    density is 2/(w+1) of the full gram set — the principled way to
    shrink the dedup join without the unbounded miss risk of plain
    sampling. Only hash VALUES are retained (overlap semantics need
    no positions, and ties select equal values), so the whole
    extraction is order-free, per-doc local, and MAP-ONLY: split ->
    gram -> portable md5 hash -> sliding array_min -> array_distinct,
    all inside one codegen'd projection. Returns (id_col, fp long),
    distinct per document."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    gram = "concat_ws(' ', {})".format(
        ", ".join(f"element_at(__words, i + {j})" for j in range(k))
    )
    # hex8 of md5 — the engine-portable hash used across the dedup
    # family; CASE guards the sequence() descending-on-empty trap
    hashes = (
        f"CASE WHEN size(__words) >= {k} THEN "
        f"transform(sequence(1, size(__words) - {k - 1}), "
        f"i -> cast(conv(substring(md5({gram}), 1, 8), 16, 10) as bigint))"
        f" ELSE cast(array() as array<bigint>) END"
    )
    fps = (
        f"CASE WHEN size(__h) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(__h) - {w - 1}), "
        f"i -> array_min(slice(__h, i, {w}))))"
        f" ELSE array_distinct(CASE WHEN size(__h) > 0 THEN "
        # shorter-than-w tail still fingerprints (one window = whole
        # list) so k..k+w-2-word docs are not silently unfingerprinted
        f"array(array_min(__h)) ELSE cast(array() as array<bigint>) END) END"
    )
    return (
        df.repartition(F.col(id_col))
        .select(F.col(id_col), words.alias("__words"))
        .select(F.col(id_col), F.expr(hashes).alias("__h"))
        .select(F.col(id_col), F.explode(F.expr(fps)).alias("fp"))
    )


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Document pairs whose WINNOWED fingerprint sets overlap at or
    above ``threshold`` (Jaccard over fingerprint sets) — the q31
    near-dup shape run on the 2/(w+1)-density sketch instead of the
    full gram relation, so the pair join shuffles a fraction of the
    rows. Fingerprints appearing in more than ``max_df`` documents are
    dropped before the join (boilerplate/stop-phrase skew guard, same
    rationale as minhash's stop-shingle guard; the oracle replays the
    cap).

    Pair generation uses the inverted-index bucket shape, not a
    two-sided self-join: the sketch is persisted ONCE (bounded session
    cache registry — the naive version re-extracted it for every
    consumer and self-joined on fp, measured 4.5x slower than the full
    gram index at 100k docs), the doc-freq cap is counted BEFORE any
    collect_set materializes (a boilerplate fingerprint never builds
    its bucket — same ordering discipline as the LSH bucket guard),
    and pairs explode within the surviving buckets."""
    from ._cache import register_persisted

    fps = register_persisted(
        winnow_fingerprints(df, text_col, id_col, k, w).persist(),
        "winnow_fps",
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("fp")
    )
    kept = fps.join(F.broadcast(hot), "fp", "left_anti")
    sizes = kept.groupBy(id_col).agg(F.count("*").alias("__n"))
    buckets = (
        kept.groupBy("fp")
        .agg(F.collect_set(F.col(id_col)).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    pairs = (
        buckets.select(F.explode("__ids").alias("a"), "__ids")
        .select("a", F.explode("__ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("__n").alias("__nb"))
    jac = F.col("n_shared") / (
        F.col("__na") + F.col("__nb") - F.col("n_shared")
    )
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .filter(jac >= threshold)
        .select(
            "a", "b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(jac, 9).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Persistent winnowing fingerprint index — the copy-detection member of
# the index-maintenance family, whose lifecycle (pinned params,
# idempotent replays, MERGE-delete GDPR propagation, CDF sync with a
# last-step version pin) lives once in operators/_index.py.
# ---------------------------------------------------------------------------

_WIN_PROP = "dls.winnowIndex."  # table-property prefix on the fps table


def _winnow_tables(index_path: str) -> tuple[str, str, str]:
    return (
        f"{index_path}/fps",    # (doc id, fp) winnowed fingerprint rows
        f"{index_path}/sizes",  # (doc id, n_fp) capped fingerprint counts
        f"{index_path}/hot",    # (fp) frozen boilerplate fingerprints
    )


def build_winnow_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    k: int = 5,
    w: int = 4,
    max_df: int = 100,
    corpus_version: int = 0,
) -> None:
    """Build the persistent winnowing index: three versioned tables
    under ``index_path`` — fingerprint rows, per-doc capped fingerprint
    counts, and the frozen boilerplate-fingerprint set — with (k, w,
    max_df) pinned as table properties so every later update and probe
    provably uses the same family. The ``max_df`` cap is computed at
    BUILD time and FROZEN (like the LSH stop-shingle set): jaccard
    denominators must stay comparable across incremental updates, so
    the exclusion set cannot drift batch to batch."""
    from ..reader import read_delta
    from ..writer import write_delta

    spark = corpus.sparkSession
    t_fps, t_sizes, t_hot = _winnow_tables(index_path)
    from ._cache import register_persisted

    fps = register_persisted(
        winnow_fingerprints(corpus, text_col, id_col, k, w).persist(),
        "winnow_fps",
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("fp")
    )
    write_delta(hot, t_hot, mode="overwrite")
    kept = fps.join(
        F.broadcast(read_delta(spark, t_hot)), "fp", "left_anti"
    )
    props = pin(_WIN_PROP, {"k": k, "w": w, "maxDf": max_df}, corpus_version)
    write_delta(kept, t_fps, mode="overwrite", properties=props)
    write_delta(
        kept.groupBy(id_col).agg(F.count("*").alias("n_fp")),
        t_sizes,
        mode="overwrite",
    )


def update_winnow_index(
    new_docs: DataFrame, text_col: str, id_col: str, index_path: str
) -> None:
    """Incrementally fingerprint newly-appended docs under the frozen
    (k, w, hot-set) family and append transactionally; known ids are
    skipped so replays are idempotent.

    Crash ordering — fps append FIRST, sizes second (idempotence keys
    on the sizes table, mirroring the LSH index): a crash between the
    appends leaves ids fingerprinted but unknown; the replay re-signs
    them, and the resulting duplicate fps rows are absorbed by the
    probe's countDistinct (near_dups_against_winnow_index counts
    DISTINCT shared fingerprints, so a torn window can never inflate
    n_shared). Sizes-first would instead lose the ids' fingerprints
    forever."""
    from ..reader import read_delta
    from ..writer import write_delta

    spark = new_docs.sparkSession
    t_fps, t_sizes, t_hot = _winnow_tables(index_path)
    p = pinned(t_fps, _WIN_PROP)
    known = read_delta(spark, t_sizes).select(id_col)
    fresh = new_docs.join(known, id_col, "left_anti")
    from ._cache import register_persisted

    fps = register_persisted(
        winnow_fingerprints(fresh, text_col, id_col, p["k"], p["w"])
        .join(F.broadcast(read_delta(spark, t_hot)), "fp", "left_anti")
        .persist(),
        "winnow_fps",
    )
    write_delta(fps, t_fps, mode="append")
    write_delta(
        fps.groupBy(id_col).agg(F.count("*").alias("n_fp")),
        t_sizes,
        mode="append",
    )


def delete_from_winnow_index(
    ids: DataFrame, index_path: str, id_col: str = "doc_id"
) -> None:
    """GDPR delete propagation: MERGE-delete the ids' ``sizes`` rows,
    then their ``fps`` rows (ordering: operators/_index.py). Ghost or
    duplicate fps rows from a torn delete or append cannot inflate a
    probe's score: n_shared is countDistinct(fp)."""
    t_fps, t_sizes, _ = _winnow_tables(index_path)
    delete_ids(ids, id_col, t_sizes, t_fps)


def sync_winnow_index_from_cdf(
    spark,
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Maintain the winnow index from the corpus change feed
    (``_index.sync_from_cdf``): re-fingerprint only the touched docs.
    Returns the number of touched ids."""

    def reindex(touched: DataFrame, docs: DataFrame) -> None:
        delete_from_winnow_index(touched, index_path, id_col)
        update_winnow_index(docs, text_col, id_col, index_path)

    return sync_from_cdf(
        spark, corpus_path, _winnow_tables(index_path)[0], _WIN_PROP,
        id_col, reindex,
    )


def near_dups_against_winnow_index(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs between ``batch`` and the indexed corpus —
    the batch is fingerprinted under the index's frozen family
    (map-only), joined against the stored fingerprint rows on fp, and
    scored by jaccard over the capped fingerprint sets. n_shared is
    countDistinct(fp), so duplicate stored rows from a torn
    append-replay window can never inflate a score. Returns
    (batch_id, corpus_id, n_shared, jaccard >= threshold)."""
    from ..reader import read_delta
    from ._cache import register_persisted

    spark = batch.sparkSession
    t_fps, t_sizes, t_hot = _winnow_tables(index_path)
    p = pinned(t_fps, _WIN_PROP)
    bfps = register_persisted(
        winnow_fingerprints(batch, text_col, id_col, p["k"], p["w"])
        .join(F.broadcast(read_delta(spark, t_hot)), "fp", "left_anti")
        .persist(),
        "winnow_fps",
    )
    bsizes = bfps.groupBy(id_col).agg(F.count("*").alias("__nb"))
    stored = read_delta(spark, t_fps)
    shared = (
        stored.select(F.col(id_col).alias("corpus_id"), "fp")
        .join(
            bfps.select(F.col(id_col).alias("batch_id"), "fp"), "fp"
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.countDistinct("fp").alias("n_shared"))
    )
    csizes = read_delta(spark, t_sizes).select(
        F.col(id_col).alias("corpus_id"), F.col("n_fp").alias("__nc")
    )
    jac = F.col("n_shared") / (
        F.col("__nb") + F.col("__nc") - F.col("n_shared")
    )
    return (
        shared.join(bsizes.withColumnRenamed(id_col, "batch_id"), "batch_id")
        .join(csizes, "corpus_id")
        .filter(jac >= threshold)
        .select(
            "batch_id", "corpus_id",
            F.col("n_shared").cast("long").alias("n_shared"),
            jac.alias("jaccard"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 500,
) -> DataFrame:
    """WEIGHTED near-dup pairs: cosine similarity of tf-idf vectors
    over word ``n``-gram terms — the similarity the set-based family
    (jaccard/minhash/winnowing) can't express: a shared RARE passage
    outweighs any amount of shared boilerplate, because each term
    contributes tf_a * tf_b * ln(N/df)^2 to the dot product.

        w(d, t) = tf(d, t) * ln(N / df(t));   cos = <wa, wb> / (|wa| |wb|)

    Terms with document frequency above ``max_df`` are dropped from
    the vector space entirely (document-frequency stopwording —
    standard IR and the cap that bounds the pair join: a term
    contributes at most max_df^2 candidate pairs). The pair join is
    the q31 inverted-index shape keyed on md5(term) (32-hex shuffle
    key, never the raw n-gram), with the weight relation persisted
    once for its three consumers (norms + both join sides). Inclusion
    thresholds on the ROUNDED cosine so the relational oracle can't
    disagree at a float boundary.

    Returns: (a, b, cosine double 9 dp), a < b, cosine >= threshold.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    from ._cache import register_persisted

    words = F.split(F.lower(F.col(text_col)), r"\s+")
    gram = "concat_ws(' ', {})".format(
        ", ".join(f"element_at(__words, i + {j})" for j in range(n))
    )
    shingle_arr = (
        f"CASE WHEN size(__words) >= {n} THEN "
        f"transform(sequence(1, size(__words) - {n - 1}), i -> {gram})"
        f" ELSE array() END"
    )
    terms = (
        df.repartition(F.col(id_col))
        .select(F.col(id_col), words.alias("__words"))
        .select(F.col(id_col), F.explode(F.expr(shingle_arr)).alias("__t"))
        .select(F.col(id_col), F.md5("__t").alias("__k"))
    )
    tf = terms.groupBy(id_col, "__k").agg(F.count("*").alias("__tf"))
    dfreq = (
        tf.groupBy("__k")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_df)
        .withColumnRenamed("__k", "__fk")
    )
    ndocs = df.agg(F.countDistinct(id_col).alias("__n"))
    weights = register_persisted(
        tf.join(dfreq, tf["__k"] == dfreq["__fk"])
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col(id_col),
            "__k",
            (
                F.col("__tf")
                * F.log(F.col("__n").cast("double") / F.col("__df"))
            ).alias("__w"),
        )
        .persist(),
        "tfidf_pairs",
    )
    norms = weights.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__nm")
    )
    left = weights.select(
        F.col(id_col).alias("a"), F.col("__k"), F.col("__w").alias("__wa")
    )
    right = weights.select(
        F.col(id_col).alias("b"),
        F.col("__k").alias("__k2"),
        F.col("__w").alias("__wb"),
    )
    dots = (
        left.join(
            right,
            (F.col("__k") == F.col("__k2")) & (F.col("a") < F.col("b")),
        )
        .groupBy("a", "b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col(id_col).alias("a"), F.col("__nm").alias("__na"))
    nb = norms.select(F.col(id_col).alias("b"), F.col("__nm").alias("__nb"))
    cos = F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 9)
    return (
        dots.join(na, "a")
        .join(nb, "b")
        .select("a", "b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    min_shingles: int = 5,
) -> DataFrame:
    """DIRECTIONAL near-dup pairs by shingle containment
    |A intersect B| / |A| (Broder 1997's second resemblance measure):
    catches the excerpt/quotation case symmetric jaccard misses — a
    paragraph lifted into a much larger document scores containment
    ~1.0 while its jaccard is tiny. Inner documents with fewer than
    ``min_shingles`` distinct shingles are ignored (everything is
    trivially contained in a big enough corpus).

    One intersection count per UNORDERED pair (the q31 inverted-index
    join), then both directions are derived by projection — the
    ratios are exact integer divisions, so the threshold can never
    disagree with the relational oracle.

    Returns: (inner_id, outer_id, n_shared, containment 6 dp) with
    containment >= threshold, inner != outer.
    """
    if min_shingles < 1:
        raise ValueError(f"min_shingles must be >= 1, got {min_shingles}")
    sh = word_shingles(df, text_col, id_col, n=n).withColumnRenamed(
        id_col, "__id"
    )
    sizes = sh.groupBy("__id").agg(F.count("*").alias("__n"))
    a = sh.select(F.col("__id").alias("__a"), "shingle")
    b = sh.select(F.col("__id").alias("__b"), F.col("shingle").alias("__s2"))
    inter = (
        a.join(b, (a["shingle"] == b["__s2"]) & (a["__a"] < b["__b"]))
        .groupBy("__a", "__b")
        .agg(F.count("*").alias("__i"))
    )
    sa = sizes.select(F.col("__id").alias("__a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__id").alias("__b"), F.col("__n").alias("__nb"))
    both = inter.join(sa, "__a").join(sb, "__b")
    fwd = both.select(
        F.col("__a").alias("inner_id"),
        F.col("__b").alias("outer_id"),
        F.col("__i").alias("n_shared"),
        (F.col("__i") / F.col("__na")).alias("__c"),
        F.col("__na").alias("__sz"),
    )
    rev = both.select(
        F.col("__b").alias("inner_id"),
        F.col("__a").alias("outer_id"),
        F.col("__i").alias("n_shared"),
        (F.col("__i") / F.col("__nb")).alias("__c"),
        F.col("__nb").alias("__sz"),
    )
    return (
        fwd.union(rev)
        .filter((F.col("__c") >= threshold) & (F.col("__sz") >= min_shingles))
        .select(
            "inner_id", "outer_id", "n_shared",
            F.round("__c", 6).alias("containment"),
        )
    )


def leakage_free_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    test_pred: Column,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Contamination-aware holdout split: rows matching ``test_pred``
    become the TEST set only if no TRAIN document is a near-duplicate
    (word-``n``-gram jaccard >= ``threshold``); contaminated
    candidates are QUARANTINED — kept out of test so evaluation
    doesn't grade the model on training data, and out of train so the
    split stays reproducible when re-derived (Lee et al. 2022 §6
    measure the dedup-test-leakage effect this detects).

    The pair join is q31's inverted-index shape with one side
    pre-filtered to the candidate slice (|test| << |corpus|, so the
    join is an order of magnitude cheaper than full near-dup); the
    jaccard is an exact integer ratio.

    Returns: (id_col, split in {'train','test','quarantined'}).
    """
    sh = word_shingles(df, text_col, id_col, n=n)
    ids = df.select(F.col(id_col), test_pred.alias("__cand"))
    sh_flagged = sh.join(ids, id_col)
    sh_test = sh_flagged.filter(F.col("__cand")).select(
        F.col(id_col).alias("__t"), "shingle"
    )
    sh_train = sh_flagged.filter(~F.col("__cand")).select(
        F.col(id_col).alias("__r"), F.col("shingle").alias("__s2")
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__n"))
    inter = (
        sh_test.join(sh_train, sh_test["shingle"] == sh_train["__s2"])
        .groupBy("__t", "__r")
        .agg(F.count("*").alias("__i"))
    )
    st = sizes.select(F.col(id_col).alias("__t"), F.col("__n").alias("__nt"))
    sr = sizes.select(F.col(id_col).alias("__r"), F.col("__n").alias("__nr"))
    leaked = (
        inter.join(st, "__t")
        .join(sr, "__r")
        .filter(
            F.col("__i")
            / (F.col("__nt") + F.col("__nr") - F.col("__i"))
            >= threshold
        )
        .select(F.col("__t").alias("__leaked"))
        .distinct()
    )
    out = ids.join(
        leaked, ids[id_col] == leaked["__leaked"], "left"
    ).select(
        F.col(id_col),
        F.when(~F.col("__cand"), F.lit("train"))
        .when(F.col("__leaked").isNotNull(), F.lit("quarantined"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return out


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): find every MAXIMAL token span of
# length >= k that occurs more than once in the corpus, then scrub the
# duplicated regions. Lee et al. build a corpus-wide suffix array; the
# Spark-first equivalence used here: a token region is covered by a
# duplicated substring of length >= k IFF it is covered by a
# duplicated k-gram (every length-L >= k duplicate makes all its
# L-k+1 k-grams duplicates, and a duplicated k-gram IS a length-k
# duplicate), so counting k-gram occurrences and merging overlapping
# duplicated starts per document yields exactly the suffix array's
# maximal duplicated regions — with ONE corpus-wide count shuffle, one
# semi join back, and doc-keyed windows, never a suffix sort's global
# order or an all-pairs comparison. Grams are keyed by md5 of the gram
# text so the DuckDB oracle computes the identical key (swap xxhash64
# at 100 TB; any collision affects both engines identically).
# ---------------------------------------------------------------------------


def _position_grams(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id_col, pos, __g): 1-based start position and md5 key of every
    token k-gram (lowercased whitespace tokens, empties dropped).
    Documents shorter than k tokens produce no rows."""
    words = (
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )
    grams = (
        f"CASE WHEN size(__ws) >= {k} THEN "
        f"transform(sequence(1, size(__ws) - {k - 1}), "
        f"i -> md5(array_join(slice(__ws, i, {k}), ' ')))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    return (
        df.select(F.col(id_col), F.expr(words).alias("__ws"))
        .select(F.col(id_col), F.posexplode(F.expr(grams)).alias("__p", "__g"))
        .select(F.col(id_col), (F.col("__p") + 1).alias("pos"), "__g")
    )


def exact_substring_spans(
    df: DataFrame, text_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """Maximal duplicated token spans of length >= ``k``:
    (id_col, start_pos, end_pos, n_tokens, n_grams), positions
    1-based inclusive over the document's token sequence. A span is a
    maximal contiguous region covered by k-grams that occur >= 2 times
    corpus-wide (within- and cross-document repeats both count, as in
    Lee et al.); overlapping and touching covered regions merge.

    Scale shape: one gram-count shuffle (map-side combined), one hash
    semi join back to positions, one doc-keyed window pass. All
    integer arithmetic — the oracle replays it bit-for-bit.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    grams = _position_grams(df, text_col, id_col, k)
    dup = (
        grams.groupBy("__g")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__g")
    )
    starts = grams.join(dup, "__g", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = starts.select(
        F.col(id_col),
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + k),
            1,
        )
        .otherwise(0)
        .alias("__f"),
    )
    isl = flagged.select(
        F.col(id_col),
        "pos",
        F.sum("__f").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "__isl"
        ),
    )
    return isl.groupBy(id_col, "__isl").agg(
        F.min("pos").cast("int").alias("start_pos"),
        (F.max("pos") + (k - 1)).cast("int").alias("end_pos"),
        (F.max("pos") + k - F.min("pos")).cast("int").alias("n_tokens"),
        F.count("*").cast("long").alias("n_grams"),
    ).drop("__isl")


def exact_substring_scrub(
    df: DataFrame, text_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """Lee et al.'s scrub step: remove every token covered by a
    duplicated >= k span and report per document
    (id_col, n_tokens long, n_removed long, clean_hash md5 of the
    scrubbed token stream) — every input document appears, scrubbed or
    not. The duplicated START positions ride back to each doc as one
    sorted array (doc-keyed aggregation), and the scrub itself is a
    map-side HOF filter — no per-token join."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    grams = _position_grams(df, text_col, id_col, k)
    dup = (
        grams.groupBy("__g")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__g")
    )
    starts = (
        grams.join(dup, "__g", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__starts"))
    )
    words = (
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )
    staged = (
        df.select(F.col(id_col), F.expr(words).alias("__ws"))
        .join(starts, id_col, "left")
        .select(
            F.col(id_col),
            "__ws",
            F.coalesce(
                F.col("__starts"), F.expr("CAST(array() AS array<int>)")
            ).alias("__starts"),
        )
    )
    kept = F.expr(
        f"filter(__ws, (x, i) -> NOT exists(__starts, "
        f"s -> i + 1 BETWEEN s AND s + {k - 1}))"
    )
    return staged.select(
        F.col(id_col),
        F.size("__ws").cast("long").alias("n_tokens"),
        (F.size("__ws") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# Persistent exact-substring gram index — the incremental tier of the
# exact-substring dedup above, joining the index-maintenance family
# (lifecycle: operators/_index.py).
# Postings-only design: the index stores positional k-gram rows plus
# per-doc sizes; NO count table is maintained, because the probe only
# ever needs (a) EXISTENCE of a gram in the indexed corpus and (b)
# counts WITHIN the probe batch — both dup-row tolerant, so a torn
# append-replay window can never inflate a verdict (the same
# countDistinct-style tolerance the winnow index relies on, where a
# maintained count table would double-count on replay).
# ---------------------------------------------------------------------------

_SUB_PROP = "dls.substringIndex."


def _substring_tables(index_path: str) -> tuple[str, str]:
    return (
        f"{index_path}/grams",  # (doc id, pos, g) positional postings
        f"{index_path}/sizes",  # (doc id, n_grams) known-doc registry
    )


def build_substring_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    k: int = 8,
    corpus_version: int = 0,
) -> None:
    """Build the persistent gram index: positional k-gram postings and
    the per-doc size registry, with ``k`` pinned as a table property
    so every later update and probe provably grams under the same
    family."""
    from ..writer import write_delta

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    t_grams, t_sizes = _substring_tables(index_path)
    grams = _position_grams(corpus, text_col, id_col, k)
    props = pin(_SUB_PROP, {"k": k}, corpus_version)
    write_delta(grams, t_grams, mode="overwrite", properties=props)
    write_delta(
        grams.groupBy(id_col).agg(F.count("*").alias("n_grams")),
        t_sizes,
        mode="overwrite",
    )


def update_substring_index(
    new_docs: DataFrame, text_col: str, id_col: str, index_path: str
) -> None:
    """Incrementally gram newly-appended docs under the frozen k and
    append transactionally; known ids are skipped so replays are
    idempotent. Crash ordering — grams FIRST, sizes second: a crash
    between the appends leaves ids grammed but unknown; the replay
    re-grams them, and the duplicate (doc, pos, g) rows are absorbed
    by the probe's existence semantics. Sizes-first would instead
    lose the ids' grams forever."""
    from ..reader import read_delta
    from ..writer import write_delta

    spark = new_docs.sparkSession
    t_grams, t_sizes = _substring_tables(index_path)
    k = pinned(t_grams, _SUB_PROP)["k"]
    known = read_delta(spark, t_sizes).select(id_col)
    fresh = new_docs.join(known, id_col, "left_anti")
    from ._cache import register_persisted

    grams = register_persisted(
        _position_grams(fresh, text_col, id_col, k).persist(),
        "substring_grams",
    )
    write_delta(grams, t_grams, mode="append")
    write_delta(
        grams.groupBy(id_col).agg(F.count("*").alias("n_grams")),
        t_sizes,
        mode="append",
    )


def delete_from_substring_index(
    ids: DataFrame, index_path: str, id_col: str = "doc_id"
) -> None:
    """GDPR delete propagation: MERGE-delete the ids' ``sizes`` rows,
    then their ``grams`` rows (ordering: operators/_index.py). Ghost or
    duplicate gram rows cannot change a verdict: the probe only asks
    whether a gram exists in the index."""
    t_grams, t_sizes = _substring_tables(index_path)
    delete_ids(ids, id_col, t_sizes, t_grams)


def sync_substring_index_from_cdf(
    spark,
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Maintain the gram index from the corpus change feed
    (``_index.sync_from_cdf``): re-gram only the touched docs. Returns
    the number of touched ids."""

    def reindex(touched: DataFrame, docs: DataFrame) -> None:
        delete_from_substring_index(touched, index_path, id_col)
        update_substring_index(docs, text_col, id_col, index_path)

    return sync_from_cdf(
        spark, corpus_path, _substring_tables(index_path)[0], _SUB_PROP,
        id_col, reindex,
    )


def spans_against_index(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
) -> DataFrame:
    """Maximal duplicated spans of ``batch`` documents against the
    indexed corpus AND the batch itself — the on-arrival form of
    :func:`exact_substring_spans`: a batch k-gram is duplicated iff it
    occurs >= 2 times in the batch or at all in the index. Existence
    is a semi join against the postings pruned to the batch's gram
    set, so the aggregation is BATCH-bounded (the corpus never
    re-aggregates); within-batch counts come from the batch alone.
    Same island-merge and output schema as exact_substring_spans."""
    from pyspark.sql import Window

    from ..reader import read_delta

    spark = batch.sparkSession
    t_grams, _ = _substring_tables(index_path)
    k = pinned(t_grams, _SUB_PROP)["k"]
    from ._cache import register_persisted

    grams = register_persisted(
        _position_grams(batch, text_col, id_col, k).persist(),
        "substring_grams",
    )
    batch_dup = (
        grams.groupBy("__g")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__g")
    )
    stored_hit = (
        read_delta(spark, t_grams)
        .select("__g")
        .join(grams.select("__g").distinct(), "__g", "left_semi")
        .distinct()
    )
    dup = batch_dup.union(stored_hit).distinct()
    starts = grams.join(dup, "__g", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = starts.select(
        F.col(id_col),
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + k),
            1,
        )
        .otherwise(0)
        .alias("__f"),
    )
    isl = flagged.select(
        F.col(id_col),
        "pos",
        F.sum("__f").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "__isl"
        ),
    )
    return isl.groupBy(id_col, "__isl").agg(
        F.min("pos").cast("int").alias("start_pos"),
        (F.max("pos") + (k - 1)).cast("int").alias("end_pos"),
        (F.max("pos") + k - F.min("pos")).cast("int").alias("n_tokens"),
        F.count("*").cast("long").alias("n_grams"),
    ).drop("__isl")


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_sim_milli: int = 800,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs verified by EXACT edit distance: a
    1-permutation MinHash (each doc's minimum md5 word-``k``-shingle)
    nominates candidate pairs, then Levenshtein over the normalized
    text keeps pairs with similarity >= ``min_sim_milli``/1000 — the
    character-level verifier that catches small in-place edits the
    set-based verifiers (Jaccard, containment) under- or over-credit.

    Candidate recall is the 1-hash MinHash guarantee: two docs
    collide with probability equal to their shingle-set Jaccard —
    high-similarity pairs almost always share the global minimum
    shingle. (Raise recall by unioning a second seed upstream; the
    verify stage is unchanged.) Docs shorter than ``k`` words use
    their whole normalized text as the single shingle, so exact
    short-doc duplicates still pair.

    Exactness: the bucket key is an md5 minimum (engine-portable),
    Levenshtein is the standard integer DP (identical in Spark and
    DuckDB), and the similarity is integer arithmetic —
    sim_milli = 1000 - (1000 * lev) div max(len_a, len_b) — so the
    whole pipeline is bit-reproducible.

    Scale shape: the min-shingle is computed INSIDE each row (a
    map-only array_min over the shingle transform — no explode, no
    shuffle); the only exchange is the bucket-keyed self-join, whose
    fan-out is bounded by true near-dup cluster sizes (collisions of
    dissimilar docs require a global md5 minimum collision). Buckets
    larger than ``max_bucket_size`` are dropped BEFORE the join (the
    lsh_ann_pairs degenerate-bucket valve: a template flood sharing
    one min-shingle would otherwise square). Unlike banded LSH there
    is no second band to recover a dropped bucket's pairs, so the
    bound is part of the operator's CONTRACT — the oracle replicates
    it — and a template-heavy corpus should raise it or pre-dedup
    exactly. The
    Levenshtein verify is a map-side projection on the joined pairs.

    Returns (id_a, id_b, lev, sim_milli), id_a < id_b.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0 <= min_sim_milli <= 1000:
        raise ValueError(
            f"min_sim_milli must be in [0, 1000], got {min_sim_milli}"
        )
    if max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size must be >= 2, got {max_bucket_size}"
        )
    norm = (
        f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    )
    shingles = (
        f"transform(sequence(1, greatest(size(__ws) - {k} + 1, 1)),"
        f" i -> md5(array_join(slice(__ws, i, {k}), ' ')))"
    )
    keyed = df.select(
        F.col(id_col),
        F.expr(norm).alias("__norm"),
        F.expr(
            f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
        ).alias("__ws"),
    ).select(
        id_col,
        "__norm",
        F.expr(f"array_min({shingles})").alias("__key"),
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"),
        F.col("__norm").alias("__na"),
        "__key",
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"),
        F.col("__norm").alias("__nb"),
        "__key",
    )
    sizes = keyed.groupBy("__key").agg(F.count("*").alias("__n"))
    ok_keys = sizes.filter(
        (F.col("__n") > 1) & (F.col("__n") <= max_bucket_size)
    ).select("__key")
    pairs = (
        a.join(ok_keys, "__key")
        .join(b, "__key")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    lev = F.levenshtein(F.col("__na"), F.col("__nb"))
    sim = F.lit(1000) - F.expr(
        "(1000 * CAST(__lev AS BIGINT)) div "
        "greatest(length(__na), length(__nb))"
    )
    return (
        pairs.withColumn("__lev", lev)
        .withColumn("sim_milli", sim)
        .filter(F.col("sim_milli") >= F.lit(int(min_sim_milli)))
        .select(
            "id_a",
            "id_b",
            F.col("__lev").cast("long").alias("lev"),
            F.col("sim_milli").cast("long").alias("sim_milli"),
        )
    )
