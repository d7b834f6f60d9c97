"""Similarity search over embedding columns (array<float>).

Three tiers:
  - cosine_topk:   brute-force exact top-k — the correctness baseline.
                   Queries are broadcast; similarity is computed with
                   built-in higher-order functions (zip_with/aggregate),
                   entirely JVM-side, and top-k per query uses a window
                   (TakeOrdered-style, no global sort).
  - lsh_ann_pairs: random-hyperplane LSH bucketing — the 100 TB path.
                   Deterministic planes (seeded numpy), b bands; only
                   bucket-colliding pairs are scored.
  - ivf_topk:      inverted-file index: k-means-free deterministic
                   centroid sample, route each query to nprobe nearest
                   cells, score only those cells' vectors.

Scale notes: brute force is O(|Q| x |N|) — fine for |Q| small (it's a
broadcast nested loop with no shuffle); the LSH/IVF variants exist
because at 10^9+ vectors the cross product must be pruned. All variants
avoid Python row loops; math stays in codegen'd expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import register_persisted
from ._index import delete_ids, pin, pinned, sync_from_cdf


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity_col(a, b):
    """Cosine similarity between two array<numeric> columns (double).
    A zero-norm side yields NULL — stated via nullif so the semantics
    hold under ANSI mode too (Spark 4 defaults ansi.enabled=true,
    where a bare double/0 RAISES instead of following IEEE)."""
    den = _norm(a) * _norm(b)
    return (_dot(a, b) / F.nullif(den, F.lit(0.0))).cast("double")


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns: query_id, neighbor_id, rank (1..k), sim (double).
    Deterministic: ties broken by ascending neighbor id.
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    n = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__nv"),
    )
    joined = n.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cosine_similarity_col(F.col("__qv"), F.col("__nv")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def lsh_ann_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Approximate near-neighbor PAIRS via random-hyperplane LSH.

    Sign-bit signature of ``n_planes`` deterministic hyperplanes, split
    into ``bands``; pairs colliding in any band are scored exactly and
    filtered by cosine >= threshold. Returns id_1, id_2, sim.

    Scale guards (on by default):
      - only (id, band, key) rows travel through the candidate shuffle;
        full vectors are re-joined by id for the exact verification of
        the (small) candidate set, never carried through banding;
      - buckets larger than ``max_bucket_size`` are dropped BEFORE any
        membership list is materialized (bucket sizes are counted first
        with map-side partial aggregation), so a degenerate hyperplane
        cut over boilerplate vectors cannot go quadratic or OOM a task.
        Pairs in a dropped bucket can still surface via the other
        ``bands - 1`` bands.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    bits = [
        (_dot(F.col("__v"), F.array(*[F.lit(x) for x in p])) > 0).cast("int").alias(f"bit{i}")
        for i, p in enumerate(planes)
    ]
    sig = v.select(id_col, *bits)  # ids + sign bits only — vectors stay behind
    width = n_planes // bands
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                "", *[F.col(f"bit{bi * width + j}") for j in range(width)]
            ).alias("key"),
        )
        for bi in range(bands)
    ]
    banded = sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.key")
    sizes = banded.groupBy("band", "key").agg(F.count("*").alias("__n"))
    keep = sizes.filter(
        (F.col("__n") > 1) & (F.col("__n") <= max_bucket_size)
    ).select("band", "key")
    bucketed = (
        banded.join(keep, ["band", "key"])
        .groupBy("band", "key")
        .agg(F.collect_set(id_col).alias("ids"))
    )
    cand = (
        bucketed.select(F.explode("ids").alias("id_1"), F.col("ids"))
        .select("id_1", F.explode("ids").alias("id_2"))
        .filter(F.col("id_1") < F.col("id_2"))
        .distinct()
    )
    v1 = v.select(F.col(id_col).alias("id_1"), F.col("__v").alias("v1"))
    v2 = v.select(F.col(id_col).alias("id_2"), F.col("__v").alias("v2"))
    return (
        cand.join(v1, "id_1")
        .join(v2, "id_2")
        .select(
            "id_1", "id_2", cosine_similarity_col(F.col("v1"), F.col("v2")).alias("sim")
        )
        .filter(F.col("sim") >= threshold)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: deterministic centroids (the min-id vector of each
    ``id % n_cells`` hash bucket — a k-means-free seeding that is fully
    distributed: one partial-aggregating groupBy, no global sort or
    window), assign vectors to their nearest centroid, probe the
    ``nprobe`` closest cells per query, exact top-k within the probed
    cells.

    Returns: query_id, neighbor_id, rank, sim. Approximate: recall
    depends on nprobe/n_cells; nprobe = n_cells degrades to exact.
    The seeding rule is plain modulo arithmetic so an external oracle
    (ANSI SQL ``arg_min`` per bucket) can replicate the whole operator
    value-exactly.
    """
    ranked = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    # persist the n_cells-row centroid relation: it feeds BOTH the
    # corpus-assignment branch and the query-routing branch, and
    # per-branch column pruning defeats exchange reuse (see _cache.py)
    # — without the cache each broadcast build re-aggregates the corpus
    centroids = register_persisted(
        ranked.groupBy(
            F.pmod(F.col(id_col), F.lit(n_cells)).cast("int").alias("cell_id")
        )
        .agg(F.min_by("__v", F.col(id_col)).alias("__cv"))
        .persist(),
        "ann_quantizer",
    )

    # assign every vector to its nearest centroid (broadcast centroids)
    scored = ranked.crossJoin(F.broadcast(centroids)).select(
        id_col,
        "__v",
        "cell_id",
        cosine_similarity_col(F.col("__v"), F.col("__cv")).alias("__cs"),
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.col("__cs").desc(), F.col("cell_id").asc()
    )
    assigned = (
        scored.withColumn("__r", F.row_number().over(w_assign))
        .filter(F.col("__r") == 1)
        .select(id_col, "__v", "cell_id")
    )

    # route queries to nprobe nearest cells
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    q_scored = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "__qv",
        "cell_id",
        cosine_similarity_col(F.col("__qv"), F.col("__cv")).alias("__cs"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__cs").desc(), F.col("cell_id").asc()
    )
    probes = (
        q_scored.withColumn("__r", F.row_number().over(w_probe))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "__qv", "cell_id")
    )

    cand = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored_cand = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_similarity_col(F.col("__qv"), F.col("__v")).alias("sim"),
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored_cand.withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_topk_pandas(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors, Arrow/numpy path: the query matrix
    (small by definition) ships to every task; each Arrow batch of
    vectors scores against ALL queries with one BLAS matmul via
    mapInPandas, keeping only its local top-k per query; a final window
    reduces local winners to the global top-k.

    Same contract as cosine_topk (query_id, neighbor_id, rank, sim;
    ties by ascending neighbor id) — the built-in-function variant is
    the plan-transparency baseline, this one is the throughput path
    (vectorized C loops instead of per-element codegen over arrays).
    Scale: shuffles only ~|queries| * k rows per input partition.
    Ids are assumed int64 end to end (the Arrow path's numpy contract;
    the empty-result and mapInPandas schemas are typed accordingly) —
    use cosine_topk for non-integer id columns.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    query_id_col = query_id_col or id_col
    q_rows = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()  # queries are small by contract (they are the lookup keys)
    if not q_rows:
        return vectors.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, sim double"
        )
    q_ids = np.array([r.qid for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.qv for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["__nv"]), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ q_norm.T  # (batch, nq)
            out_q, out_n, out_s = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                mask = ids != q_ids[j] if exclude_self else np.ones_like(ids, bool)
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                # local top-k (sim desc, id asc) per Arrow batch
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
                sel = cand_idx[order]
                out_q.extend([q_ids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_s.extend(col[sel])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    locals_df = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__nv"),
    ).mapInPandas(score, schema="query_id long, neighbor_id long, sim double")

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        locals_df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def kmeans_clusters(
    vectors: DataFrame,
    n_cells: int = 8,
    iterations: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration distributed k-means over an embedding column —
    the clustering pre-step of IVF index builds and corpus bucketing.

    Deterministic end to end so external oracles can replicate it:
    seeding is the min-id vector per ``id % n_cells`` bucket (same rule
    as ivf_topk); assignment ranks by cosine (ties by cell id);
    centroid recomputation is one groupBy with ``dim`` per-position
    avg() aggregates (NO posexplode — the shuffle carries n_cells * dim
    doubles total, not |vectors| * dim rows); centroids are rounded to
    1e-9 each iteration so float summation order can never flip an
    assignment across engines or reruns.

    Returns: cell_id (int), n_members (long) after ``iterations``
    assign/recompute rounds.
    """
    assigned = _kmeans_assign(vectors, n_cells, iterations, dim, id_col, vec_col)
    return assigned.groupBy("cell_id").agg(F.count("*").alias("n_members"))


def _kmeans_assign(
    vectors: DataFrame,
    n_cells: int,
    iterations: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared deterministic k-means assignment (see kmeans_clusters):
    returns (id_col, __v double array, cell_id int)."""
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    centroids = (
        v.groupBy(
            F.pmod(F.col(id_col), F.lit(n_cells)).cast("int").alias("cell_id")
        )
        .agg(F.min_by("__v", F.col(id_col)).alias("__cv"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        scored = v.crossJoin(F.broadcast(cents)).select(
            id_col,
            "__v",
            "cell_id",
            cosine_similarity_col(F.col("__v"), F.col("__cv")).alias("__cs"),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("__cs").desc(), F.col("cell_id").asc()
        )
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select(id_col, "__v", "cell_id")
        )

    assigned = assign(centroids)
    for _ in range(iterations - 1):
        centroids = assigned.groupBy("cell_id").agg(
            # one parsed SQL string instead of dim x (round/avg/
            # element_at) py4j Column calls — identical expression
            # tree (see _dot_sql)
            F.expr(
                "array({})".format(
                    ", ".join(
                        f"round(avg(element_at(__v, {i + 1})), 9)"
                        for i in range(dim)
                    )
                )
            ).alias("__cv")
        )
        assigned = assign(centroids)
    return assigned


def _kmeans_assign_arrow(
    vectors: DataFrame,
    n_cells: int,
    iterations: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Vectorized mirror of _kmeans_assign for LARGE n_cells: the
    builtin assignment is a crossJoin of |corpus| x n_cells codegen'd
    64-step cosine folds — at 1M vectors x 500 cells that is 500M
    folds per iteration and the measured wall-clock wall (the round-10
    1M bench spent >30 min there). Here each iteration broadcasts the
    (n_cells x dim) centroid matrix (bounded: cells are the model) and
    one mapInPandas GEMM per Arrow batch assigns argmax-cosine cells,
    ties to the LOWEST cell id (np.argmax first-max). Seeding and the
    1e-9-rounded per-position-avg centroid recompute are the SAME
    exact relational steps as the builtin path, so the two paths agree
    except where a member's top-two cosines tie within one GEMM-vs-
    fold ulp (~1e-16 — measure-zero; the oracle-pinned queries keep
    the builtin path). Returns (id_col, __v, cell_id)."""
    import numpy as np
    import pandas as pd

    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    centroids = (
        v.groupBy(
            F.pmod(F.col(id_col), F.lit(n_cells)).cast("int").alias("cell_id")
        )
        .agg(F.min_by("__v", F.col(id_col)).alias("__cv"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        rows = cents.orderBy("cell_id").collect()  # bounded: the model
        cell_ids = np.array([r.cell_id for r in rows], dtype=np.int32)
        cmat = np.array([r["__cv"] for r in rows], dtype=np.float64)
        cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
        cmat = cmat / np.where(cnorm == 0, 1.0, cnorm)
        czero = cnorm.ravel() == 0

        def score(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.array(list(pdf["__v"]), dtype=np.float64)
                mnorm = np.linalg.norm(mat, axis=1, keepdims=True)
                mat = mat / np.where(mnorm == 0, 1.0, mnorm)
                sims = mat @ cmat.T
                # builtin semantics for degenerate inputs: a zero
                # vector's cosine is NULL, and NULLs sort LAST in the
                # desc window — mirror that as -inf, so a zero member
                # (all sims null) lands on the lowest cell id and a
                # zero centroid never wins a non-zero member (instead
                # of NaN poisoning argmax with a RuntimeWarning)
                sims[mnorm.ravel() == 0, :] = -np.inf
                sims[:, czero] = -np.inf
                best = np.argmax(sims, axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values,
                        "__v": pdf["__v"].values,
                        "cell_id": cell_ids[best],
                    }
                )

        return v.mapInPandas(
            score,
            schema=f"{id_col} {v.schema[id_col].dataType.simpleString()},"
            " __v array<double>, cell_id int",
        )

    # No per-round checkpoint: each round's centroid matrix crosses
    # through the DRIVER (the collect inside assign), so round plans
    # never nest — an intermediate round's assignment is consumed
    # exactly once, by the next round's centroid collect, and caching
    # it only added an eager barrier + a corpus-sized write per round.
    # Only the LAST round's assignment has multiple downstream
    # consumers (the final-centroid aggregation and the dedup prune),
    # so it alone is checkpointed.
    assigned = assign(centroids)
    for _ in range(iterations - 1):
        centroids = assigned.groupBy("cell_id").agg(
            # one parsed SQL string instead of dim x (round/avg/
            # element_at) py4j Column calls — identical expression
            # tree (see _dot_sql)
            F.expr(
                "array({})".format(
                    ", ".join(
                        f"round(avg(element_at(__v, {i + 1})), 9)"
                        for i in range(dim)
                    )
                )
            ).alias("__cv")
        )
        assigned = assign(centroids)
    return assigned.localCheckpoint(eager=True)


def semantic_dedup(
    vectors: DataFrame,
    n_cells: int | None = None,
    threshold: float = 0.45,
    iterations: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    engine: str = "builtin",
    max_cell: int = 20_000,
    assign: str = "builtin",
) -> DataFrame:
    """Semantic deduplication, cluster-then-prune (the SemDeDup recipe:
    Abbas et al. 2023, arXiv:2303.09540): k-means-bucket the embedding
    space, then inside each cluster drop every vector whose cosine to a
    HIGHER-priority member meets ``threshold`` — one representative per
    near-duplicate group survives. Complements exact/MinHash text dedup
    by catching paraphrases that share no shingles.

    ``keep`` selects the survivor rule:

    - ``"min_id"`` — the lowest-id member of each near-dup group
      survives (cheapest: no centroid pass).
    - ``"centroid_far"`` — the paper's actual keep rule: within each
      group keep the member with the LOWEST cosine to its cluster
      centroid (the one farthest from the centroid), preserving the
      cluster's diversity; ties break on ascending id. Costs one extra
      per-cell centroid aggregation + a broadcast join for the member
      cosines.

    Both rules are ONE-PASS (drop b iff ANY higher-priority a is within
    threshold, whether or not a itself was dropped — the standard
    SemDeDup simplification), which is what keeps them a single
    cluster-keyed self-join and SQL-oracle-replicable, instead of a
    sequential greedy chain.

    ``engine`` selects the pairwise realization:

    - ``"builtin"`` — codegen'd cell-keyed self-join (plan-transparent
      baseline; pair cosines rounded to 1e-9 before the compare).
    - ``"arrow"`` — one applyInPandas per cell: normalize the member
      matrix, ONE BLAS matmul for the whole cell's similarity matrix,
      strictly-upper-triangular max per column in priority order —
      this is the shape the SemDeDup paper runs per cluster, and it is
      10-50x the builtin path's throughput on dense near-dup corpora
      (each pair costs a fused multiply-add inside GEMM instead of a
      codegen'd 64-step fold per join row). Pair cosines are rounded
      to 1e-6 before the compare (the q44 precedent: coarse enough
      that BLAS-vs-fold IEEE summation noise of ~1e-15 cannot flip a
      verdict, so the SQL oracle still replays it value-exact). A cell
      exceeding ``max_cell`` members raises loudly — the dense cell
      matrix is the memory contract (20k members = 3.2 GB of float64
      sims), raise ``n_cells`` instead.

    ``assign`` independently selects the k-means assignment
    realization: 'builtin' (codegen crossJoin + window — plan-
    transparent, oracle-exact) or 'arrow' (_kmeans_assign_arrow: one
    GEMM per Arrow batch against the broadcast centroid matrix — the
    required path once |corpus| x n_cells cosine folds dominate, e.g.
    1M x 500; agrees with builtin except within ~1e-16 cosine ties).

    100 TB design: the quadratic pairwise step is confined WITHIN
    clusters — ``n_cells ~ |corpus| / few-thousand`` keeps each cluster
    a bounded local problem; the self-join shuffles once on cell_id.
    When ``n_cells`` is not given it is DERIVED from the corpus size as
    ``max(8, ceil(n / 2000))`` (one cheap count), so the default stays
    safe at any scale instead of collapsing a 10^9-vector corpus into 8
    quadratic cells. The assignment relation feeds THREE consumers
    (both self-join legs + the final kept join), so it is truncated
    with an eager localCheckpoint — the iterative k-means runs once,
    not three times — and each row carries its precomputed vector norm
    so a pair cosine costs one dot product, not dot + two norms. The
    k-means pre-step is the deterministic shared assignment (modulo
    arg_min seeding, 1e-9-rounded centroids), and the cosine is
    rounded to 1e-9 before the threshold compare (the centroid cosine
    likewise before the priority compare), so the whole pipeline is
    replicable by an external SQL oracle.

    Returns (id_col, cell_id, kept boolean) for every input vector.
    """
    if keep not in ("min_id", "centroid_far"):
        raise ValueError(
            f"keep must be 'min_id' or 'centroid_far', got {keep!r}"
        )
    if engine not in ("builtin", "arrow"):
        raise ValueError(
            f"engine must be 'builtin' or 'arrow', got {engine!r}"
        )
    if assign not in ("builtin", "arrow"):
        raise ValueError(
            f"assign must be 'builtin' or 'arrow', got {assign!r}"
        )
    if n_cells is None:
        n_cells = max(8, -(-vectors.count() // 2000))
    assign_fn = _kmeans_assign if assign == "builtin" else _kmeans_assign_arrow
    assigned = assign_fn(vectors, n_cells, iterations, dim, id_col, vec_col)
    if keep == "centroid_far":
        # final centroids from the last assignment (same 1e-9-rounded
        # per-position avg as the iteration step), then each member's
        # centroid cosine — the group-survivor priority key.
        cents = assigned.groupBy("cell_id").agg(
            # one parsed SQL string instead of dim x (round/avg/
            # element_at) py4j Column calls — identical expression
            # tree (see _dot_sql)
            F.expr(
                "array({})".format(
                    ", ".join(
                        f"round(avg(element_at(__v, {i + 1})), 9)"
                        for i in range(dim)
                    )
                )
            ).alias("__cv")
        )
        assigned = assigned.join(F.broadcast(cents), "cell_id").select(
            id_col,
            "__v",
            "cell_id",
            F.round(
                cosine_similarity_col(F.col("__v"), F.col("__cv")), 9
            ).alias("__csim"),
        )
    else:
        assigned = assigned.select(
            id_col, "__v", "cell_id", F.lit(0.0).alias("__csim")
        )
    # three consumers below — run k-means (and the centroid pass) once
    assigned = assigned.withColumn("__nv", _norm(F.col("__v")))
    assigned = assigned.localCheckpoint(eager=True)
    if engine == "arrow":
        return _semantic_dedup_arrow_prune(
            assigned, threshold, id_col, max_cell
        )
    a = assigned.select(
        F.col(id_col).alias("__id_a"),
        "cell_id",
        F.col("__v").alias("__va"),
        F.col("__nv").alias("__na"),
        F.col("__csim").alias("__ca"),
    )
    b = assigned.select(
        F.col(id_col).alias("__id_b"),
        "cell_id",
        F.col("__v").alias("__vb"),
        F.col("__nv").alias("__nb"),
        F.col("__csim").alias("__cb"),
    )
    # a outranks b: centroid_far -> (csim, id) lexicographic asc
    # (farthest-from-centroid first); min_id -> csim constant, id asc.
    outranks = (F.col("__ca") < F.col("__cb")) | (
        (F.col("__ca") == F.col("__cb"))
        & (F.col("__id_a") < F.col("__id_b"))
    )
    # same IEEE tree as cosine_similarity_col — norms just hoisted;
    # nullif keeps the zero-norm NULL semantics under ANSI mode
    pair_cos = _dot(F.col("__va"), F.col("__vb")) / F.nullif(
        F.col("__na") * F.col("__nb"), F.lit(0.0)
    )
    dups = (
        a.join(b, "cell_id")
        .filter(outranks)
        .filter(F.round(pair_cos, 9) >= F.lit(threshold))
        .select(F.col("__id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("__dup", F.lit(True)), id_col, "left")
        .select(id_col, "cell_id", F.col("__dup").isNull().alias("kept"))
    )


def _semantic_dedup_arrow_prune(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    max_cell: int,
) -> DataFrame:
    """Per-cell BLAS prune for semantic_dedup(engine='arrow'): input is
    the checkpointed (id, __v, cell_id, __csim, __nv) assignment; one
    pandas group per cell computes the full similarity matrix with a
    single GEMM and drops every member whose strictly-higher-priority
    max similarity (priority = csim asc, id asc) meets the threshold.
    Pair sims rounded to 1e-6 (q44 precedent) so an SQL oracle replays
    the verdicts despite BLAS summation order. One shuffle (the
    groupBy(cell_id)); payload vectors never visit the driver."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    cap = int(max_cell)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > cap:
            raise ValueError(
                f"semantic_dedup: cell {int(pdf['cell_id'].iloc[0])} has "
                f"{n} members > max_cell={cap}; raise n_cells (dense "
                "cell similarity matrix is the memory contract)"
            )
        if n == 1:
            return pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell_id": pdf["cell_id"].values,
                    "kept": [True],
                }
            )
        # priority order: csim asc, id asc (min_id ships csim == 0.0)
        order = np.lexsort(
            (pdf[id_col].to_numpy(), pdf["__csim"].to_numpy())
        )
        mat = np.array(list(pdf["__v"].iloc[order]), dtype=np.float64)
        norm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(norm == 0, 1.0, norm)
        sims = np.round(mat @ mat.T, 6)
        # builtin semantics for zero vectors: pair cosine is NULL, and
        # NULL >= thr filters to false — a zero member is always kept
        # and never shields anyone. Mirror as -inf on its row+column.
        zero = norm.ravel() == 0
        sims[zero, :] = -np.inf
        sims[:, zero] = -np.inf
        # column j dropped iff any strictly-higher-priority row i < j
        # has sims[i, j] >= thr (one-pass rule, same as the self-join)
        above = np.where(
            np.tri(n, n, -1, dtype=bool).T, sims, -np.inf
        ).max(axis=0)
        kept_sorted = above < thr
        kept = np.empty(n, dtype=bool)
        kept[order] = kept_sorted
        return pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                "cell_id": pdf["cell_id"].values,
                "kept": kept,
            }
        )

    id_type = assigned.schema[id_col].dataType.simpleString()
    return assigned.groupBy("cell_id").applyInPandas(
        prune, schema=f"{id_col} {id_type}, cell_id int, kept boolean"
    )


def centroid_outliers(
    emb: DataFrame,
    vec_col: str,
    label_col: str,
    id_col: str,
    k_outliers: int = 5,
) -> DataFrame:
    """Per-class embedding outliers: the ``k_outliers`` vectors FARTHEST
    (lowest cosine similarity) from their class centroid — the standard
    label-noise / mislabeled-example filter in embedding-curated
    training sets.

    Scale shape: the centroid is an element-wise mean computed by
    posexplode -> groupBy(label, pos) -> avg. That shuffle carries
    |rows| x dim scalar rows ONCE (map-side partial aggregation folds
    them to |labels| x dim per partition before the exchange); the
    resulting centroid relation is |labels| x dim — broadcast-joined
    back, so scoring is a map-only zip_with pass. The final top-k uses
    a per-label window over rows pre-filtered to... no pre-filter is
    possible without approximation, but the window input is one scalar
    row per vector (id, label, sim) — 8-byte-scale rows, not vectors.

    Returns: label_col, id_col, sim (cosine to centroid, rounded to 6).
    """
    v = F.col(vec_col).cast("array<double>")
    flat = emb.select(
        F.col(label_col), F.col(id_col), F.posexplode(v).alias("pos", "val")
    )
    cent_elems = flat.groupBy(label_col, "pos").agg(F.avg("val").alias("cval"))
    centroids = cent_elems.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias("__cent")
    )
    scored = emb.join(F.broadcast(centroids), label_col).select(
        F.col(label_col),
        F.col(id_col),
        cosine_similarity_col(v, F.col("__cent")).alias("__sim"),
    )
    w = Window.partitionBy(label_col).orderBy(
        F.col("__sim").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k_outliers)
        .select(
            label_col,
            id_col,
            F.round(F.col("__sim"), 6).alias("sim"),
        )
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) in [-127, 127] — the 4x memory/IO
    reduction that makes billion-vector ANN shuffles tractable (an
    int8 corpus ships a quarter of the bytes of float32 through every
    exchange, and integer dot products stay exact in 64-bit).

    floor(x + 0.5) (round-half-up) instead of engine round(): IEEE
    half-even vs half-up disagreement on exact .5 values is the classic
    cross-engine drift; floor is bit-identical everywhere, so the
    DuckDB oracle replays quantization exactly.

    Returns (id_col, q_scale double, qvec array<int>); reconstruct with
    x ~ q_i * q_scale (max elementwise error q_scale/2)."""
    v = F.col(vec_col).cast("array<double>")
    scale = (
        F.greatest(
            F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
        )
        / F.lit(127.0)
    )
    emb2 = emb.select(F.col(id_col), v.alias("__v"), scale.alias("q_scale"))
    q = F.transform(
        F.col("__v"),
        lambda x: F.floor(x / F.col("q_scale") + F.lit(0.5)).cast("int"),
    )
    return emb2.select(id_col, "q_scale", q.alias("qvec"))


def quantized_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine over int8-QUANTIZED vectors: quantize both
    sides, broadcast the quantized queries, and score with integer dot
    products folded in 64-bit (per-vector scales cancel out of cosine,
    so no float rescaling in the hot loop). Same plan shape as
    ``cosine_topk`` at a quarter of the shuffle bytes; ranking is
    deterministic (ties by ascending neighbor id).

    Returns: query_id, neighbor_id, rank (1..k), sim (double, cosine of
    the quantized vectors)."""
    qn = quantize_embeddings(emb, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("__nq"),
    )
    qq = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("__qq"),
    )
    idot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    joined = qn.crossJoin(F.broadcast(qq)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    nq, qv = F.col("__nq"), F.col("__qq")
    sim = (
        idot(nq, qv).cast("double")
        / F.nullif(
            F.sqrt(idot(nq, nq).cast("double"))
            * F.sqrt(idot(qv, qv).cast("double")),
            F.lit(0.0),
        )
    ).alias("sim")
    scored = joined.select("query_id", "neighbor_id", sim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _sqdist(a, b):
    """Squared L2 distance via three dot products — the exact same
    floating-point recipe the SQL oracle uses (list_dot_product), so the
    value is reproducible bit-for-bit across engines."""
    return _dot(a, a) - F.lit(2.0) * _dot(a, b) + _dot(b, b)


def _require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """The PQ family keys its deterministic codebooks on ``pmod(id,
    k)``, so ids MUST be integral — a string-keyed corpus would NULL
    out every bucket assignment and silently train an empty codebook.
    Validated up front (schema-only, no job) instead of advertising a
    string-id contract the bucket math cannot honor."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{op}: id column {id_col!r} has type {dt.simpleString()}, but "
            "the PQ codebook buckets key on pmod(id, k) and need an "
            "integral id — map your keys to a long (e.g. xxhash64) first"
        )


def _assert_uniform_dim(v: DataFrame, dim: int, op: str) -> None:
    """One min/max-size aggregate asserting every vector has EXACTLY
    ``dim`` entries. The persistent index paths run this before
    training/encoding: F.slice NULL-pads narrow vectors and truncates
    wide ones, so a dim mismatch would not fail — it would durably
    commit mis-encoded codes (cf. the ragged-input rejection in
    pq_topk's dim probe, which protects only the ad-hoc paths)."""
    probe = v.agg(
        F.min(F.size("__v")).alias("lo"), F.max(F.size("__v")).alias("hi")
    ).first()
    if probe.lo is None:
        return  # empty input: nothing can be mis-encoded
    if probe.lo != probe.hi or probe.lo != dim:
        raise ValueError(
            f"{op}: vector dims [{probe.lo}, {probe.hi}] do not uniformly "
            f"match dim={dim} — refusing to persist silently mis-encoded "
            "codes (F.slice would NULL-pad or truncate, and the arrow "
            "path would fold partial dot products)"
        )


def _pq_empty_result(vectors: DataFrame, id_col: str) -> DataFrame:
    """Typed empty (query_id, neighbor_id, rank, dist) result: id types
    DERIVED from the input schema, so every integral id width (int,
    long, ...) gets the same result types on the empty path as on the
    non-empty one."""
    from pyspark.sql.types import IntegerType, StructField, StructType, DoubleType

    id_type = vectors.schema[id_col].dataType
    return vectors.sparkSession.createDataFrame(
        [],
        StructType(
            [
                StructField("query_id", id_type),
                StructField("neighbor_id", id_type),
                StructField("rank", IntegerType()),
                StructField("dist", DoubleType()),
            ]
        ),
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`_dot` — parses to the identical
    expression tree (zip_with product fold), so values are unchanged;
    building big PQ expressions as ONE parsed string instead of nested
    Python lambdas removes hundreds of py4j round trips per plan
    construction (measured ~0.9 s per ivfpq_topk invocation)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        f" (acc, v) -> acc + v)"
    )


def _sqdist_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`_sqdist` (same three-dot-product
    recipe, same evaluation order)."""
    return (
        f"({_dot_sql(a, a)} - 2.0D * {_dot_sql(a, b)} + {_dot_sql(b, b)})"
    )


def _pq_codebook_row(v: DataFrame, id_col: str, m: int, k_codes: int, subdim: int):
    """The PQ codebook as ONE broadcastable row: ``__cents`` is an array
    of up to m*k_codes {s, code, cv} structs (centroid j of subspace s =
    the s-slice of the min-id vector in the ``id % k_codes`` bucket —
    deterministic, no RNG, one partial-aggregating groupBy). A bucket
    with no ids simply contributes no entries; argmins below run over
    the entries that exist."""
    reps = v.groupBy(
        F.pmod(F.col(id_col), F.lit(k_codes)).cast("int").alias("code")
    ).agg(F.min_by("__v", F.col(id_col)).alias("__rep"))
    per_rep = F.expr(
        f"transform(sequence(0, {m - 1}), s -> struct("
        f"cast(s as int) as s, code as code, "
        f"slice(__rep, s * {subdim} + 1, {subdim}) as cv))"
    )
    return reps.select(per_rep.alias("__e")).groupBy().agg(
        F.flatten(F.collect_list("__e")).alias("__cents")
    )


def _pq_encode_expr(m: int, subdim: int, vcol: str = "__v"):
    """codes array<int> (entry s = nearest-centroid code of subspace s)
    as ONE whole-stage-codegen expression over (``vcol``, __cents) — the
    per-vector encode is map-only: distances to every centroid of every
    subspace, lexicographic sort by (s, d, code), keep the first entry
    per s (its argmin, ties by ascending code — the same 1e-9-rounded
    compare the SQL oracle uses)."""
    # SQL-string construction (see _dot_sql): identical parsed plan,
    # none of the per-lambda py4j chatter
    subs = F.expr(
        f"transform(sequence(0, {m - 1}),"
        f" s -> slice({vcol}, s * {subdim} + 1, {subdim}))"
    )
    dists = (
        "transform(__cents, c -> struct(c.s as s, round("
        + _sqdist_sql("element_at(__subs, c.s + 1)", "c.cv")
        + ", 9) as d, c.code as code))"
    )
    # first-struct-per-s over the sorted array == per-subspace argmin
    winners = (
        f"aggregate(array_sort({dists}), "
        "cast(array() as array<struct<s:int,d:double,code:int>>), "
        "(acc, e) -> CASE WHEN size(acc) > 0"
        " AND element_at(acc, -1).s = e.s"
        " THEN acc ELSE concat(acc, array(e)) END)"
    )
    return subs, F.expr(f"transform({winners}, w -> w.code)")


def _pq_qsubs_expr(m: int, subdim: int, vcol: str):
    """The m subvector slices of ``vcol`` as one array expression."""
    return F.expr(
        f"transform(sequence(0, {m - 1}),"
        f" s -> slice({vcol}, s * {subdim} + 1, {subdim}))"
    )


def _pq_qmap_expr(k_codes: int):
    """The ADC lookup map ((s * k_codes + code) -> 1e-9-rounded exact
    query-subvector-to-centroid squared L2) over (__qsubs, __cents)."""
    return F.expr(
        "map_from_entries(transform(__cents, c -> struct("
        f"c.s * {k_codes} + c.code as key, round("
        + _sqdist_sql("element_at(__qsubs, c.s + 1)", "c.cv")
        + ", 9) as value)))"
    )


def _pq_query_adc(q: DataFrame, cents_one: DataFrame, m: int, subdim: int, k_codes: int) -> DataFrame:
    """(query_id, __qv, __qmap) — the per-query ADC lookup map, built
    map-side behind the 1-row codebook broadcast. Small by the queries
    contract; broadcasts downstream."""
    return (
        q.join(F.broadcast(cents_one))
        .withColumn("__qsubs", _pq_qsubs_expr(m, subdim, "__qv"))
        .select("query_id", "__qv", _pq_qmap_expr(k_codes).alias("__qmap"))
    )


def _pq_adc_dist_expr(m: int, k_codes: int):
    """ADC distance fold: one ``aggregate`` over the vector's code array
    against the broadcast __qmap — pure projection, zero shuffle."""
    return F.expr(
        f"round(aggregate(sequence(0, {m - 1}), 0.0D, (acc, s) -> "
        f"acc + element_at(__qmap, cast(s * {k_codes}"
        f" + element_at(__codes, s + 1) as int))), 9)"
    )


def _pq_rank_or_rerank(
    dists: DataFrame, v: DataFrame, q: DataFrame, k: int, rerank: int, id_col: str
) -> DataFrame:
    """Shared tail of the PQ operators: ADC top-k when rerank<=1, else
    exact squared-L2 re-rank of the rerank*k ADC shortlist (float
    vectors re-joined by id for the shortlist rows ONLY)."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    if rerank <= 1:
        return (
            dists.withColumn("rank", F.row_number().over(w_adc))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "dist")
        )
    shortlist = (
        dists.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= k * rerank)
        .select("query_id", "neighbor_id")
    )
    exact = (
        # broadcast the |Q|*rerank*k-row shortlist so the corpus side
        # is NEVER shuffled for the rerank join (at scale the float
        # vectors stay where they are; only the bounded shortlist moves)
        F.broadcast(shortlist).join(
            v.select(F.col(id_col).alias("neighbor_id"), "__v"), "neighbor_id"
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_sqdist(F.col("__qv"), F.col("__v")), 9).alias("dist"),
        )
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    k_codes: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``m`` subvectors, learn a tiny per-subspace codebook, store each
    vector as ``m`` small codes, and answer queries with the asymmetric
    distance computation (ADC) — sum of exact query-to-centroid
    subspace distances looked up by the stored codes — then RE-RANK the
    ADC shortlist (``rerank * k`` candidates per query) with exact
    distances, the standard production recipe: the quantized index
    prunes billions of vectors to a shortlist, the float vectors are
    touched only for ``|queries| * rerank * k`` rows. ``rerank=1``
    disables the exact pass (pure ADC ranking).

    Determinism (the whole operator is oracle-replicable): codebooks
    are seeded like ivf_topk/kmeans — centroid j of every subspace is
    the corresponding slice of the min-id vector in the ``id % k_codes``
    bucket (one partial-aggregating groupBy, no RNG); encode/ADC
    distances are rounded to 1e-9 before every argmin/ranking compare;
    ties break on ascending code / neighbor id.

    100 TB design — the ADC fold is MAP-SIDE: the codebook aggregates
    to ONE row (an array of m*k_codes centroid structs) that broadcasts
    to both the encode and the query-table projections; each vector's
    codes are computed by a single codegen'd expression (no per-subspace
    explode, no window); the per-query ADC lookup table broadcasts as a
    (s*k_codes + code) -> distance map; a vector's ADC distance is then
    one ``aggregate`` over its code array — there is NO exchange between
    the corpus scan and the final top-k window, which shuffles only
    (query_id, neighbor_id, dist) scalars. Storage-side, codes compress
    each dim-64 float vector to m bytes: the index that keeps
    billion-vector search in memory.

    ``dim`` is the (uniform) vector dimensionality. Pass it explicitly
    to keep plan construction fully lazy; when None it is probed with
    one min/max aggregate that also REJECTS ragged inputs (mixed dims
    would silently truncate under F.slice otherwise).

    Returns: query_id, neighbor_id, rank (1..k), dist (double, squared
    L2, rounded 1e-9 — SMALLER is closer).
    """
    if m <= 0:
        raise ValueError(f"pq_topk: m={m} must be a positive subspace count")
    _require_integral_id(vectors, id_col, "pq_topk")
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if dim is None:
        probe = v.agg(
            F.min(F.size("__v")).alias("lo"), F.max(F.size("__v")).alias("hi")
        ).first()
        if probe.lo is None:
            return _pq_empty_result(vectors, id_col)
        if probe.lo != probe.hi:
            raise ValueError(
                f"pq_topk: ragged vector dims [{probe.lo}, {probe.hi}] — "
                "F.slice would silently truncate/misalign subvectors; fix "
                "the corpus or pass an explicit dim to assert the contract"
            )
        dim = probe.lo
    if dim % m != 0:
        raise ValueError(
            f"pq_topk: m={m} must evenly divide the vector dimension "
            f"{dim} — a remainder would silently drop trailing dims from "
            "the codebook while the exact rerank still used them"
        )
    subdim = dim // m

    # persist the 1-row codebook: it broadcasts into BOTH the encode
    # and the query-ADC branches, and per-branch pruning defeats
    # exchange reuse — uncached, each broadcast build would re-run the
    # corpus-sized codebook aggregation (a full extra corpus pass)
    cents_one = register_persisted(
        _pq_codebook_row(v, id_col, m, k_codes, subdim).persist(),
        "ann_quantizer",
    )

    # encode: map-only projection (scan -> broadcast 1-row codebook ->
    # codes array), no explode, no window
    subs_expr, codes_expr = _pq_encode_expr(m, subdim)
    codes = (
        v.join(F.broadcast(cents_one))
        .withColumn("__subs", subs_expr)
        .select(F.col(id_col), codes_expr.alias("__codes"))
    )

    # per-query ADC lookup map: (s * k_codes + code) -> exact
    # query-subvector-to-centroid distance (1e-9-rounded)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    q_adc = _pq_query_adc(q, cents_one, m, subdim, k_codes)

    # ADC distance: one aggregate over the code array per (vector,
    # query) — entirely map-side behind the broadcast of q_adc
    dists = (
        codes.join(F.broadcast(q_adc.select("query_id", "__qmap")))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _pq_adc_dist_expr(m, k_codes).alias("dist"),
        )
    )
    return _pq_rank_or_rerank(dists, v, q, k, rerank, id_col)


# --------------------------------------------------------------------------
# Persistent IVFPQ index: quantizers trained once and FROZEN as Delta
# tables, every vector encoded once into (cell, m codes) rows — at 10^9
# vectors the corpus is never re-encoded per query batch, and the whole
# searchable index is m bytes + a cell id per vector. Maintenance
# lifecycle: operators/_index.py.
# --------------------------------------------------------------------------

_PQ_PROP = "dls.pqIndex."  # table-property prefix on the codes table


def _pq_index_tables(index_path: str) -> tuple[str, str, str]:
    return (
        f"{index_path}/codes",     # (id, cell_id, codes array<int>)
        f"{index_path}/codebook",  # (s, code, cv) frozen PQ centroids
        f"{index_path}/cells",     # (cell, cv) frozen coarse centroids
    )


def _one_row(df: DataFrame, *cols: str) -> DataFrame:
    """Collapse a small relation to ONE broadcastable row holding an
    array of its row structs (the codebook/cells shape the map-side
    encode expressions consume)."""
    name = "__cents" if "code" in cols else "__cells"
    return df.groupBy().agg(
        F.collect_list(F.struct(*cols)).alias(name)
    )


def _encode_against(
    v: DataFrame,
    cells_one: DataFrame,
    cents_one: DataFrame,
    id_col: str,
    m: int,
    subdim: int,
    residual: bool = False,
) -> DataFrame:
    """(id, cell_id, codes) via the shared map-side projection — used by
    both the build and the incremental update so stored codes can never
    drift from ad-hoc ones. ``residual`` encodes v - coarse_centroid
    instead of v (IVFADC — see ivfpq_topk)."""
    subs_expr, codes_expr = _pq_encode_expr(m, subdim)
    # SQL-string construction (see _dot_sql): identical parsed plan
    best = (
        "element_at(array_sort(transform(__cells, c -> struct(round("
        + _sqdist_sql("__v", "c.cv")
        + ", 9) as d, c.cell as cell, c.cv as cv))), 1)"
    )
    staged = v.join(F.broadcast(cells_one))
    if residual:
        staged = staged.select(
            F.col(id_col),
            F.expr(f"{best}.cell").alias("cell_id"),
            F.expr(f"zip_with(__v, {best}.cv, (x, y) -> x - y)").alias(
                "__v"
            ),
        )
    else:
        staged = staged.select(
            F.col(id_col), F.expr(f"{best}.cell").alias("cell_id"), "__v"
        )
    return (
        staged.join(F.broadcast(cents_one))
        .withColumn("__subs", subs_expr)
        .select(F.col(id_col), "cell_id", codes_expr.alias("codes"))
    )


def _np_dist_kernel():
    """The numpy squared-L2 kernel matching Spark's expression recipe
    bit-for-bit: every dot product is an ORDERED per-position
    accumulation (equal to the sequential ``aggregate`` fold), the
    distance combines as norm(x) - 2*dot + norm(c) in the same order,
    and rounding is half-up at 1e-9 (Spark ROUND semantics; numpy's
    default is half-even). Shared by every Arrow encode/assign path so
    the parity argument lives in one place."""
    import numpy as np

    def ordered_dot(x: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
        acc = np.zeros((x.shape[0], c.shape[0]))
        for i in range(x.shape[1]):
            acc += x[:, i : i + 1] * c[None, :, i]
        return acc

    def ordered_norm(x: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(x.shape[0])
        for i in range(x.shape[1]):
            acc += x[:, i] * x[:, i]
        return acc

    def round9_half_up(d: "np.ndarray") -> "np.ndarray":
        return np.where(
            d >= 0,
            np.floor(d * 1e9 + 0.5),
            -np.floor(-d * 1e9 + 0.5),
        ) / 1e9

    def d2(x: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
        return round9_half_up(
            ordered_norm(x)[:, None]
            - 2.0 * ordered_dot(x, c)
            + ordered_norm(c)[None, :]
        )

    return d2


def _residuals_arrow(v: DataFrame, cells_df: DataFrame, id_col: str) -> DataFrame:
    """(id, __v = v - nearest coarse centroid) via vectorized numpy —
    the throughput path for residual-codebook TRAINING (the expression
    twin evaluates an interpreted per-vector argmin over the whole cell
    array; at corpus scale that made the residual build ~10x the raw
    build). Assignment and subtraction are bit-parity with the
    expression path: shared _np_dist_kernel distances, argmin ties to
    the ascending-cell-id matrix order, exact elementwise subtraction
    (numpy X - cv == zip_with(v, cv, x - y))."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cell_rows = sorted(
        (
            (r["cell"], np.asarray(r["cv"], dtype=np.float64))
            for r in cells_df.collect()
        ),
        key=lambda t: t[0],
    )
    id_type = v.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, __v array<double>"
    if not cell_rows:
        return v.sparkSession.createDataFrame([], schema)
    cell_mat = np.stack([cv for _, cv in cell_rows])
    d2 = _np_dist_kernel()

    def go(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf["__v"]), dtype=np.float64)
            nearest = np.argmin(d2(X, cell_mat), axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "__v": list(X - cell_mat[nearest])}
            )

    return v.mapInPandas(go, schema=schema)


def _encode_against_arrow(
    v: DataFrame,
    cells_df: DataFrame,
    codebook_df: DataFrame,
    id_col: str,
    m: int,
    subdim: int,
    residual: bool = False,
) -> DataFrame:
    """Arrow/numpy twin of ``_encode_against`` — the THROUGHPUT path for
    corpus-scale encoding (the expression path evaluates interpreted
    higher-order functions at ~100x the cost per vector; at 10^9
    vectors that is the difference between CPU-hours and CPU-months).
    mapInPandas over the vectors; the (tiny, parameter-bounded)
    quantizer relations are collected driver-side and closed over.

    Parity with the expression path: every dot product is an ORDERED
    fold (an explicit per-position accumulation loop, vectorized across
    rows — bitwise-identical to Spark's sequential ``aggregate``), the
    distance combines as norm(x) - 2*dot + norm(c) in the same order,
    rounding is half-up at 1e-9 (Spark ROUND semantics; numpy's default
    is half-even), and argmin ties break on ascending code/cell because
    the centroid matrices are ordered that way and argmin returns the
    first minimum. A code could still differ from the expression path
    only if two centroids sit within one ulp of each other AFTER
    rounding — measure-zero for real embeddings; the equivalence is
    pytest-pinned on the fixtures."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    # bounded collects: n_cells rows and m*k_codes rows — parameters,
    # never data
    cell_rows = sorted(
        ((r["cell"], np.asarray(r["cv"], dtype=np.float64)) for r in cells_df.collect()),
        key=lambda t: t[0],
    )
    id_type = v.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, cell_id int, codes array<int>"
    if not cell_rows:
        # empty quantizers == empty build corpus: nothing to encode
        # (a typed empty relation keeps the codes-table schema stable)
        return v.sparkSession.createDataFrame([], schema)
    cell_ids = np.array([c for c, _ in cell_rows], dtype=np.int32)
    cell_mat = np.stack([cv for _, cv in cell_rows])  # (n_cells, dim)
    cb: dict[int, list] = {}
    for r in codebook_df.collect():
        cb.setdefault(r["s"], []).append(
            (r["code"], np.asarray(r["cv"], dtype=np.float64))
        )
    sub_codes, sub_mats = [], []
    for s in range(m):
        entries = sorted(cb.get(s, []), key=lambda t: t[0])
        sub_codes.append(np.array([c for c, _ in entries], dtype=np.int32))
        sub_mats.append(np.stack([cv for _, cv in entries]))  # (k_s, subdim)

    _d2 = _np_dist_kernel()

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf["__v"]), dtype=np.float64)  # (b, dim)
            nearest = np.argmin(_d2(X, cell_mat), axis=1)
            cells = cell_ids[nearest]
            if residual:
                # exact elementwise subtraction — same arithmetic as the
                # expression path's zip_with(v, cv, x - y)
                X = X - cell_mat[nearest]
            codes = np.stack(
                [
                    sub_codes[s][
                        np.argmin(
                            _d2(X[:, s * subdim : (s + 1) * subdim], sub_mats[s]),
                            axis=1,
                        )
                    ]
                    for s in range(m)
                ],
                axis=1,
            )  # (b, m)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell_id": cells.astype("int32"),
                    "codes": list(codes),
                }
            )

    return v.mapInPandas(encode, schema=schema)


def _kmeans_np(X, k: int, iters: int):
    """Deterministic Lloyd k-means on an id-ordered sample matrix: init
    spreads k seeds evenly over the sorted sample (no RNG), each
    iteration assigns by squared L2 (ties to the lowest centroid index,
    numpy argmin) and recomputes means; a cluster that empties keeps
    its previous centroid. Pure float64 numpy with a fixed iteration
    count — bit-reproducible for a given sample."""
    import numpy as np

    n = X.shape[0]
    if n == 0:
        return np.zeros((0, X.shape[1]))
    seed_idx = np.unique(np.linspace(0, n - 1, num=min(k, n)).astype(int))
    C = X[seed_idx].copy()
    for _ in range(iters):
        d = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        a = np.argmin(d, axis=1)
        # vectorized mean update via per-dimension bincount (fast C
        # path). Both earlier forms were traps: the per-cluster
        # boolean-mask loop costs k full passes over the sample per
        # iteration, and np.add.at is the UNBUFFERED ufunc path
        # (~element-at-a-time) — each made training several times the
        # whole corpus encode at k=256 on a 1e5 sample
        counts = np.bincount(a, minlength=C.shape[0]).astype(np.float64)
        sums = np.empty_like(C)
        for dcol in range(X.shape[1]):
            sums[:, dcol] = np.bincount(
                a, weights=X[:, dcol], minlength=C.shape[0]
            )
        occupied = counts > 0
        C[occupied] = sums[occupied] / counts[occupied, None]
    return C


# Subset cap per k-means fit (FAISS max_points_per_centroid analogue).
# At 1M clustered vectors recall@10 was invariant to this cap
# (full sample 0.72 vs 128 per centroid 0.74, m=8, SCALING.md).
_TRAIN_POINTS_PER_CENTROID = 128


def _train_quantizers_np(
    v: DataFrame,
    id_col: str,
    n_cells: int,
    m: int,
    k_codes: int,
    subdim: int,
    residual: bool,
    train_iters: int,
    train_sample: int,
):
    """Train coarse + PQ centroids with driver-side k-means on a
    BOUNDED deterministic sample — the standard IVFPQ practice
    (quantizers train on ~1e5 vectors regardless of corpus size;
    FAISS's default train set is the same order), so the driver never
    holds more than ``train_sample`` vectors however large the corpus.
    The sample is a content-hash mod filter (stable across runs and
    partitionings), id-sorted before training so the k-means seeds are
    reproducible. Returns (cells_rows, codebook_rows) ready for the
    quantizer tables."""
    import numpy as np

    n = v.count()
    rate = max(1, -(-n // train_sample))  # ceil
    sample = v
    if rate > 1:
        sample = v.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(rate)) == 0
        )
    rows = sorted(sample.collect(), key=lambda r: r[0])
    X = np.array([r["__v"] for r in rows], dtype=np.float64)

    def fit_subset(Xf, k):
        # cap each k-means fit at _TRAIN_POINTS_PER_CENTROID points per
        # centroid (the FAISS max_points_per_centroid device); the
        # deterministic even stride over the id-sorted
        # (content-hash-random) sample keeps the subset reproducible
        cap = _TRAIN_POINTS_PER_CENTROID * k
        if len(Xf) > cap:
            return Xf[:: len(Xf) // cap][:cap]
        return Xf

    coarse = _kmeans_np(fit_subset(X, n_cells), n_cells, train_iters)
    cells_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(coarse)]
    if residual and len(X) and len(coarse):
        d = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ coarse.T)
            + (coarse * coarse).sum(axis=1)[None, :]
        )
        Xr = X - coarse[np.argmin(d, axis=1)]
    else:
        Xr = X
    Xr = fit_subset(Xr, k_codes)
    codebook_rows = []
    for s in range(m):
        Cs = _kmeans_np(Xr[:, s * subdim : (s + 1) * subdim], k_codes, train_iters)
        codebook_rows.extend(
            (int(s), int(j), [float(x) for x in c]) for j, c in enumerate(Cs)
        )
    return cells_rows, codebook_rows


def build_pq_index(
    vectors: DataFrame,
    index_path: str,
    n_cells: int = 16,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    method: str = "arrow",
    residual: bool = False,
    corpus_version: int = 0,
    train_iters: int = 0,
    train_sample: int = 65_536,
) -> None:
    """Build the persistent IVFPQ index: three versioned Delta tables
    under ``index_path`` — the coarse-centroid table, the PQ codebook,
    and one (id, cell, codes) row per vector — with the parameters
    pinned as table properties. The quantizers are trained on the BUILD
    corpus and FROZEN (codes must stay comparable across incremental
    appends; rebuild to retrain), the same freeze contract as the LSH
    signature index (`dedup.py` build_signature_index).

    Commit ordering: codebook and cells land BEFORE codes, so a torn
    build never leaves codes whose quantizers are missing; each table
    write is a single atomic Delta commit.

    ``method``: 'arrow' (default — vectorized numpy encode via
    mapInPandas, the corpus-scale throughput path) or 'expr' (the
    pure-expression twin; ~100x slower per vector but the
    plan-transparency baseline an external SQL oracle replicates
    bit-exactly). Both produce identical codes on real embeddings
    (ordered-fold parity — see _encode_against_arrow; pytest-pinned).

    ``residual`` trains the PQ codebook on (and encodes) residuals to
    the assigned coarse centroid — IVFADC proper, the recall fix over
    raw-vector codes (see ivfpq_topk) — and pins the choice as a table
    property so queries and incremental updates can never mix encoding
    conventions with the stored codes.

    ``corpus_version`` records the Delta version of the corpus this
    build reflects (the ``sync_pq_index_from_cdf`` baseline; see
    operators/_index.py).

    ``train_iters`` > 0 switches the quantizers to k-means TRAINED
    centroids (coarse + per-subspace codebooks) on a bounded
    deterministic sample of <= ``train_sample`` vectors — the
    production recipe for real code budgets (m=8-16, k_codes=256,
    the 8-bit codebooks of the IVFADC literature), where the default
    member-vector representatives cannot reach useful absolute recall
    (measured at 1M clustered vectors, rerank=16: recall@10 0.07 with
    the toy m=4/k=16 codebooks vs 0.81 trained residual m=8/k=256,
    SCALING.md). Training is driver-side numpy over the
    sample only (never the corpus), deterministic (hash-mod sample,
    id-sorted, evenly-spread seeds, fixed iterations) but not
    SQL-replayable — oracle-checked queries keep train_iters=0; the
    trained path is bench- and pytest-verified (arrow/expr encode
    bit-parity holds for ANY stored quantizers)."""
    from ..reader import read_delta
    from ..writer import write_delta

    if dim % m != 0:
        raise ValueError(
            f"build_pq_index: m={m} must evenly divide dim={dim}"
        )
    subdim = dim // m
    _require_integral_id(vectors, id_col, "build_pq_index")
    spark = vectors.sparkSession
    t_codes, t_codebook, t_cells = _pq_index_tables(index_path)
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    _assert_uniform_dim(v, dim, "build_pq_index")

    if train_iters > 0:
        # PRODUCTION quantizers: k-means-trained coarse centroids and
        # per-subspace codebooks (the standard 8-bit IVFADC recipe at
        # m=8-16 / k_codes=256) on a bounded deterministic sample —
        # this is what lifts absolute recall at real code budgets; the
        # train_iters=0 default keeps the deterministic member-vector
        # representatives the SQL oracles replay
        cells_rows, codebook_rows = _train_quantizers_np(
            v, id_col, n_cells, m, k_codes, subdim, residual,
            train_iters, train_sample,
        )
        write_delta(
            spark.createDataFrame(cells_rows, "cell int, cv array<double>"),
            t_cells,
            mode="overwrite",
        )
        write_delta(
            spark.createDataFrame(
                codebook_rows, "s int, code int, cv array<double>"
            ),
            t_codebook,
            mode="overwrite",
        )
    else:
        cells = v.groupBy(
            F.pmod(F.col(id_col), F.lit(n_cells)).cast("int").alias("cell")
        ).agg(F.min_by("__v", F.col(id_col)).alias("cv"))
        write_delta(cells, t_cells, mode="overwrite")
        if residual:
            # train the codebook on residuals (what it will actually
            # encode); the arrow assignment is the throughput path — the
            # interpreted expression twin made the residual build ~10x
            # the raw build at 1M vectors (bit-parity pytest-pinned)
            if method == "arrow":
                venc = _residuals_arrow(
                    v, read_delta(spark, t_cells), id_col
                )
            else:
                cells_one = _one_row(
                    read_delta(spark, t_cells), "cell", "cv"
                )
                best = (
                    "element_at(array_sort(transform(__cells, c -> "
                    "struct(round("
                    + _sqdist_sql("__v", "c.cv")
                    + ", 9) as d, c.cell as cell, c.cv as cv))), 1)"
                )
                venc = v.join(F.broadcast(cells_one)).select(
                    F.col(id_col),
                    F.expr(
                        f"zip_with(__v, {best}.cv, (x, y) -> x - y)"
                    ).alias("__v"),
                )
        else:
            venc = v
        reps = venc.groupBy(
            F.pmod(F.col(id_col), F.lit(k_codes)).cast("int").alias("code")
        ).agg(F.min_by("__v", F.col(id_col)).alias("__rep"))
        # SQL-string construction (see _dot_sql): identical parsed plan
        codebook = reps.select(
            "code",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {m - 1}),"
                    f" s -> slice(__rep, s * {subdim} + 1, {subdim}))"
                )
            ).alias("s", "cv"),
        ).select("s", "code", "cv")
        write_delta(codebook, t_codebook, mode="overwrite")

    if method == "arrow":
        encoded = _encode_against_arrow(
            v, read_delta(spark, t_cells), read_delta(spark, t_codebook),
            id_col, m, subdim, residual=residual,
        )
    else:
        cells_one = _one_row(read_delta(spark, t_cells), "cell", "cv")
        cents_one = _one_row(read_delta(spark, t_codebook), "s", "code", "cv")
        encoded = _encode_against(
            v, cells_one, cents_one, id_col, m, subdim, residual=residual
        )
    write_delta(
        encoded,
        t_codes,
        mode="overwrite",
        properties=pin(
            _PQ_PROP,
            dict(
                n_cells=n_cells, m=m, k_codes=k_codes, dim=dim,
                residual=residual, trainIters=train_iters,
            ),
            corpus_version,
        ),
    )


def update_pq_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "arrow",
) -> None:
    """Incrementally encode newly-appended vectors under the FROZEN
    quantizers and append their (id, cell, codes) rows — repeated daily
    ingestion never re-encodes the existing corpus. Ids already present
    are skipped, so replaying an update is a no-op (idempotent under
    at-least-once pipelines); a single codes table means every update
    is one atomic Delta commit with no cross-table torn state.
    ``method`` as in build_pq_index ('arrow' throughput / 'expr'
    oracle-exact)."""
    from ..reader import read_delta
    from ..writer import write_delta

    spark = new_vectors.sparkSession
    t_codes, t_codebook, t_cells = _pq_index_tables(index_path)
    p = pinned(t_codes, _PQ_PROP)
    p.setdefault("residual", False)  # pre-residual indexes: raw vectors
    subdim = p["dim"] // p["m"]

    known = read_delta(spark, t_codes).select(id_col)
    fresh = new_vectors.join(known, id_col, "left_anti").select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    # validate the INCOMING batch (not just the unknown residue): a
    # ragged or wrong-dim vector must never be durably committed as
    # silently mis-encoded codes — see _assert_uniform_dim
    _assert_uniform_dim(
        new_vectors.select(
            F.col(vec_col).cast("array<double>").alias("__v")
        ),
        p["dim"],
        "update_pq_index",
    )
    if method == "arrow":
        encoded = _encode_against_arrow(
            fresh, read_delta(spark, t_cells), read_delta(spark, t_codebook),
            id_col, p["m"], subdim, residual=p["residual"],
        )
    else:
        cells_one = _one_row(read_delta(spark, t_cells), "cell", "cv")
        cents_one = _one_row(read_delta(spark, t_codebook), "s", "code", "cv")
        encoded = _encode_against(
            fresh, cells_one, cents_one, id_col, p["m"], subdim,
            residual=p["residual"],
        )
    write_delta(encoded, t_codes, mode="append")


def delete_from_pq_index(
    ids: DataFrame, index_path: str, id_col: str = "vec_id"
) -> None:
    """GDPR delete propagation: MERGE-delete the ids' codes rows, one
    atomic transaction (the codes table is its own registry, so a torn
    state cannot arise and a deleted id can be re-appended)."""
    delete_ids(ids, id_col, _pq_index_tables(index_path)[0])


def sync_pq_index_from_cdf(
    spark,
    corpus_path: str,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "arrow",
) -> int:
    """Maintain the PQ index from the corpus Delta table's change feed
    (``_index.sync_from_cdf``): re-encode only the touched vectors under
    the frozen quantizers (appends, embedding refreshes, GDPR deletes).
    A crash between the delete and the update leaves the touched ids
    absent until the replayed sync re-encodes them, never present with
    stale codes. Returns the number of touched ids (0 = already in
    sync)."""

    def reindex(touched: DataFrame, docs: DataFrame) -> None:
        delete_from_pq_index(touched, index_path, id_col)
        update_pq_index(docs, index_path, id_col, vec_col, method=method)

    return sync_from_cdf(
        spark, corpus_path, _pq_index_tables(index_path)[0], _PQ_PROP,
        id_col, reindex,
    )


def query_pq_index(
    queries: DataFrame,
    vectors: DataFrame,
    index_path: str,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adaptive: bool = False,
) -> DataFrame:
    """ivfpq_topk served FROM the stored index: query routing uses the
    stored coarse centroids, ADC folds against the stored codes (the
    corpus is never re-encoded — the scan reads m bytes + a cell id per
    vector instead of the float payload), and the exact shortlist
    rerank re-joins ``vectors`` by id for the shortlist rows only.

    ``adaptive=True`` turns ``nprobe`` into a FLOOR: each query keeps
    probing further cells (in routing order) until the probed cells'
    stored-code counts cumulatively cover ``rerank * k`` candidates —
    so skewed cell sizes (a query routed into near-empty cells) can't
    starve the rerank shortlist. The per-cell counts are one
    n_cells-row aggregation of the codes table; the take-length is a
    prefix-sum expression over the already-sorted routing array, so
    adaptivity adds no extra join or shuffle. Deterministic for a given
    index state (counts are data, not samples). Default OFF: the fixed
    nprobe contract is what the q141/q146 oracles replay.

    Returns: query_id, neighbor_id, rank (1..k), dist — identical to
    ivfpq_topk over the same corpus and parameters (including the
    index's pinned ``residual`` convention) when the index is fresh
    (equivalence is pytest-pinned)."""
    from ..reader import read_delta

    spark = queries.sparkSession
    t_codes, t_codebook, t_cells = _pq_index_tables(index_path)
    p = pinned(t_codes, _PQ_PROP)
    p.setdefault("residual", False)  # pre-residual indexes: raw vectors
    m, k_codes = p["m"], p["k_codes"]
    subdim = p["dim"] // m

    cells_df = read_delta(spark, t_cells)
    if adaptive:
        sizes = (
            read_delta(spark, t_codes)
            .groupBy(F.col("cell_id").alias("cell"))
            .agg(F.count("*").alias("sz"))
        )
        cells_df = cells_df.join(sizes, "cell", "left").select(
            "cell", "cv", F.coalesce(F.col("sz"), F.lit(0)).alias("sz")
        )
        cells_one = cells_df.groupBy().agg(
            F.collect_list(F.struct("cell", "cv", "sz")).alias("__cells")
        )
    else:
        cells_one = _one_row(cells_df, "cell", "cv")
    cents_one = _one_row(read_delta(spark, t_codebook), "s", "code", "cv")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    # SQL-string construction throughout (see _dot_sql): identical
    # parsed expression trees, hundreds fewer py4j round trips per
    # invocation (the same ~0.9 s/invocation construction class the
    # ad-hoc ivfpq_topk paths shed in the previous round)
    sz_field = ", c.sz as sz" if adaptive else ""
    ranked_sql = (
        "array_sort(transform(__cells, c -> struct(round("
        + _sqdist_sql("__qv", "c.cv")
        + f", 9) as d, c.cell as cell, c.cv as cv{sz_field})))"
    )
    if adaptive:
        # smallest routing prefix whose cumulative stored-code count
        # reaches the rerank target (floor nprobe, cap n_cells): a
        # prefix-sum over the sorted array, evaluated per query row.
        # try_element_at: element_at(-1) THROWS on the empty
        # accumulator (first fold step) instead of returning NULL
        runsums_sql = (
            f"aggregate({ranked_sql}, cast(array() as array<bigint>), "
            "(acc, e) -> concat(acc, array(coalesce("
            "try_element_at(acc, -1), cast(0 as bigint)) + e.sz)))"
        )
        need_sql = (
            f"(size(filter({runsums_sql}, s -> s < {rerank * k})) + 1)"
        )
        take_sql = (
            f"least(greatest({nprobe}, {need_sql}), size({ranked_sql}))"
        )
    else:
        take_sql = str(nprobe)
    nearest_sql = f"slice({ranked_sql}, 1, {take_sql})"
    if p["residual"]:
        # per-probe ADC maps from the query residual to each probed
        # cell's centroid — must mirror the stored codes' convention
        probes = (
            q.join(F.broadcast(cells_one))
            .select(
                "query_id", "__qv", F.explode(F.expr(nearest_sql)).alias("__p")
            )
            .select(
                "query_id",
                F.col("__p.cell").alias("cell_id"),
                F.expr("zip_with(__qv, __p.cv, (x, y) -> x - y)").alias(
                    "__qr"
                ),
            )
            .join(F.broadcast(cents_one))
            .withColumn("__qsubs", _pq_qsubs_expr(m, subdim, "__qr"))
            .select(
                "query_id", "cell_id", _pq_qmap_expr(k_codes).alias("__qmap")
            )
        )
    else:
        q_adc = _pq_query_adc(q, cents_one, m, subdim, k_codes)
        probes = (
            q.join(F.broadcast(cells_one))
            .select(
                "query_id",
                F.explode(
                    F.expr(f"transform({nearest_sql}, e -> e.cell)")
                ).alias("cell_id"),
            )
            .join(
                # |Q|-row ADC-map relation: broadcast it so the routing
                # join never sort-merges (unestimated tiny sides made
                # the planner pick SMJ: 2 exchanges + sorts)
                F.broadcast(q_adc.select("query_id", "__qmap")),
                "query_id",
            )
        )

    coded = read_delta(spark, t_codes).select(
        F.col(id_col), "cell_id", F.col("codes").alias("__codes")
    )
    dists = (
        coded.join(F.broadcast(probes), "cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _pq_adc_dist_expr(m, k_codes).alias("dist"),
        )
    )
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    return _pq_rank_or_rerank(dists, v, q, k, rerank, id_col)


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 4,
    k_codes: int = 16,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVFPQ — the genuine billion-vector recipe (Jegou et al. 2011,
    §V: IVFADC): an inverted-file coarse quantizer routes each query to
    its ``nprobe`` nearest cells, and the PQ/ADC scan runs ONLY over
    the code lists of those cells — at 10^9 vectors the difference
    between ADC-scanning the corpus and scanning nprobe/n_cells of it.
    The exact shortlist re-rank is kept (``rerank * k`` candidates per
    query touch float vectors; ``rerank=1`` disables it).

    Determinism (oracle-replicable end to end, like q36/q138): coarse
    centroids are the min-id vector per ``id % n_cells`` bucket; cell
    assignment and query routing use 1e-9-rounded squared L2 with ties
    on ascending cell id; PQ codebooks/encode/ADC are pq_topk's exact
    arithmetic.

    ``residual=True`` switches to IVFADC proper: vectors PQ-encode
    their residual to the assigned coarse centroid (and queries build
    one ADC table per probed cell from q - that cell's centroid) —
    residuals cluster around the origin, so the shared codebook spends
    its resolution on displacement rather than absolute position: the
    standard recall fix (measured on clustered vectors: ~2x raw
    recall, 0.23 vs 0.12 at rerank=16, SCALING.md) at the cost of
    |Q| * nprobe ADC maps instead of |Q|.
    The residual arithmetic stays exact elementwise subtraction, so the
    operator remains deterministic and SQL-oracle-replicable. With
    ``residual=False`` (flat codebooks over raw vectors)
    ``nprobe >= n_cells`` degrades to exactly pq_topk's result; the
    residual variant scores the same exhaustive candidate set then, but
    through per-cell tables (closer distances, not bit-identical PQ).

    100 TB design: the n_cells coarse-centroid row and the m*k_codes
    codebook row each aggregate to ONE broadcastable row; cell
    assignment AND encoding are a single map-side projection over the
    corpus scan (no explode, no window); the (query_id, cell_id) probe
    relation (|Q| * nprobe rows, with the ADC map attached) broadcasts,
    so candidate generation is a broadcast HASH join on cell_id —
    candidates are confined to probed cells BY THE JOIN, and the only
    exchange before the top-k window is that window's scalar shuffle.
    ``nprobe >= n_cells`` degrades to exactly pq_topk's result.

    Returns: query_id, neighbor_id, rank (1..k), dist (double, squared
    L2, rounded 1e-9 — SMALLER is closer).

    NOTE on ad-hoc use at corpus scale: this operator re-encodes every
    vector per call with interpreted higher-order-function expressions
    (~100x slower per vector than vectorized numpy, measured on
    synthetic dim-64 vectors, SCALING.md). For repeated querying of a
    large corpus, build
    the persistent index once (``build_pq_index``, Arrow-encoded by
    default) and serve with ``query_pq_index``.
    """
    if m <= 0:
        raise ValueError(f"ivfpq_topk: m={m} must be a positive subspace count")
    if nprobe <= 0:
        raise ValueError(f"ivfpq_topk: nprobe={nprobe} must be positive")
    _require_integral_id(vectors, id_col, "ivfpq_topk")
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if dim is None:
        probe = v.agg(
            F.min(F.size("__v")).alias("lo"), F.max(F.size("__v")).alias("hi")
        ).first()
        if probe.lo is None:
            return _pq_empty_result(vectors, id_col)
        if probe.lo != probe.hi:
            raise ValueError(
                f"ivfpq_topk: ragged vector dims [{probe.lo}, {probe.hi}] — "
                "F.slice would silently truncate/misalign subvectors"
            )
        dim = probe.lo
    if dim % m != 0:
        raise ValueError(
            f"ivfpq_topk: m={m} must evenly divide the vector dimension {dim}"
        )
    subdim = dim // m

    # coarse quantizer: n_cells centroids as ONE broadcastable row.
    # Persisted: the row broadcasts into the corpus-assignment branch
    # AND the query-routing branch (and, on the residual path, the
    # codebook-train branch) — per-branch pruning defeats exchange
    # reuse (see _cache.py), so uncached each broadcast build would
    # re-run the corpus-sized centroid aggregation.
    cells_one = register_persisted(
        v.groupBy(
            F.pmod(F.col(id_col), F.lit(n_cells)).cast("int").alias("cell")
        )
        .agg(F.min_by("__v", F.col(id_col)).alias("cv"))
        .groupBy()
        .agg(F.collect_list(F.struct("cell", "cv")).alias("__cells"))
        .persist(),
        "ann_quantizer",
    )
    # nearest-cell expression over a vector column name (map-only
    # argmin); the centroid vector rides the struct so the residual
    # path can subtract it — (d, cell) is already a unique sort key,
    # so carrying cv never changes the ordering
    def nearest_cells(vcol: str) -> str:
        # SQL-string construction (see _dot_sql): identical parsed plan
        return (
            "array_sort(transform(__cells, c -> struct(round("
            + _sqdist_sql(vcol, "c.cv")
            + ", 9) as d, c.cell as cell, c.cv as cv)))"
        )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )

    if residual:
        # IVFADC proper (Jegou et al. 2011, §V): PQ-quantize the
        # RESIDUAL to the assigned coarse centroid. Residuals cluster
        # around the origin regardless of which cell a vector lives in,
        # so one shared codebook spends its k_codes^m resolution on the
        # (small) displacement instead of the (large) absolute position
        # — the standard recall fix over raw-vector encoding.
        best = f"element_at({nearest_cells('__v')}, 1)"
        vres = (
            v.join(F.broadcast(cells_one))
            .select(
                F.col(id_col),
                F.expr(f"{best}.cell").alias("cell_id"),
                F.expr(
                    f"zip_with(__v, {best}.cv, (x, y) -> x - y)"
                ).alias("__v"),
            )
        )
        # persist the residual corpus: it feeds BOTH the codebook-train
        # aggregation and the encode projection, and per-branch pruning
        # would otherwise evaluate the nearest-cell argmin + subtraction
        # over every vector twice. One corpus-sized pass instead of two;
        # MEMORY_AND_DISK (persist default) spills rather than OOMs, and
        # the registry (its own group — never evicts the tiny quantizer
        # rows) / bench memo-clearing bound its lifetime exactly like
        # the quantizer persists. The frame is corpus-sized, so the
        # group keeps only the newest one
        vres = register_persisted(
            vres.persist(), "ann_residual_corpus", capacity=1
        )
        # 1-row residual codebook, persisted for the same reason as
        # cells_one: it broadcasts into both the encode and the
        # per-probe ADC-map branches
        cents_one = register_persisted(
            _pq_codebook_row(vres, id_col, m, k_codes, subdim).persist(),
            "ann_quantizer",
        )
        subs_expr, codes_expr = _pq_encode_expr(m, subdim)
        coded = (
            vres.join(F.broadcast(cents_one))
            .withColumn("__subs", subs_expr)
            .select(F.col(id_col), "cell_id", codes_expr.alias("__codes"))
        )
        # per-PROBE ADC maps: the lookup table depends on the probed
        # cell (query residual = q - that cell's centroid), so probes
        # carry |Q| * nprobe maps instead of |Q| — still broadcast-sized
        probes = (
            q.join(F.broadcast(cells_one))
            .select(
                "query_id",
                "__qv",
                F.explode(
                    F.expr(f"slice({nearest_cells('__qv')}, 1, {nprobe})")
                ).alias("__p"),
            )
            .select(
                "query_id",
                F.col("__p.cell").alias("cell_id"),
                F.expr(
                    "zip_with(__qv, __p.cv, (x, y) -> x - y)"
                ).alias("__qr"),
            )
            .join(F.broadcast(cents_one))
            .withColumn("__qsubs", _pq_qsubs_expr(m, subdim, "__qr"))
            .select("query_id", "cell_id", _pq_qmap_expr(k_codes).alias("__qmap"))
        )
    else:
        cents_one = register_persisted(
            _pq_codebook_row(v, id_col, m, k_codes, subdim).persist(),
            "ann_quantizer",
        )
        subs_expr, codes_expr = _pq_encode_expr(m, subdim)

        # ONE map-side projection: cell assignment + PQ codes per vector
        coded = (
            v.join(F.broadcast(cells_one))
            .join(F.broadcast(cents_one))
            .withColumn("__subs", subs_expr)
            .select(
                F.col(id_col),
                F.expr(
                    f"element_at({nearest_cells('__v')}, 1).cell"
                ).alias("cell_id"),
                codes_expr.alias("__codes"),
            )
        )

        # query routing: nprobe nearest cells each, ADC map attached
        q_adc = _pq_query_adc(q, cents_one, m, subdim, k_codes)
        probes = (
            q.join(F.broadcast(cells_one))
            .select(
                "query_id",
                F.explode(
                    F.expr(
                        f"transform(slice({nearest_cells('__qv')},"
                        f" 1, {nprobe}), e -> e.cell)"
                    )
                ).alias("cell_id"),
            )
            .join(
                # |Q|-row ADC-map relation: broadcast it so the routing
                # join never sort-merges (unestimated tiny sides made
                # the planner pick SMJ: 2 exchanges + sorts)
                F.broadcast(q_adc.select("query_id", "__qmap")),
                "query_id",
            )
        )

    # candidate generation = broadcast HASH join on cell_id: the scan
    # only ever scores vectors in probed cells
    dists = (
        coded.join(F.broadcast(probes), "cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _pq_adc_dist_expr(m, k_codes).alias("dist"),
        )
    )
    return _pq_rank_or_rerank(dists, v, q, k, rerank, id_col)


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-based benchmark decontamination — the semantic
    companion of the n-gram overlap check (`text.py` decontaminate):
    flag every corpus document whose embedding's cosine to ANY
    evaluation-set embedding meets ``threshold``, catching paraphrased
    benchmark leakage that shares no shingles.

    100 TB design: the eval set is SMALL by definition (benchmarks are
    thousands of rows), so it collapses to ONE broadcastable row (an
    array of its vectors — the PQ-codebook trick) and the whole check
    is a single map-only projection over the corpus scan: max cosine
    via one ``array_max(transform(...))`` expression, NO shuffle, no
    join, no window. Cosine is 1e-9-rounded before the threshold
    compare so an external SQL oracle replicates the verdict exactly.

    Returns: id_col, max_eval_sim (double, 1e-9-rounded),
    contaminated (boolean). An EMPTY eval set normalizes to
    max_eval_sim NULL / contaminated FALSE for every corpus row
    (array_max over zero vectors has no value, but "nothing to leak
    against" must read as clean — a NULL flag would silently pass
    every downstream ``NOT contaminated`` filter as unknown instead).
    """
    # Eval norms are computed ONCE per eval vector here (not per
    # corpus row x eval vector inside the max loop) and ride along in
    # the broadcast struct; the corpus norm is computed once per row.
    # Per-cosine arithmetic order (dot, then divide by norm_v * norm_e)
    # is unchanged, so scores stay bit-identical to the naive form an
    # external SQL oracle computes. The whole expression tree is built
    # as ONE SQL string parsed JVM-side: the equivalent Python-lambda
    # construction cost ~1.7 s of py4j round-trips per invocation —
    # pure driver overhead that would dominate small/interactive runs.
    ev_one = (
        eval_set.select(F.col(vec_col).cast("array<double>").alias("__ev"))
        .select(
            F.struct(
                F.col("__ev").alias("v"),
                F.expr(
                    "sqrt(aggregate(__ev, 0.0D, (a, x) -> a + x * x))"
                ).alias("n"),
            ).alias("__evn")
        )
        .groupBy()
        .agg(F.collect_list("__evn").alias("__evs"))
    )
    v = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn(
        "__vn", F.expr("sqrt(aggregate(__v, 0.0D, (a, x) -> a + x * x))")
    )
    sim = v.join(F.broadcast(ev_one)).select(
        F.col(id_col),
        F.expr(
            "round(array_max(transform(__evs, s -> "
            "cast(aggregate(zip_with(__v, s.v, (x, y) -> x * y), 0.0D, "
            "(a, p) -> a + p) / nullif(__vn * s.n, 0.0D) as double))), 9)"
        ).alias("max_eval_sim"),
    )
    return sim.select(
        F.col(id_col),
        F.col("max_eval_sim"),
        F.coalesce(
            F.col("max_eval_sim") >= F.lit(threshold), F.lit(False)
        ).alias("contaminated"),
    )


def knn_label_transfer(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label transfer (the classic semi-supervised labeler /
    pseudo-labeling pass): each query vector takes the MAJORITY label
    of its ``k`` exact-cosine nearest labeled neighbors; neighbor
    rank ties break to the ascending id (cosine_topk's contract),
    vote ties to the SMALLEST label — both deterministic, so a
    relational oracle replays the whole decision.

    Composition of the scale-audited Arrow/BLAS cosine path
    (cosine_topk_pandas: broadcast query matrix, one matmul per Arrow
    batch, local top-k then a windowed global top-k — value-identical
    to the expression path, q44 == q34) plus one vote aggregation via
    the min_by-over-(-count, label) argmax — the same integer-exact,
    overflow-safe shape as label propagation.

    Returns: (query id_col, predicted long) — join back to held-out
    truth for accuracy reporting.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    top = cosine_topk_pandas(
        vectors, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    labels = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).cast("long").alias("__l"),
    )
    votes = (
        top.join(labels, "neighbor_id")
        .groupBy("query_id", "__l")
        .agg(F.count("*").alias("__c"))
    )
    # argmax by (count DESC, label ASC) via min_by over (-count,
    # label): only the count (always >= 1) is negated, so any long
    # label — including Long.MIN_VALUE — is safe (see the same fix in
    # graph.label_propagation); (query_id, __l) is unique after the
    # vote groupBy, so the ordering has no in-group ties
    argmax = votes.groupBy("query_id").agg(
        F.min_by(
            "__l", F.struct((-F.col("__c")).alias("__nc"), F.col("__l"))
        ).alias("predicted")
    )
    return argmax.select(
        F.col("query_id").alias(id_col), F.col("predicted")
    )


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-dimension z-score standardization — the preprocessing pass
    that keeps k-means / PQ codebooks from being dominated by
    high-variance dimensions: z_j = (x_j - mean_j) / std_j with the
    POPULATION std from explicit moment sums (SUM x, SUM x^2, COUNT —
    the exact formula a relational oracle evaluates, not Welford's
    online variant whose rounding differs). Dimensions with
    non-positive variance (constant columns; the naive formula can
    round a true zero slightly negative) standardize to 0.0.

    Scale shape: per-dim moments from a posexplode + dim-keyed
    aggregate (map-side combine collapses each partition to dim rows,
    so the shuffle is dim x partitions rows), folded into ONE 1-row
    broadcast of two dim-length arrays; the z-transform is two
    zip_with lambdas. A first cut aggregated 2*dim+1 top-level sums
    and projected dim scalar when-expressions instead — same values,
    but the generated code was large enough that codegen compilation
    dominated (~6.5 s one-time vs ~0.1 s for this shape).

    The ``dim`` contract is ENFORCED: any vector whose size differs
    (ragged, short, or NULL) raises at execution time with the
    offending id — without the check, zip_with against the dim-length
    stat arrays would silently emit null z-components for the missing
    positions and the advertised length-``dim`` output would be a lie.

    Returns: (id_col, zscored array<double> of length ``dim``).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    raw = F.col(vec_col).cast("array<double>")
    v = F.when(F.size(raw) == dim, raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit("standardize_embeddings: vector for id "),
                F.col(id_col).cast("string"),
                F.lit(" has size "),
                F.size(raw).cast("string"),
                F.lit(f", expected dim={dim}"),
            )
        )
    )
    ex = df.select(F.posexplode(v).alias("__d", "__e"))
    st = ex.groupBy("__d").agg(
        F.count("*").cast("double").alias("__n"),
        F.sum("__e").alias("__sx"),
        F.sum(F.col("__e") * F.col("__e")).alias("__sxx"),
    )
    mean = F.col("__sx") / F.col("__n")
    var = F.col("__sxx") / F.col("__n") - mean * mean
    std = F.when(var > 0, F.sqrt(var)).otherwise(F.lit(0.0))
    folded = st.select(
        F.struct(F.col("__d"), mean.alias("__m"), std.alias("__s")).alias(
            "__row"
        )
    ).agg(F.array_sort(F.collect_list("__row")).alias("__rows"))
    stats = folded.select(
        F.transform(F.col("__rows"), lambda r: r["__m"]).alias("__means"),
        F.transform(F.col("__rows"), lambda r: r["__s"]).alias("__stds"),
    )
    centered = F.zip_with(v, F.col("__means"), lambda x, m: x - m)
    z = F.zip_with(
        centered,
        F.col("__stds"),
        lambda d, s: F.when(s > 0, d / s).otherwise(F.lit(0.0)),
    )
    return df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), z.alias("zscored")
    )


def kcenter_exemplars(
    vectors: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center exemplar selection (Gonzalez 1985 farthest-
    point traversal — the classic CORESET recipe): start from the
    smallest id, then repeatedly take the point FARTHEST from the
    chosen set. The selection 2-approximates the optimal k-center
    cover, which is why it is the standard "pick k diverse
    exemplars" pass over an embedded corpus (dataset cards, eval-set
    seeding, dedup-cluster canonical review).

    Determinism contract: squared L2 via the three-dot-product
    identity d2 = <p,p> - 2<p,c> + <c,c> — each dot an in-order fold
    of doubles, the combination a fixed IEEE tree, so engines agree
    bit-for-bit; the per-point MIN over centers and the argmax are
    order-free; ties break on ascending id.

    Scale shape: k-1 rounds, each = one broadcast of the (<= k)-row
    center relation, a map-side min-distance projection, and a
    TakeOrdered(1) argmax — ONE bounded driver row per round, never
    a corpus collect. The projected candidate relation is persisted
    for the k-1 rounds and unpersisted on exit, so each round rescans
    cached partitions rather than the source.

    The id column keeps its INPUT type (long, int, string, ...): the
    result schemas derive the id field from ``vectors.schema``.

    Returns (round, id_col, min_dist_sq) — round 1 is the seed with
    NULL distance; min_dist_sq is the chosen point's distance to the
    previously chosen set, UNROUNDED (callers round for cross-engine
    reporting, like pagerank).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_type = vectors.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("round", IntegerType(), False),
            StructField(id_col, id_type, True),
            StructField("min_dist_sq", DoubleType(), True),
        ]
    )
    pts = (
        vectors.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .withColumn("__pp", _dot(F.col("__v"), F.col("__v")))
        .persist()
    )
    spark = vectors.sparkSession
    try:
        seed = pts.orderBy(F.col(id_col).asc()).limit(1).collect()
        if not seed:
            return spark.createDataFrame([], out_schema)
        centers = [
            (1, seed[0][id_col], seed[0]["__v"], float(seed[0]["__pp"]), None)
        ]
        cdf_schema = StructType(
            [
                StructField("__cid", id_type, True),
                StructField("__cv", ArrayType(DoubleType()), True),
                StructField("__cc", DoubleType(), True),
            ]
        )
        for rnd in range(2, k + 1):
            cdf = spark.createDataFrame(
                [(c[1], c[2], c[3]) for c in centers], cdf_schema
            )
            best = (
                pts.join(
                    F.broadcast(cdf.select("__cid")),
                    F.col(id_col) == F.col("__cid"),
                    "left_anti",
                )
                .crossJoin(F.broadcast(cdf))
                .select(
                    id_col,
                    "__v",
                    "__pp",
                    (
                        F.col("__pp")
                        - F.lit(2.0) * _dot(F.col("__v"), F.col("__cv"))
                        + F.col("__cc")
                    ).alias("__d2"),
                )
                .groupBy(id_col, "__v", "__pp")
                .agg(F.min("__d2").alias("__md"))
                .orderBy(F.col("__md").desc(), F.col(id_col).asc())
                .limit(1)
                .collect()  # bounded: exactly one row per round
            )
            if not best:
                break
            b = best[0]
            centers.append(
                (rnd, b[id_col], b["__v"], float(b["__pp"]), float(b["__md"]))
            )
    finally:
        pts.unpersist()
    return spark.createDataFrame(
        [(r, i, d) for r, i, _v, _pp, d in centers], out_schema
    )
