"""Iterative graph algorithms expressed as DataFrame fixpoint loops.

PageRank (Page, Brin, Motwani & Winograd 1999) is the canonical member.
Strategy mirrors the connected-components operator (dedup.py): a graph
whose EDGE LIST fits comfortably on the driver (<= 2M edges) runs the
classic in-memory power iteration — five distributed join/agg rounds on
a 2k-node graph would pay pure stage-scheduling latency; above the
bound each iteration is one join + one aggregation, the loop's growing
lineage truncated with eager localCheckpoint (persist() does NOT cut
lineage — a deep iteration plan tree otherwise overwhelms the
analyzer), and the static edge relation computed once and reused. Both
strategies evaluate the identical IEEE-double recurrence (init 1/N,
damped contribution sums), so they agree with each other and with an
ANSI-SQL oracle that unrolls the same iterations to well under the
1e-9 reporting round (property-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import register_persisted

# above this many edges the driver no longer sees the edge list.
# 2M edges is ~60-100 MB as a collected Arrow table even with string
# node ids — comfortably inside any practical driver heap, and the
# numpy power iteration on it is milliseconds where the distributed
# loop pays iterations x (join + agg) stage rounds; the same
# bounded-collect contract as dedup clustering's union-find
_DRIVER_EDGE_BOUND = 2_000_000


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 2,
    strategy: str = "auto",
    teleport: DataFrame | None = None,
    teleport_node_col: str = "node",
) -> DataFrame:
    """PageRank over a directed edge list (duplicate edges count as
    parallel edges: they add weight, exactly like the SQL oracle's
    SUM over the raw edge relation).

    rank_0(v) = t(v);
    rank_{k+1}(v) = (1-d)*t(v) + d * (sum_{u->v} rank_k(u)/outdeg(u)
                                      + dangling_mass_k * t(v))

    where the teleport distribution t is uniform 1/N by default
    (classic PageRank) or, when ``teleport`` names a seed set, uniform
    over the seeds present in the graph and 0 elsewhere — PERSONALIZED
    PageRank (Haveliwala 2002), the influence/recommendation variant.
    Dangling nodes (outdeg 0) redistribute their mass along t — the
    standard stochastic-matrix completion, so sum(rank) stays 1.

    ``strategy``: 'driver' (in-memory power iteration), 'distributed'
    (join/agg rounds), or 'auto' (driver iff |edges| <=
    _DRIVER_EDGE_BOUND, 2M — the same bounded-collect contract as dedup
    clustering's union-find).

    Distributed scale shape: the edge relation joins its static
    out-degree ONCE and is persisted; each iteration is one
    (src=node) join + one dst-keyed aggregation (+ a 1-row dangling
    aggregate folded back via a broadcast cross join, skipped when a
    one-time probe shows no dangling node — never a driver collect
    inside the loop). Lineage is truncated with eager localCheckpoint
    every ``checkpoint_every`` iterations; N and the edge count are
    the only driver-side scalars.

    Returns: (node string, rank double) — unrounded; callers round for
    cross-engine reporting.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    if strategy not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # persist the normalized edge list FIRST: nodes, out-degrees, the
    # weighted relation, and the dangling probe all fan out from it —
    # without this the caller's (possibly expensive) edge derivation
    # re-runs once per consumer
    e = register_persisted(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).persist(),
        "pagerank",
    )
    seeds = None
    if teleport is not None:
        seeds = register_persisted(
            teleport.select(
                F.col(teleport_node_col).alias("node")
            ).distinct().persist(),
            "pagerank",
        )
    if strategy == "auto":
        m = e.count()
        strategy = "driver" if m <= _DRIVER_EDGE_BOUND else "distributed"
    if strategy == "driver":
        return _pagerank_driver(e, iterations, damping, seeds)
    return _pagerank_distributed(
        e, iterations, damping, checkpoint_every, seeds
    )


def _pagerank_driver(
    e: DataFrame,
    iterations: int,
    damping: float,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Classic power iteration on the collected edge list (bounded by
    the auto-strategy contract). The edge list crosses to Python as
    ONE Arrow table (toArrow — the py4j row collect is ~10x slower at
    the bound); numpy keeps the contribution sums deterministic; the
    recurrence is the same double arithmetic as the distributed
    path."""
    import numpy as np
    import pandas as pd

    pdf = e.toArrow().to_pandas()
    m = len(pdf)
    codes, uniques = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    )
    n = len(uniques)
    if n == 0:
        return e.sparkSession.createDataFrame(
            [], "node string, rank double"
        )
    src = codes[:m].astype(np.int64)
    dst = codes[m:].astype(np.int64)
    deg = np.zeros(n, dtype=np.float64)
    np.add.at(deg, src, 1.0)
    dangling = deg == 0.0
    safe_deg = np.where(dangling, 1.0, deg)
    if seeds is None:
        t = np.full(n, 1.0 / n, dtype=np.float64)
    else:
        idx = {v: i for i, v in enumerate(uniques)}
        hit = [idx[r.node] for r in seeds.collect() if r.node in idx]
        if not hit:
            raise ValueError("no teleport seed appears in the graph")
        t = np.zeros(n, dtype=np.float64)
        t[hit] = 1.0 / len(hit)
    rank = t.copy()
    base = (1.0 - damping) * t
    for _ in range(iterations):
        per_edge = rank / safe_deg
        contrib = np.zeros(n, dtype=np.float64)
        np.add.at(contrib, dst, per_edge[src])
        dm = float(rank[dangling].sum()) if dangling.any() else 0.0
        rank = base + damping * (contrib + dm * t)
    out = pd.DataFrame({"node": uniques, "rank": rank})
    return e.sparkSession.createDataFrame(out)


def _pagerank_distributed(
    e: DataFrame,
    iterations: int,
    damping: float,
    checkpoint_every: int,
    seeds: DataFrame | None = None,
) -> DataFrame:
    nodes = register_persisted(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(),
        "pagerank",
    )
    n = nodes.count()  # the one driver scalar (parameterizes the formula)
    if seeds is not None:
        # teleport column t(v): 1/|seeds in graph| on seeds, 0 elsewhere
        in_graph = register_persisted(
            nodes.join(seeds, "node", "left_semi").persist(), "pagerank"
        )
        s_count = in_graph.count()
        if s_count == 0:
            raise ValueError("no teleport seed appears in the graph")
        nodes = register_persisted(
            nodes.join(
                in_graph.select(F.col("node").alias("__sn")),
                nodes["node"] == F.col("__sn"),
                "left",
            )
            .select(
                "node",
                F.when(
                    F.col("__sn").isNotNull(), F.lit(1.0 / s_count)
                ).otherwise(F.lit(0.0)).alias("__t"),
            )
            .persist(),
            "pagerank",
        )
    else:
        nodes = nodes.select("node", F.lit(1.0 / n).alias("__t"))
    outdeg = register_persisted(
        e.groupBy("src")
        .agg(F.count("*").cast("double").alias("deg"))
        .persist(),
        "pagerank",
    )
    # static per-edge weight denominator, reused by every iteration
    weighted = register_persisted(
        e.join(outdeg, "src").select("src", "dst", "deg").persist(),
        "pagerank",
    )
    # probe ONCE whether any dangling node exists: on dangling-free
    # graphs (e.g. symmetrized ones) mass is conserved without the
    # redistribution term, so the loop drops 1 aggregate + 1 broadcast
    # cross join per iteration
    has_dangling = (
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left_anti")
        .limit(1)
        .count()
        > 0
    )
    ranks = nodes.select("node", F.col("__t").alias("rank"))
    one_minus_d = 1.0 - damping
    # On the common shape (uniform teleport, no dangling mass) each
    # iteration folds the zero-contribution nodes into the SAME
    # aggregation that sums the edge contributions: the per-node zero
    # row unions in before the dst-keyed exchange, so the iteration is
    # ONE join + ONE aggregation — no second (nodes-left-join) pass.
    # Adding the 0.0 row is IEEE-exact (x + 0.0 == x for the positive
    # partial sums here; a contribution-less node folds to exactly
    # 0.0), so ranks are bit-identical to the join/coalesce shape.
    # The personalized / dangling variants keep the explicit left join
    # (their formula needs per-node t(v) next to the dangling scalar).
    fold_zeros = seeds is None and not has_dangling
    for k in range(iterations):
        contrib_rows = weighted.join(
            ranks, weighted["src"] == ranks["node"]
        ).select("dst", (F.col("rank") / F.col("deg")).alias("__w"))
        if fold_zeros:
            ranks = (
                contrib_rows.unionByName(
                    nodes.select(
                        F.col("node").alias("dst"), F.lit(0.0).alias("__w")
                    )
                )
                .groupBy("dst")
                .agg(F.sum("__w").alias("__contrib"))
                .select(
                    F.col("dst").alias("node"),
                    (
                        F.lit(one_minus_d) * F.lit(1.0 / n)
                        + F.lit(damping) * F.col("__contrib")
                    ).alias("rank"),
                )
            )
        else:
            contrib = contrib_rows.groupBy("dst").agg(
                F.sum("__w").alias("__contrib")
            )
            redistributed = F.lit(0.0)
            next_ranks = nodes.join(
                contrib, nodes["node"] == contrib["dst"], "left"
            )
            if has_dangling:
                dangling = ranks.join(
                    outdeg, ranks["node"] == outdeg["src"], "left_anti"
                ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
                next_ranks = next_ranks.crossJoin(F.broadcast(dangling))
                redistributed = F.col("__dm") * F.col("__t")
            ranks = next_ranks.select(
                "node",
                (
                    F.lit(one_minus_d) * F.col("__t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__contrib"), F.lit(0.0))
                        + redistributed
                    )
                ).alias("rank"),
            )
        if (k + 1) % checkpoint_every == 0 and k + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    iterations: int = 3,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 /
    Raghavan et al. 2007, synchronous variant): seed nodes keep their
    label forever; every other node adopts, each round, the most
    frequent label among its IN-neighbours' current labels (ties break
    to the smallest label; unlabeled neighbours carry no vote). Fully
    integer-exact — no float tolerance anywhere, so the SQL oracle
    matches bit-for-bit.

    Scale shape: per round one (src=node) join against the current
    assignment, one (dst, label) count, one per-dst argmax via
    max_by(label over (count DESC, label ASC)) — two exchanges per
    round; the seed override is a broadcast-sized left join when seeds
    are small (Catalyst decides). Lineage truncated with eager
    localCheckpoint every ``checkpoint_every`` rounds.

    Returns: (node string, label long nullable) — null = never reached
    by any labeled component.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    e = register_persisted(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).persist(),
        "label_propagation",
    )
    s = register_persisted(
        seeds.select(
            F.col(node_col).alias("__sn"),
            F.col(label_col).cast("long").alias("__sl"),
        ).persist(),
        "label_propagation",
    )
    nodes = register_persisted(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(),
        "label_propagation",
    )
    current = nodes.join(s, nodes["node"] == s["__sn"], "left").select(
        "node", F.col("__sl").alias("label")
    )
    for k in range(iterations):
        votes = (
            e.join(current, e["src"] == current["node"])
            .filter(F.col("label").isNotNull())
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count("*").alias("__c"))
        )
        # argmax by (count DESC, label ASC) via min_by over the
        # (-count, label) struct: the COUNT is negated (always >= 1,
        # can't overflow), never the label — the earlier max(count,
        # -label) trick silently required labels to be negatable longs
        # and would overflow (error under ANSI) on Long.MIN_VALUE.
        # Deterministic: (dst, label) is unique after the vote groupBy,
        # so the ordering struct has no ties within a group.
        argmax = votes.groupBy("dst").agg(
            F.min_by(
                "label",
                F.struct((-F.col("__c")).alias("__nc"), F.col("label")),
            ).alias("__best")
        )
        current = (
            nodes.join(argmax, nodes["node"] == argmax["dst"], "left")
            .join(s, nodes["node"] == s["__sn"], "left")
            .select(
                "node", F.coalesce("__sl", "__best").alias("label")
            )
        )
        if (k + 1) % checkpoint_every == 0 and k + 1 < iterations:
            current = current.localCheckpoint(eager=True)
    return current


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts over an undirected simple graph
    (edges are canonicalized and deduplicated; self-loops dropped) —
    the clustering-structure diagnostic beside pagerank's centrality
    and label_propagation's communities.

    Scale shape — the degree-ordered orientation (the compact-forward
    / Latapy trick): every edge is oriented from its LOWER-(degree,
    node) endpoint to the higher one, so each wedge apex enumerates
    only its higher-degree neighbors and the wedge fan-out is bounded
    by O(m^1.5) total across the graph, independent of hub degrees —
    an unoriented self-join would square the hottest hub. Three
    shuffles build the oriented relation (canonical dedup, degree agg,
    degree join); triangle closure is one (apex-keyed) self-join plus
    one membership join on the oriented edge key; counts are one
    explode + aggregation. Every triangle is counted exactly once and
    credited to all three corners.

    Returns (node, triangles) for nodes in >= 1 triangle.
    """
    a = F.col(src_col).cast("string")
    b = F.col(dst_col).cast("string")
    canon = (
        edges.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    # orient each edge from lower (degree, node) to higher
    withd = (
        canon.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    fwd = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = withd.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dhi"),
    )
    e1 = oriented.select(
        F.col("lo").alias("apex"),
        F.col("hi").alias("x"),
        F.col("dhi").alias("dx"),
    )
    e2 = oriented.select(
        F.col("lo").alias("apex"),
        F.col("hi").alias("y"),
        F.col("dhi").alias("dy"),
    )
    wedges = e1.join(e2, "apex").filter(
        F.struct(F.col("dx"), F.col("x")) < F.struct(F.col("dy"), F.col("y"))
    )
    closing = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"]).select("apex", "x", "y")
    corners = (
        tris.select(F.col("apex").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("triangles")
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    checkpoint_every: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list — PageRank's link-quality sibling, the crawl-prioritization
    and link-spam lens PageRank can't state (a page that POINTS at
    good content scores as a hub even with no in-links). Duplicate
    edges count as parallel (weight = multiplicity, like the SQL
    oracle's SUM over the raw relation). Per iteration:

        authority(v) = sum_{u->v} w * hub(u),     then L2-normalize;
        hub(u)       = sum_{u->v} w * authority(v), then L2-normalize.

    Nodes with no in-edges state authority 0, no out-edges hub 0; a
    degenerate all-zero side states NULL via the nullif-guarded norm
    (never an ANSI divide-by-zero). Same auto strategy contract as
    :func:`pagerank`: 'driver' runs the power iteration in numpy off
    one bounded collect of the AGGREGATED weighted-edge relation;
    'distributed' runs join/agg rounds on the persisted weighted
    edges (two joins + two aggregations + two 1-row norm broadcasts
    per iteration, lineage truncated every ``checkpoint_every``
    rounds). Returns (node string, hub double, authority double),
    unrounded."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if strategy not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if strategy == "auto":
        m = e.count()
        strategy = "driver" if m <= _DRIVER_EDGE_BOUND else "distributed"
    if strategy == "driver":
        import numpy as np

        rows = e.collect()  # bounded by the auto contract above
        labels = sorted(
            {r.src for r in rows} | {r.dst for r in rows}
        )
        idx = {n: i for i, n in enumerate(labels)}
        n = len(labels)
        src = np.array([idx[r.src] for r in rows], dtype=np.int64)
        dst = np.array([idx[r.dst] for r in rows], dtype=np.int64)
        w = np.array([r.w for r in rows], dtype=np.float64)
        hub = np.ones(n)
        auth = np.ones(n)
        # zero-norm flags mirror the distributed strategy exactly: a
        # degenerate all-zero side states NULL (nullif-guarded norm),
        # and its NULL scores contribute 0 to the next half-step
        # (sum-over-NULLs coalesced to 0.0), so both strategies stay
        # value-identical even on the degenerate case
        auth_null = hub_null = False
        for _ in range(iterations):
            a_new = np.zeros(n)
            np.add.at(a_new, dst, w * hub[src])
            nrm = float(np.sqrt((a_new * a_new).sum()))
            auth_null = nrm == 0.0
            auth = a_new / nrm if nrm > 0 else np.zeros(n)
            h_new = np.zeros(n)
            np.add.at(h_new, src, w * auth[dst])
            nrm = float(np.sqrt((h_new * h_new).sum()))
            hub_null = nrm == 0.0
            hub = h_new / nrm if nrm > 0 else np.zeros(n)
        spark = edges.sparkSession
        out = [
            (
                labels[i],
                None if hub_null else float(hub[i]),
                None if auth_null else float(auth[i]),
            )
            for i in range(n)
        ]
        return spark.createDataFrame(
            out, "node string, hub double, authority double"
        )
    e = e.persist()
    e.count()
    nodes = nodes.persist()
    state = nodes.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    )
    for k in range(iterations):
        hsrc = state.select(
            F.col("node").alias("src"), F.col("hub").alias("__h")
        )
        a_raw = (
            nodes.join(
                e.join(hsrc, "src").select(
                    F.col("dst").alias("node"),
                    (F.col("w") * F.col("__h")).alias("__c"),
                ),
                "node",
                "left",
            )
            .groupBy("node")
            .agg(F.coalesce(F.sum("__c"), F.lit(0.0)).alias("__a"))
        )
        a_norm = a_raw.agg(
            F.sqrt(F.sum(F.col("__a") * F.col("__a"))).alias("__n")
        )
        a_df = a_raw.crossJoin(F.broadcast(a_norm)).select(
            "node",
            (F.col("__a") / F.nullif(F.col("__n"), F.lit(0.0))).alias(
                "authority"
            ),
        )
        adst = a_df.select(
            F.col("node").alias("dst"), F.col("authority").alias("__a")
        )
        h_raw = (
            nodes.join(
                e.join(adst, "dst").select(
                    F.col("src").alias("node"),
                    (F.col("w") * F.col("__a")).alias("__c"),
                ),
                "node",
                "left",
            )
            .groupBy("node")
            .agg(F.coalesce(F.sum("__c"), F.lit(0.0)).alias("__h"))
        )
        h_norm = h_raw.agg(
            F.sqrt(F.sum(F.col("__h") * F.col("__h"))).alias("__n")
        )
        h_df = h_raw.crossJoin(F.broadcast(h_norm)).select(
            "node",
            (F.col("__h") / F.nullif(F.col("__n"), F.lit(0.0))).alias(
                "hub"
            ),
        )
        state = h_df.join(a_df, "node").select("node", "hub", "authority")
        if (k + 1) % checkpoint_every == 0 and k + 1 < iterations:
            state = state.localCheckpoint(eager=True)
    return state
