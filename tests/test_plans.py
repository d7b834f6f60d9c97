"""Physical-plan regression tests: the properties that make the engine
scale (SURVEY.md §4) must survive refactors — predicate pushdown and
column pruning into our explicit-file delta scans, broadcast joins for
dims, top-k as TakeOrdered, no cartesian products.

The exchange, scan and window operator counts of every bench.py
HEADLINE + SECONDARY query are pinned in ``plan_shapes.json``.
Regenerate it with ``python tests/test_plans.py`` only when a plan
change is meant."""

import json
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import HEADLINE, SECONDARY  # noqa: E402
from delta_lake_spark import read_delta, write_delta  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SHAPES = os.path.join(HERE, "plan_shapes.json")
# the operator name on each plan-tree line, past the tree drawing and
# any whole-stage-codegen "*(n) " prefix
_OPERATOR = re.compile(r"^[ :|+-]*(?:\*\(\d+\) )?(\w+)", re.M)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_shape(spark, name: str) -> dict:
    """Exchange, scan and window operator lines in ``name``'s executed
    plan, built on SF_DIR with the session's memos cleared. Cached
    subplans print once per reference, and each line counts."""
    from delta_lake_spark.operators._cache import clear_session_caches
    from delta_lake_spark.queries import QUERIES
    from delta_lake_spark.queries._fixtures import clear_fixture_memo
    from delta_lake_spark.queries.llm import clear_funnel_memo

    clear_funnel_memo(spark)
    clear_session_caches(spark)
    clear_fixture_memo()
    # an input another test cached would plan as an InMemoryTableScan
    # over its own scan
    spark.catalog.clearCache()
    ops = _OPERATOR.findall(_plan(QUERIES[name](spark, SF_DIR)))
    return {
        "exchange": sum(op.endswith("Exchange") for op in ops),
        "scan": sum("Scan" in op for op in ops),
        "window": sum("Window" in op for op in ops),
    }


@pytest.mark.parametrize("name", HEADLINE + SECONDARY)
def test_plan_shape_is_pinned(spark, name):
    with open(SHAPES) as fh:
        pinned = json.load(fh)
    assert plan_shape(spark, name) == pinned.get(name)


def test_delta_scan_pushdown_and_pruning(spark, tmp_table):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_delta(li, tmp_table)
    df = (
        read_delta(spark, tmp_table)
        .filter("l_orderkey = 42")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "EqualTo(l_orderkey,42)" in plan  # filter reached the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey",
        "l_quantity",
    }  # column pruning: only the projected columns are read


def test_q02_broadcasts_dim_and_takeordered(spark):
    from delta_lake_spark.queries.relational import q02_top_unshipped_orders

    plan = _plan(q02_top_unshipped_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan  # top-k, not global sort
    assert "CartesianProduct" not in plan


def test_q03_no_cartesian_no_nested_loop(spark):
    from delta_lake_spark.queries.relational import q03_region_revenue

    plan = _plan(q03_region_revenue(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partition_filter_prunes_scan_files(spark, tmp_table):
    ev = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).cast("int").alias("bucket")
    )
    write_delta(ev, tmp_table, partition_by=["bucket"])
    full = read_delta(spark, tmp_table)
    pruned = read_delta(spark, tmp_table, partition_filter={"bucket": 3})
    n_full = full.rdd.getNumPartitions()
    # pruned scan reads only that partition's files
    assert pruned.count() == 100
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_merge_source_broadcast_for_small_updates(spark, tmp_table):
    """The touched-file discovery join should not degrade to cartesian."""
    from delta_lake_spark import DeltaTable

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_delta(li, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = spark.createDataFrame([(1, 99.0)], "k long, v double")
    with_file = dt.toDF().select(
        "*", F.col("_metadata.file_path").alias("__f")
    ).alias("t")
    probe = with_file.join(src.alias("s"), F.expr("t.l_orderkey = s.k"), "left_semi")
    plan = _plan(probe)
    assert "CartesianProduct" not in plan


def test_salted_join_equals_plain_join_on_skew(spark):
    """Salted skew join must return exactly the plain join's rows."""
    from delta_lake_spark.operators.joins import salted_join

    # 90% of big rows share one hot key
    big = spark.range(20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100)
        .cast("long").alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    plain = big.join(small, "k").agg(
        F.count("*").alias("n"), F.sum("payload").alias("sp"), F.sum("dim_val").alias("sd")
    ).first()
    salted = salted_join(big, small, "k", salt=8).agg(
        F.count("*").alias("n"), F.sum("payload").alias("sp"), F.sum("dim_val").alias("sd")
    ).first()
    assert (plain.n, plain.sp, plain.sd) == (salted.n, salted.sp, salted.sd)
    # left join keeps unmatched big rows exactly like plain left join
    small_half = small.filter("k < 50")
    pl = big.join(small_half, "k", "left").count()
    sl = salted_join(big, small_half, "k", salt=8, how="left").count()
    assert pl == sl


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Same-bucketed tables must join with zero shuffles (the 100 TB
    repeated-join strategy: shuffle once at write, never at read)."""
    from delta_lake_spark.operators.joins import bucketed_join, write_bucketed

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_bucketed(
        orders.select("o_orderkey", "o_totalprice"), "t_orders_b", "o_orderkey", 8
    )
    write_bucketed(
        lineitem.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "t_lineitem_b", "o_orderkey", 8,
    )
    # tiny test tables would be broadcast; force the shuffle-join path the
    # strategy targets (at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        expected = (
            orders.select("o_orderkey")
            .join(lineitem.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey")
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_headline_plans_have_no_pathologies(spark):
    """Sweep: no headline query may plan a cartesian product or an
    unintentional nested-loop join, and shuffle counts stay at the
    structural minimum (regression lock for the plans audited in
    round 1)."""
    from delta_lake_spark.queries import QUERIES

    budgets = {  # max (Exchange - ReusedExchange) per query
        "q01_pricing_summary": 1,
        "q04_events_gold": 1,
        "q10_interpolate": 1,
        "q13_top_customers_per_nation": 2,
        "q20_asof_login_before_purchase": 2,
        "q37_token_stats": 0,
        "q40_fingerprint": 0,
        "q67_chunk_documents": 0,
        "q69_redact_pii": 0,
        "q70_repetition_ratio": 0,
        "q71_cube_revenue": 1,  # one Expand, one shuffle
        "q73_price_percentiles": 1,
        "q74_embedding_array_stats": 0,
        "q81_date_dimensions": 1,
        "q82_string_functions": 0,
        "q83_grouping_sets": 1,
    }
    for name, budget in budgets.items():
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
        assert n_ex <= budget, f"{name}: {n_ex} exchanges > budget {budget}"


def test_dv_read_is_broadcast_anti_join(spark, tmp_table):
    """A deletion-vector read must stay: vectorized scan + ONE hash
    anti-join with the (small) DV side broadcast or shuffled — never a
    nested-loop/cartesian — and pushdown must still reach the scan."""
    from delta_lake_spark import DeltaTable

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_delta(li, tmp_table)
    DeltaTable.forPath(spark, tmp_table).delete("l_orderkey % 7 = 0", use_dv=True)
    df = read_delta(spark, tmp_table).filter("l_quantity < 10").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "LessThan(l_quantity,10" in plan  # pushdown survives the DV join


def test_bucketed_range_join_avoids_nested_loop(spark):
    """Point-in-interval via bucketing must plan as a hash/sort-merge
    equi-join on the bucket id; the naive BETWEEN join plans BNLJ."""
    from delta_lake_spark.operators.joins import bucketed_range_join

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    epoch = F.lit("1970-01-01")
    intervals = orders.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), epoch).alias("s"),
        (F.datediff(F.col("o_orderdate"), epoch) + 7).alias("e"),
    )
    points = li.select(F.datediff(F.col("l_shipdate"), epoch).alias("p"))

    naive = points.join(
        intervals, F.col("p").between(F.col("s"), F.col("e"))
    )
    assert "BroadcastNestedLoopJoin" in _plan(naive)  # the plan to avoid

    bucketed = bucketed_range_join(points, intervals, "p", "s", "e", 7)
    plan = _plan(bucketed)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # identical results
    assert bucketed.count() == naive.count()


def test_tfidf_broadcasts_idf_side(spark):
    """The per-term IDF side (vocabulary-sized) must broadcast onto the
    tf side — no shuffle join keyed on term at corpus scale — and the
    new shuffle-free text ops must plan zero exchanges."""
    from delta_lake_spark.queries.llm import (
        q67_chunk_documents,
        q69_redact_pii,
        q70_repetition_ratio,
        q76_tfidf_keywords,
    )

    plan = _plan(q76_tfidf_keywords(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for q in (q67_chunk_documents, q69_redact_pii, q70_repetition_ratio):
        p = _plan(q(spark, SF_DIR))
        assert "Exchange" not in p, q.__name__


def test_ivf_topk_no_single_partition_exchange(spark):
    """Centroid seeding is a hash-bucket groupBy — no global window, so
    no stage may funnel all vectors through one task."""
    from delta_lake_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = ivf_topk(emb, emb.filter("vec_id < 3"), k=5, n_cells=8, nprobe=2)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval set is small by definition — its shingles must broadcast
    so the corpus side never shuffles for the semi-join."""
    from delta_lake_spark.queries.llm import q92_decontaminate

    plan = _plan(q92_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_oov_rate_broadcasts_vocabulary(spark):
    """The vocabulary broadcasts, and its (global-window) vocab_id column
    is pruned away since the join needs only `term`."""
    from delta_lake_spark.queries.llm import q96_oov_rate

    plan = _plan(q96_oov_rate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_topn_is_takeordered(spark):
    from delta_lake_spark.queries.llm import q98_bigram_stats

    plan = _plan(q98_bigram_stats(spark, SF_DIR))
    assert "TakeOrdered" in plan  # per-partition heaps, no global sort


def test_kmeans_no_single_partition(spark):
    """Centroid recomputation is a groupBy carrying n_cells*dim doubles —
    never a global window or a driver collect."""
    from delta_lake_spark.queries.llm import q97_kmeans_clusters

    plan = _plan(q97_kmeans_clusters(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_lm_model_join_adapts_to_vocab_size(spark):
    """The LM scorers' model join is UNHINTED by design: a corpus-
    derived vocabulary is unbounded on raw web data, so the join must
    broadcast only while the model actually fits (AQE's runtime stats)
    and degrade to a shuffle join above the threshold instead of
    forcing an executor-OOM broadcast. Assert both regimes: (a) at
    fixture scale the FINAL adaptive plan broadcasts the model; (b)
    with the broadcast threshold disabled — standing in for an
    over-threshold vocabulary — the model join takes the shuffle path
    (the old forced-broadcast hint would have ignored the threshold)."""
    from delta_lake_spark.operators.text import bigram_lm_score, unigram_lm_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    df = unigram_lm_score(docs, "text", "doc_id")
    df.write.format("noop").mode("overwrite").save()
    final = _plan(df)
    assert "BroadcastHashJoin" in final  # small model -> runtime broadcast

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for op in (unigram_lm_score, bigram_lm_score):
            plan = _plan(op(docs, "text", "doc_id"))
            assert "BroadcastHashJoin" not in plan  # no forced broadcast
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q144_bigram_source_is_map_only_to_explode(spark):
    """bigram_lm_score consumes the source map-only: the ONLY doc_id
    exchange is the final per-doc aggregation's — no staging
    repartition sits between the scan and the bigram explode (that
    shuffle carried the whole corpus and nothing downstream needed
    it)."""
    from delta_lake_spark.operators.text import bigram_lm_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(bigram_lm_score(docs, "text", "doc_id"))
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert "RoundRobinPartitioning" not in plan


def test_mixture_sample_corpus_never_shuffles(spark):
    from delta_lake_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = mixture_sample(docs, "doc_id", "source", {"src0": 2.0})
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan  # thresholds broadcast onto corpus
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_strip_markup_is_map_only(spark):
    from delta_lake_spark.operators.text import strip_markup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(strip_markup(docs, "text", "doc_id"))
    assert "Exchange" not in plan  # pure projection, no shuffle


def test_asof_join_single_exchange_no_bnlj(spark):
    from delta_lake_spark.operators.joins import asof_join

    ev = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0)], ["k", "ts", "v"]
    )
    out = asof_join(
        ev.select("k", "ts"), ev, on="k", left_ts="ts", right_ts="ts"
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # one hash-partitioning exchange for the window, nothing else
    assert plan.count("Exchange hashpartitioning") == 1


def test_q03_shuffles_lineitem_once_no_broadcast_of_fact(spark):
    """q03's lineitem side must not be broadcast (its pruned-scan size
    estimate can sneak under the threshold) and must reach the join
    through a single hash-partitioning exchange."""
    from delta_lake_spark.queries.relational import q03_region_revenue

    plan = _plan(q03_region_revenue(spark, SF_DIR))
    # the only broadcasts are the dim tables, whose scans read n_/r_/c_ cols
    for seg in re.findall(r"BroadcastExchange.*?ReadSchema: struct<([^>]*)>", plan, re.S):
        assert "l_orderkey" not in seg  # lineitem never broadcast


def test_semantic_dedup_pairwise_confined_to_clusters(spark):
    """SemDeDup's quadratic step must stay inside clusters: the pair
    join is an equi-join on cell_id (hash or sort-merge), never a
    cartesian/nested-loop over the corpus, and never single-partition."""
    from delta_lake_spark.queries.llm import q113_semantic_dedup

    plan = _plan(q113_semantic_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    # the quadratic pair join shuffles once on cell_id — an equi-join,
    # not a corpus-wide nested loop
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[cell_id", plan)
    # the only nested-loop joins are the k-means assignment's broadcasts
    # of the tiny centroid set (IdentityBroadcastMode); a nested loop fed
    # by a plain (non-broadcast) exchange would be a corpus-scale blowup
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastExchange IdentityBroadcastMode"
    )


def test_semdedup_centroid_prune_confined_to_clusters(spark):
    """The centroid_far variant adds a per-cell centroid aggregation
    and a priority-cosine join, but the quadratic step must stay
    cluster-confined exactly like q113: cell_id equi-join, no
    cartesian, no cross-cluster pairs, centroids joined by broadcast."""
    from delta_lake_spark.queries.llm import q265_semdedup_centroid_prune

    plan = _plan(q265_semdedup_centroid_prune(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[cell_id", plan)
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastExchange IdentityBroadcastMode"
    )


def test_row_id_read_is_broadcast_only(spark, tmp_table):
    """Row tracking read path: attaching _row_id joins the O(#files)
    (file, baseRowId) map by broadcast — the data side must not
    shuffle, and the scan stays a vectorized parquet read."""
    from pyspark.sql import functions as F

    from delta_lake_spark import read_delta, write_delta

    write_delta(
        spark.range(1000).select("id"),
        tmp_table,
        properties={"delta.enableRowTracking": "true"},
    )
    df = read_delta(spark, tmp_table, row_ids=True)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan  # data side unshuffled


def test_centroid_outliers_broadcasts_centroids(spark):
    """Scoring must be a broadcast join of the tiny |labels| x dim
    centroid relation — never a shuffle of the full vector table on
    label (10 labels would mean 10 reducers at any scale)."""
    from delta_lake_spark.operators.similarity import centroid_outliers

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(centroid_outliers(emb, "embedding", "label", "vec_id"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cap_per_domain_two_bounded_windows(spark):
    """The salted cap must run as two window stages (salted then
    final), never a single unsalted window as the only pass."""
    from delta_lake_spark.operators.sampling import cap_per_domain

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(cap_per_domain(docs, "source", "doc_id", cap=5))
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_dedup_incremental_bloom_path_joins_only_residue(spark):
    """The exact anti-join must consume the bloom-filtered residue, not
    the full batch: the plan filters on the bloom membership column
    before any join, and the corpus side is semi-pruned first."""
    from delta_lake_spark.operators.dedup import dedup_against_corpus

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" n")).alias("text")
    )
    out = dedup_against_corpus(batch, docs, "text", "doc_id")
    plan = _plan(out)
    assert "LeftSemi" in plan  # corpus pruned by candidate hashes
    assert "LeftAnti" in plan  # exact decision is the anti-join
    assert "CartesianProduct" not in plan


def test_q123_existence_joins_are_hash_not_bnlj(spark):
    """The Q21-shape semi/anti joins carry an equi key (l_orderkey)
    with a residual; they must plan as hash/sort-merge existence joins,
    never BroadcastNestedLoop or Cartesian."""
    from delta_lake_spark.queries.relational import q123_waiting_supplier

    plan = _plan(q123_waiting_supplier(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort


def test_q125_broadcasts_nation_dims(spark):
    """TPC-H Q7 shape: both nation copies broadcast; no cartesian."""
    from delta_lake_spark.queries.relational import q125_nation_volume_shipping

    plan = _plan(q125_nation_volume_shipping(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_auto_strategy_by_corpus_size(spark):
    """ngram_jaccard_pairs at DEFAULT args must choose its candidate
    strategy from corpus size (Catalyst-style): above the threshold it
    takes the prefix-filter (Bayardo all-pairs) path — the rarity
    row_number window proves it — so boilerplate shingles can never
    explode the candidate set at corpus scale; at/below it the
    fewer-shuffle full index wins and nothing can explode."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.dedup import (
        PREFIX_FILTER_MIN_DOCS,
        ngram_jaccard_pairs,
    )

    big = spark.range(PREFIX_FILTER_MIN_DOCS + 1).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f").alias("text")
    )
    plan_big = _plan(ngram_jaccard_pairs(big, "text", "doc_id"))
    assert "row_number" in plan_big.lower()  # prefix path chosen
    assert "CartesianProduct" not in plan_big

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan_small = _plan(ngram_jaccard_pairs(docs, "text", "doc_id"))
    assert "row_number" not in plan_small.lower()  # full index chosen
    assert "CartesianProduct" not in plan_small


def test_q127_multifact_join_discipline(spark):
    """TPC-H Q9 shape under at-scale planning (auto-broadcast disabled,
    as no table would broadcast at 100 TB): the only BroadcastHashJoin
    is the EXPLICIT nation broadcast, every other join is a shuffle
    join on an equi key — never a nested loop or cartesian, and the
    lineitem fact is never a broadcast build side."""
    from delta_lake_spark.queries.relational import q127_profit_by_nation_year

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(q127_profit_by_nation_year(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one broadcast, and it must be the nation dim: treeString
    # is pre-order, so the first scan after the BroadcastExchange node
    # is a leaf of ITS subtree — assert it reads nation, not a fact
    assert plan.count("BroadcastExchange") == 1
    bx = plan.index("BroadcastExchange")
    first_scan = plan.find("Scan parquet", bx)
    assert first_scan != -1
    scan_line = plan[first_scan : plan.find("\n", first_scan)]
    assert "nation" in scan_line and "lineitem" not in scan_line
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_q128_semi_join_and_takeordered(spark):
    """TPC-H Q18 shape: the IN-subquery plans as a semi join on the
    pre-aggregated fact; top-k is TakeOrdered, not a global sort; the
    lineitem agg has a map-side partial phase."""
    from delta_lake_spark.queries.relational import q128_large_order_customers

    plan = _plan(q128_large_order_customers(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_q130_mixture_broadcast_quota_no_cartesian(spark):
    """Mixture resampling: the per-domain quota map joins as a
    broadcast (it is |domains| rows), selection is bounded windows —
    never a cartesian or nested-loop join."""
    from delta_lake_spark.queries.llm import q130_mixture_resample

    plan = _plan(q130_mixture_resample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q133_gopher_filter_is_map_only(spark):
    """Gopher rule filter: a single projection over the scan — no
    shuffle, no UDF (pure codegen expressions), nothing but the corpus
    read. At 100 TB this op's cost must be exactly one pass."""
    from delta_lake_spark.queries.llm import q133_gopher_quality_filter

    plan = _plan(q133_gopher_quality_filter(spark, SF_DIR))
    assert "Exchange" not in plan  # map-only: no shuffle anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q135_fact_never_shuffled(spark):
    """TPC-H Q17 shape: both the brand sliver and the per-part avg join
    back as broadcasts, so lineitem is scanned once and never shuffled
    — the decorrelated plan a 100 TB run needs (the per-part aggregate
    shuffles only the PRUNED fact, a |brand parts| sliver)."""
    from delta_lake_spark.queries.relational import q135_small_quantity_revenue

    plan = _plan(q135_small_quantity_revenue(spark, SF_DIR))
    # every join is a broadcast hash join (brand sliver twice, avg once);
    # the fact side never reaches a shuffle join of any kind
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_avg" in plan  # map-side combine feeds the avg


def test_q136_scalar_threshold_and_anti_join(spark):
    """TPC-H Q22 shape: the scalar AVG threshold joins as a SINGLE-ROW
    broadcast nested loop (the one legitimate BNLJ shape — build side
    is a 1-row aggregate, never a fact), NOT a collect; NOT EXISTS
    plans as a hash-based left anti join; nation broadcasts."""
    from delta_lake_spark.queries.relational import q136_idle_wealthy_customers

    plan = _plan(q136_idle_wealthy_customers(spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row threshold
    bx = plan.index("BroadcastNestedLoopJoin")
    assert "HashAggregate" in plan[bx:]  # its build side is the aggregate
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation dim + anti join are hash joins


def test_q137_funnel_composition_no_cartesian(spark):
    """Pretraining funnel: the composition must stay shuffle-
    disciplined end to end — the report is a SINGLE corpus pass (flag
    joins + one conditional aggregation + stack, no per-stage union
    branches), survivor derivation inside the cached id sets uses
    semi joins, the eval-set shingles broadcast, and no stage
    introduces a cartesian or nested-loop join."""
    from delta_lake_spark.queries.llm import (
        _pretrain_funnel_frames,
        clear_funnel_memo,
    )

    out, _ = _pretrain_funnel_frames(spark, SF_DIR)
    try:
        plan = _plan(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # single-pass report: one depth aggregation over one corpus
        # join against the unioned id sets (explain text can't count
        # corpus scans — InMemoryRelation blocks print their cached
        # child plans — so assert the depth-group-by shape instead)
        assert "__depth" in plan, plan
        # one 7-row cumsum window in the report plan proper; the fused
        # quality+exact-dedup base contributes its keeper-election
        # window (partitioned by the normalized text) only inside the
        # persisted base frame's InMemoryRelation lineage, never as a
        # live operator of the report
        import re

        win_ops = len(re.findall(r"(?m)^[^\n]*?\bWindow \[", plan))
        keeper_wins = plan.count("windowspecdefinition(__norm")
        assert keeper_wins >= 1, plan
        assert win_ops == 1 + keeper_wins, plan
        assert "LeftSemi" in plan  # survivor derivation chains
        assert "BroadcastHashJoin" in plan  # eval shingles / survivor sets
    finally:
        clear_funnel_memo(spark)


def test_q145_residual_ivfpq_same_shuffle_discipline(spark):
    """Residual IVFPQ keeps q139's plan shape: candidate generation is
    a broadcast HASH join on cell_id, the per-probe ADC maps ride the
    broadcast probe relation (|Q| * nprobe rows), and the only
    exchanges are the quantizer builds and the top-k windows' scalar
    shuffles — residual encoding must not introduce a cartesian or a
    corpus-sized nested loop."""
    import re

    from delta_lake_spark.queries.llm import q145_ivfpq_residual

    plan = _plan(q145_ivfpq_residual(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin \[cell_id", plan), plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert shuffles, plan
    for cols in shuffles:
        assert cols.strip().startswith(
            ("query_id", "code", "cell", "_groupingexpression")
        ), shuffles
    assert "WindowGroupLimit" in plan


def test_q150_hybrid_rrf_no_cartesian(spark):
    """Hybrid RRF: the lexical side keeps BM25's broadcast discipline,
    the dense side's only nested loop is the broadcast query-vector
    relation (|Q| rows), and the fusion joins two bounded rank
    relations — no cartesian anywhere."""
    from delta_lake_spark.queries.llm import q150_hybrid_search_rrf

    plan = _plan(q150_hybrid_search_rrf(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan  # the rank fusion join


def test_q147_full_funnel_composition_no_cartesian(spark):
    """The full CCNet-shaped funnel (q137 + LM filter + semantic
    decontamination) must keep q137's shuffle discipline end to end:
    survivor propagation stays semi/anti joins, the 1-row aggregates
    (LM total, eval-embedding row) are the only nested-loop broadcasts,
    and no stage introduces a cartesian."""
    from delta_lake_spark.queries.llm import (
        clear_funnel_memo,
        q147_pretrain_funnel_full,
    )

    out = q147_pretrain_funnel_full(spark, SF_DIR)
    try:
        plan = _plan(out)
        assert "CartesianProduct" not in plan
        assert "LeftSemi" in plan and "LeftAnti" in plan
        # every BroadcastNestedLoopJoin build side must be a 1-row
        # aggregate (LM model total / eval-embedding collect_list row)
        import re

        for m in re.finditer(r"BroadcastNestedLoopJoin", plan):
            assert "HashAggregate" in plan[m.start():], plan[m.start():m.start() + 500]
    finally:
        clear_funnel_memo(spark)


def test_q138_pq_codebook_broadcasts_no_cartesian(spark):
    """PQ ANN with the MAP-SIDE ADC fold: the 1-row codebook and the
    per-query ADC maps broadcast (the two legitimate BNLJs — build
    sides are a 1-row aggregate and a |queries|-row map relation);
    encode and ADC scoring are pure projections, so the ONLY exchange
    between the corpus scan and the ADC top-k window is that window's
    own hashpartitioning(query_id) — shuffling (query_id, neighbor_id,
    dist) scalars, never vectors or per-subspace rows; shortlist rerank
    joins hash-broadcast; no cartesian anywhere."""
    from delta_lake_spark.queries.llm import q138_pq_topk

    plan = _plan(q138_pq_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # exactly the three legitimate broadcasts: the 1-row codebook onto
    # the encode side, the same row onto the query side, and the
    # |queries|-row ADC-map relation onto the codes — nothing fact-sized
    assert plan.count("BroadcastNestedLoopJoin") == 3
    assert "BroadcastHashJoin" in plan  # shortlist rerank joins
    # the corpus-side pipeline scan -> codes -> ADC dist is exchange-free:
    # every Exchange in the plan is either inside a BroadcastExchange
    # subtree (codebook/qmap/rerank builds) or the top-k window's
    # hashpartitioning on query_id
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert shuffles, plan
    for cols in shuffles:
        # _groupingexpression = the codebook's pmod(id, k_codes) agg —
        # k_codes partial rows per map task, inside the broadcast build
        assert cols.strip().startswith(
            ("query_id", "code", "_groupingexpression")
        ), shuffles
    # map-side partial top-k before the only scalar shuffle
    assert "WindowGroupLimit" in plan


def test_q139_ivfpq_candidates_confined_to_probed_cells(spark):
    """IVFPQ: candidate generation must be a broadcast HASH join on
    cell_id (the join itself confines the ADC scan to probed cells —
    no post-hoc filter, no cartesian); the coarse-centroid row, the
    codebook row, and the probe relation are the only nested-loop
    broadcasts (1-row / |Q|*nprobe-row build sides); cell assignment
    and encoding are projections, so the only exchanges are the
    codebook/centroid builds and the top-k windows' scalar shuffles."""
    import re

    from delta_lake_spark.queries.llm import q139_ivfpq_topk

    plan = _plan(q139_ivfpq_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the probe join on cell_id is a hash join, not a filter afterthought
    assert re.search(r"BroadcastHashJoin \[cell_id", plan), plan
    # 1-row cells + 1-row codebook on the corpus side, same two on the
    # query side — nothing fact-sized ever nested-loops
    assert plan.count("BroadcastNestedLoopJoin") == 4
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert shuffles, plan
    for cols in shuffles:
        assert cols.strip().startswith(
            ("query_id", "code", "_groupingexpression")
        ), shuffles
    assert "WindowGroupLimit" in plan


def test_q153_shard_shuffle_single_exchange(spark):
    """The per-shard window is the ONLY exchange in the shard
    assignment — the same hash shuffle a sharded write's partitionBy
    would reuse; nothing sorts globally."""
    from delta_lake_spark.queries.llm import q153_shard_shuffle

    plan = _plan(q153_shard_shuffle(spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()  # no global sort


def test_q155_weighted_sample_no_global_sort(spark):
    """A-Res selection must stay a salted top-k: the final k rows come
    from TakeOrdered over the bounded per-salt survivors, never a
    range-partitioned global sort of the corpus."""
    from delta_lake_spark.queries.llm import q155_weighted_sample

    plan = _plan(q155_weighted_sample(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_q154_token_budget_two_source_scans(spark):
    """select_by_token_budget touches the source exactly TWICE: scan 1
    builds the persisted narrow (id, bin, tokens, hash) summary that
    every metadata pass reuses; scan 2 is the result pass. The bin
    column is derived (floor(score*n_bins)) so no bin filter could ever
    reach parquet row-group stats — caching the summary, not repeated
    "pushed-down" scans, is what bounds the IO. The RETURNED plan must
    therefore contain exactly one file scan of the corpus, with the
    kept-id relation read from the in-memory summary."""
    from delta_lake_spark.queries.llm import q154_token_budget_select

    out = q154_token_budget_select(spark, SF_DIR)
    # count LEAF nodes: the toString render embeds the cached
    # InMemoryRelation's defining plan (which names the original file
    # scan) and would overcount — collectLeaves sees actual scans only
    # (unwrapping the AdaptiveSparkPlan, itself a leaf to the outside)
    ep = out._jdf.queryExecution().executedPlan()
    if "Adaptive" in ep.getClass().getName():
        ep = ep.executedPlan()
    leaves = ep.collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    # <= 1: when another test's persist covers the same parquet subtree,
    # CacheManager substitutes even the result scan (0 file scans) —
    # the invariant under guard is that the old 3-scan shape never
    # returns
    assert sum(1 for n in names if "Scan parquet" in n) <= 1, names
    assert any("InMemoryTableScan" in n for n in names)


def test_span_operators_map_only_to_explode(spark):
    """duplicate_span_rate / remove_duplicate_spans must consume the
    source map-only into their span relations: an earlier revision
    staged a repartition(id) before tokenizing, hoping the explode
    subtree would be shared via ReuseExchange — but per-branch column
    pruning defeats reuse for this shape (0 reused exchanges measured,
    1.7x slower at sf0.1), so the staging shuffle was deleted (the
    q144 precedent). Guard: no exchange is keyed on the doc id alone —
    every shuffle left in the plan is on the span/position/doc-agg
    keys the algorithm genuinely needs."""
    from delta_lake_spark.operators.text import (
        duplicate_span_rate,
        remove_duplicate_spans,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for op in (duplicate_span_rate, remove_duplicate_spans):
        plan = _plan(op(docs, "text", "doc_id"))
        # the only doc_id-keyed exchange allowed is the FINAL per-doc
        # aggregation / join — never one feeding an explode (the old
        # staging shape put "Exchange hashpartitioning(doc_id" directly
        # below Generate explode; assert that shape is gone)
        for seg in plan.split("Generate explode")[1:]:
            first_exchange = seg.find("Exchange")
            if first_exchange != -1:
                window = seg[first_exchange : first_exchange + 60]
                assert "hashpartitioning(doc_id" not in window, window


def test_q159_bigram_funnel_composition_no_cartesian(spark):
    """The bigram-LM variant of the full funnel must keep the same
    composition discipline as q147: semi/anti survivor propagation, the
    bigram-count relation joined as a shuffled equi-join (never a
    cartesian), 1-row aggregates as the only nested-loop broadcasts."""
    from delta_lake_spark.queries.llm import (
        clear_funnel_memo,
        q159_pretrain_funnel_bigram,
    )

    out = q159_pretrain_funnel_bigram(spark, SF_DIR)
    try:
        plan = _plan(out)
        assert "CartesianProduct" not in plan
        assert "LeftSemi" in plan and "LeftAnti" in plan
        import re

        for m in re.finditer(r"BroadcastNestedLoopJoin", plan):
            assert "HashAggregate" in plan[m.start():], plan[m.start():m.start() + 500]
    finally:
        clear_funnel_memo(spark)


def test_q170_minhash_funnel_no_cartesian_register_bounded(spark):
    """The LSH-tier funnel must keep the composition discipline: the
    banded-bucket candidate join and the survivor semi/anti chain are
    hash joins (no cartesian), and the vocab column's HLL aggregation
    is register-bounded — the shuffle keys are (depth|stage, bucket),
    never raw tokens."""
    from delta_lake_spark.queries.llm import (
        clear_funnel_memo,
        q170_pretrain_funnel_minhash,
    )

    out = q170_pretrain_funnel_minhash(spark, SF_DIR)
    try:
        plan = _plan(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "LeftSemi" in plan
        # HLL register merge: the stage-axis aggregation groups on
        # (stage_id, bucket) — token-level rows never cross a stage
        # boundary shuffle
        assert "hashpartitioning(stage_id" in plan, plan
        assert "est_vocab" in plan
    finally:
        clear_funnel_memo(spark)


def test_hll_distinct_shuffles_registers_never_terms(spark):
    from delta_lake_spark.operators.sketches import hll_distinct

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    df = hll_distinct(toks, "term", ["lang"])
    df.collect()
    plan = _plan(df)
    # map-side combine runs before any exchange, and nothing ever
    # hash-partitions by the raw token column — the shuffled relations
    # are register-bounded (<= groups * 1024 rows)
    assert "partial_max" in plan
    assert "hashpartitioning(term" not in plan


def test_countmin_probe_join_broadcasts_sketch_cells(spark):
    from delta_lake_spark.operators.sketches import countmin_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        )
    )
    probes = docs.filter("doc_id < 5").select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        )
    ).distinct()
    df = countmin_counts(toks, "term", probes)
    df.collect()
    plan = _plan(df)
    # the d*w-cell sketch broadcasts to the probe side; the corpus
    # aggregates map-side into cells first (partial_count)
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_q164_excess_select_no_cartesian_no_global_sort(spark):
    """RHO-style excess-likelihood selection must stay a composition of
    two model joins + a map-only threshold: no cartesian, no global
    sort/rank (the selection is a filter, not a top-k), nested-loop
    broadcasts only against 1-row aggregates (the model totals)."""
    from delta_lake_spark.queries.llm import q164_excess_perplexity_select

    out = q164_excess_perplexity_select(spark, SF_DIR)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()
    for m in re.finditer(r"BroadcastNestedLoopJoin", plan):
        assert "HashAggregate" in plan[m.start():], (
            plan[m.start():m.start() + 500]
        )


def test_q161_curriculum_one_corpus_exchange_no_global_sort(spark):
    """Curriculum ordering claims ONE corpus-sized exchange (the
    per-(phase, shard) window) — the only other exchanges allowed are
    over the bounded score-bin relation (<= n_bins+1 rows), and no
    rangepartitioning (global sort) may appear anywhere."""
    from delta_lake_spark.queries.llm import q161_curriculum_shards

    df = q161_curriculum_shards(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "rangepartitioning" not in plan.lower()
    keys = {
        re.sub(r"#\d+", "", m.group(1)).replace(" ", "")
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    # strip the trailing partition count from each key list
    keys = {k.rsplit(",", 1)[0] for k in keys}
    assert keys <= {"phase,shard_id", "__b"}, keys


def test_bloom_build_partial_aggregates_probe_broadcasts(spark):
    from delta_lake_spark.operators.sketches import bloom_probe, build_bloom

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fp = F.md5(F.trim(F.col("text"))).alias("fp")
    items = docs.filter("doc_id % 2 = 0").select(fp)
    probes = docs.filter("doc_id % 2 = 1").select(fp).distinct()
    df = bloom_probe(
        build_bloom(items, "fp", m_bits=1 << 16, k=4),
        probes, "fp", m_bits=1 << 16, k=4,
    )
    df.collect()
    plan = _plan(df)
    # bitmap words combine map-side before their exchange; the built
    # bitmap broadcasts to the probe side; nothing hash-partitions by
    # the raw fingerprint values on the bloom path (the probe-side
    # groupBy(fp) aggregation is probe-batch-sized)
    assert "partial_bit_or" in plan
    assert "BroadcastHashJoin" in plan


def test_q186_correlated_min_single_fact_scan(spark):
    from delta_lake_spark.queries.relational import q186_min_cost_supplier

    plan = _plan(q186_min_cost_supplier(spark, SF_DIR))
    # the correlated per-part MIN runs as a window over the derived
    # partsupp relation: ONE lineitem scan (the textual self-join form
    # duplicated the whole fact+dims subtree); all dims broadcast
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q187_threshold_reuses_per_part_exchange(spark):
    from delta_lake_spark.queries.relational import q187_important_parts

    df = q187_important_parts(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    # the HAVING-vs-global-scalar compare references per_part twice;
    # the aggregation exchange must be computed once and reused, and
    # the 1-row threshold must broadcast, never shuffle the parts side
    assert "ReusedExchange" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q188_late_counts_partial_agg_no_cartesian(spark):
    from delta_lake_spark.queries.relational import q188_late_priority_counts

    plan = _plan(q188_late_priority_counts(spark, SF_DIR))
    # non-equi lateness predicate stays a join residual (never a
    # cartesian); the two-way counts partial-aggregate map-side
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_q189_not_in_compiles_to_broadcast_anti_join(spark):
    from delta_lake_spark.queries.relational import q189_supplier_part_counts

    plan = _plan(q189_supplier_part_counts(spark, SF_DIR))
    # the blacklist NOT IN must run as a broadcast LEFT ANTI join, and
    # the (partkey, suppkey) distinct must appear below the part join
    # (lineitem reduces before it widens)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_dedup_segments_shuffle_discipline(spark):
    """Segment dedup must stay at three exchanges (frequency agg, flag
    join, doc reassembly) with no Python eval and no cartesian — the
    boilerplate pass runs over the full corpus at 100 TB."""
    from delta_lake_spark.operators.text import dedup_segments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup_segments(docs, "text", "doc_id"))
    assert "EvalPython" not in plan
    assert "Cartesian" not in plan
    # freq agg + join repartition sides + final doc agg; AQE may fold
    # reuse but never exceed 4 distinct exchanges
    assert plan.count("Exchange") <= 4
    # the join key is the 32-hex md5, not the raw segment string
    assert "md5" in plan


def test_phrase_search_plan_discipline(spark):
    """Phrase search must prune postings to the phrase's terms before
    any exchange, broadcast the (term, offset) relation, and never
    build an L-way self-join: <= 3 hash exchanges regardless of
    phrase length, no Python, no cartesian."""
    from delta_lake_spark.operators.retrieval import phrase_search

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(phrase_search(docs, "text", "doc_id", "big order scan table key"))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    # the term prune sits under the explode, before the first exchange
    assert "big" in plan and "scan" in plan


def test_dsir_model_broadcasts_and_takeordered(spark):
    """DSIR scoring must broadcast the n_buckets-row model (never
    shuffle the corpus against it), keep the totals as a broadcast
    1-row cross join, and select top-k via TakeOrdered."""
    from delta_lake_spark.operators.text import dsir_importance

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = dsir_importance(docs, "text", "doc_id", F.col("lang") == "en")
    plan = _plan(w.orderBy(F.col("log_weight").desc(), "doc_id").limit(50))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals fold
    assert "EvalPython" not in plan


def test_tfidf_cosine_plan_discipline(spark):
    """tf-idf pair scoring must broadcast the 1-row doc count, keep
    Python out, and never go cartesian; the weight relation is
    persisted (InMemoryTableScan) for its three consumers."""
    from delta_lake_spark.operators.dedup import tfidf_cosine_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(tfidf_cosine_pairs(docs, "text", "doc_id"))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row ndocs fold
    assert "InMemoryTableScan" in plan        # persisted weights reused


def test_auc_windows_run_on_reduced_relations(spark):
    """Both AUC variants must aggregate to the score-distinct relation
    BEFORE any window (partial HashAggregate under the Window, no
    corpus-wide row rank) and stay Python-free."""
    from delta_lake_spark.operators.stats import auc_by_group, auc_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        (F.col("doc_id") % 100 / 100.0).alias("prob"),
        (F.col("doc_id") % 3 == 0).alias("pos"),
        F.col("source"),
    )
    for df in (
        auc_score(docs, "prob", "pos"),
        auc_by_group(docs, "prob", "pos", "source"),
    ):
        plan = _plan(df)
        assert "EvalPython" not in plan
        assert plan.index("HashAggregate") > plan.index("Window") or \
            "HashAggregate" in plan.split("Window")[-1]


def test_containment_and_leakage_no_cartesian(spark):
    """The directional-containment and leakage-split pair joins must
    stay equi-joins on the shingle key — never cartesian, never
    Python."""
    from delta_lake_spark.operators.dedup import (
        containment_pairs,
        leakage_free_split,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (
        containment_pairs(docs, "text", "doc_id"),
        leakage_free_split(docs, "text", "doc_id", F.col("doc_id") % 10 == 0),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan
        # equi-join on the shingle key — AQE may pick broadcast at
        # this tiny SF, sort-merge at scale; any of the three is fine
        assert any(
            j in plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        )


def test_q228_exact_substring_spans_shuffle_discipline(spark):
    """Exact-substring span detection must stay suffix-sort-free and
    all-pairs-free: the only exchanges are the md5-gram count (__g)
    and the doc-keyed window/merge (doc_id); duplicated starts ride
    back via a semi join, never a cartesian."""
    import re

    from delta_lake_spark.queries.llm import q228_exact_substring_spans

    plan = _plan(q228_exact_substring_spans(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", plan)
    assert shuffles, plan
    for cols in shuffles:
        assert cols.strip().startswith(("__g", "doc_id")), shuffles


def test_q229_exact_substring_scrub_shuffle_discipline(spark):
    """The scrub stage adds only the doc-keyed starts aggregation and
    doc join on top of q228's shape — the HOF token filter itself is
    map-side (no per-token join)."""
    import re

    from delta_lake_spark.queries.llm import q229_exact_substring_scrub

    plan = _plan(q229_exact_substring_scrub(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", plan)
    assert shuffles, plan
    for cols in shuffles:
        assert cols.strip().startswith(("__g", "doc_id")), shuffles


def test_q230_blocklist_broadcast_discipline(spark):
    """Blocklist screening: the phrase relation must BROADCAST (it is
    model-sized by contract); the only hash exchanges are the doc
    rollup and the left-join back — never a cartesian or a
    corpus-sized nested loop."""
    import re

    from delta_lake_spark.queries.llm import q230_blocklist_screen

    plan = _plan(q230_blocklist_screen(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", plan)
    for cols in shuffles:
        assert cols.strip().startswith("doc_id"), shuffles


def test_q232_kneser_ney_shuffle_discipline(spark):
    """KN model build: one corpus bigram aggregation, then
    vocabulary-keyed joins (v / w) and a 1-row broadcast total — no
    corpus re-scan per statistic, no cartesian beyond that 1-row
    broadcast."""
    import re

    from delta_lake_spark.queries.llm import q232_kneser_ney_bigrams

    plan = _plan(q232_kneser_ney_bigrams(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", plan)
    assert shuffles, plan
    for cols in shuffles:
        assert cols.strip().startswith(("v", "w")), shuffles
    # the N1+(.,.) total is the only nested-loop broadcast (1 row)
    import re as _re

    for m in _re.finditer(r"BroadcastNestedLoopJoin", plan):
        assert "HashAggregate" in plan[m.start():]


def test_q235_rouge_joins_are_pair_bounded(spark):
    """ROUGE audit: gram joins key on ids/grams, the pair relation
    bounds the expansion, no cartesian."""
    import re

    from delta_lake_spark.queries.llm import q235_rouge_pair_audit

    plan = _plan(q235_rouge_pair_audit(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", plan)
    assert shuffles, plan
    for cols in shuffles:
        assert cols.strip().startswith(
            ("id_1", "id_2", "doc_id", "__g", "shingle", "xxhash", "__h")
        ), shuffles


def test_q242_heavy_hitters_verify_is_broadcast_pruned(spark):
    """The exact-verify pass must shuffle only candidate tokens: the
    candidate set joins as a BROADCAST before the count aggregation,
    and the corpus total is a 1-row broadcast cross join."""
    from delta_lake_spark.operators.sketches import misra_gries_heavy_hitters

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(misra_gries_heavy_hitters(docs, "text", k=30))
    assert "BroadcastHashJoin" in plan  # candidate prune before the agg
    assert "CartesianProduct" not in plan
    # exactly one hash exchange on the token key (the candidate-only
    # count); the corpus-total reduction is a SinglePartition exchange
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", plan)
    assert all(c.strip() == "token" for c in shuffles), shuffles


def test_q243_chi2_marginals_broadcast_no_cartesian(spark):
    from delta_lake_spark.operators.text import chi2_keywords

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(chi2_keywords(docs, "text", "source", top_k=3))
    assert "CartesianProduct" not in plan
    # group marginal + total ride broadcasts; the token marginal join
    # and the (group, token) agg key their exchanges on those columns
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#)]+)", plan)
    assert shuffles
    for cols in shuffles:
        assert cols.strip() in ("__g", "token"), shuffles


def test_q245_edit_distance_min_shingle_is_row_local(spark):
    """The 1-permutation MinHash key must be computed inside the row:
    no explode-shuffle before the bucket self-join, no cartesian."""
    from delta_lake_spark.operators.dedup import edit_distance_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(edit_distance_pairs(docs, "text", "doc_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" not in plan  # no shingle explode anywhere
    # at this SF the bucket join broadcasts outright (no exchange at
    # all); any hash exchange that does appear must key on the bucket
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#)]+)", plan)
    assert all(c.strip() == "__key" for c in shuffles), shuffles


def test_q246_trimmed_mean_single_group_sort(spark):
    from delta_lake_spark.operators.stats import trimmed_mean

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(trimmed_mean(docs, "source", "n_chars"))
    assert "Exchange SinglePartition" not in plan  # never a global sort
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#)]+)", plan)
    assert shuffles and all(c.strip() == "source" for c in shuffles), shuffles


def test_q244_kfold_is_pure_projection(spark):
    from delta_lake_spark.operators.sampling import kfold_assign

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(kfold_assign(docs, "doc_id"))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_q303_token_loss_masks_map_only(spark):
    """chat_token_loss_masks must be wholly map-only — counts, prefix
    sums, and span selection are higher-order array expressions, so
    the executed plan carries NO exchange and NO Python eval at any
    corpus size (the lever that makes per-conversation mask derivation
    free at 100 TB)."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.chat import chat_token_loss_masks
    from delta_lake_spark.queries.llm import _Q297_JSON_SPARK

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    plan = _plan(chat_token_loss_masks(docs, "convo", "doc_id", []))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_q304_packing_single_group_window(spark):
    """sft_pack_with_masks adds exactly ONE exchange — the per-source
    packing window (pack_sequences' shape); the mask arithmetic and
    the bin-intersection explode stay map-side around it."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.chat import sft_pack_with_masks
    from delta_lake_spark.queries.llm import _Q297_JSON_SPARK

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    plan = _plan(
        sft_pack_with_masks(docs, "convo", "doc_id", "source", [], 64)
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(source" in plan
    assert "EvalPython" not in plan


def test_q306_decontamination_eval_side_broadcasts(spark):
    """preference_decontaminate: the eval set is benchmark-sized, so
    every join against it must broadcast — the corpus side is never
    shuffled by the candidate join (cross_corpus_near_dups' band join
    broadcasts the small side) and no cartesian product appears."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.chat import preference_decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.expr(
            "'explain topic ' || CAST(doc_id % 50 AS STRING)"
            " || ' in detail with examples'"
        ).alias("prompt"),
    )
    evals = spark.range(11).select(
        F.col("id").alias("eval_id"),
        F.concat(F.lit("explain topic "), F.col("id").cast("string"),
                 F.lit(" in detail with examples")).alias("eval_text"),
    )
    plan = _plan(
        preference_decontaminate(
            docs, "prompt", "doc_id", evals, "eval_text", "eval_id"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q311_rejection_sampling_prompt_keyed_windows_only(spark):
    """rejection_sample_topk: every exchange in the plan is keyed on
    the prompt (the two window stages); no other shuffle and no
    Python eval."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.chat import rejection_sample_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.expr("'p' || CAST(doc_id % 101 AS STRING)").alias("prompt"),
        F.expr("'a' || CAST(doc_id % 13 AS STRING)").alias("completion"),
        F.expr("CAST(doc_id * 37 % 1000 AS DOUBLE)").alias("reward"),
    )
    plan = _plan(
        rejection_sample_topk(
            docs, "prompt", "completion", "reward", "doc_id", 2
        )
    )
    assert "EvalPython" not in plan
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert seg.startswith("prompt"), seg[:60]


def test_q317_fim_transform_map_only(spark):
    """fim_transform is a pure projection: no exchange, no Python."""
    from delta_lake_spark.operators.text import fim_transform

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(fim_transform(docs, "text", "doc_id"))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_q313_bradley_terry_single_corpus_aggregation(spark):
    """bradley_terry_strengths scans the raw pair relation exactly
    ONCE (the directed win-count aggregation); wins, items, and
    symmetric comparison counts all derive from that item-bounded
    relation, and every MM iteration joins broadcast strengths."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.stats import bradley_terry_strengths

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.expr("'m' || CAST(doc_id % 8 AS STRING)").alias("winner"),
        F.expr("'m' || CAST((doc_id * 3 + 1) % 8 AS STRING)").alias(
            "loser"
        ),
    ).filter("winner <> loser")
    out = bradley_terry_strengths(docs, "winner", "loser", iterations=2)
    ep = out._jdf.queryExecution().executedPlan()
    if "Adaptive" in ep.getClass().getName():
        ep = ep.executedPlan()
    leaves = ep.collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    # the localCheckpointed directed-win relation replaces the file
    # scan everywhere: ZERO parquet scans in the returned plan
    assert sum(1 for n in names if "Scan parquet" in n) == 0, names
    assert "BroadcastHashJoin" in _plan(out) or "BroadcastNestedLoopJoin" in _plan(out)


if __name__ == "__main__":
    from conftest import local_session

    spark = local_session()
    shapes = {name: plan_shape(spark, name) for name in HEADLINE + SECONDARY}
    with open(SHAPES, "w") as fh:
        json.dump(shapes, fh, indent=2)
        fh.write("\n")
    print(json.dumps(shapes))
    spark.stop()
