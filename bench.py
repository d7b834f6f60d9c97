"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
host's CPU count) and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec, ...}, "runs": {name: repeats, ...}, "sf": ...}.

Usage: python bench.py [--all | QUERY ...]
  (default: the headline subset used for round-over-round tracking;
  --all benches every registered query; named queries are timed alone,
  under the same rules as --all).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q02_top_unshipped_orders",
    "q03_region_revenue",
    "q04_events_gold",
    "q10_interpolate",
    "q13_top_customers_per_nation",
    "q20_asof_login_before_purchase",
    # q31 (exact inverted-index jaccard) is a calibration tool, not the
    # production dedup path — it was 32% of the round-1 headline, so the
    # tracked number now follows the LSH path (q32) it calibrates; q31
    # still runs under --all.
    "q32_dedup_minhash_lsh",
    "q33_dedup_simhash",
    "q34_embedding_cosine_topk",
    "q44_embedding_topk_pandas",
    "q37_token_stats",
    "q40_fingerprint",
    "q50_delta_merge_upsert",
    "q51_delta_delete_timetravel",
    "q58_sessionize",
]

# Secondary tracked set: the heaviest registered queries, benched and
# reported EVERY round (so a regression is visible to the driver) but
# kept OUT of the headline metric so that number stays row-for-row
# comparable with the round-2 pinned baseline. See BASELINE.md.
SECONDARY = [
    "q137_pretrain_funnel",
    "q138_pq_topk",
    "q139_ivfpq_topk",
    "q145_ivfpq_residual",
    "q147_pretrain_funnel_full",
    "q154_token_budget_select",  # curation-suite trend line at sf0.1
    "q162_hll_distinct_tokens",  # sketch-suite trend line at sf0.1
    "q165_hll_state_vocab",  # persistent sketch-state maintenance path
    "q170_pretrain_funnel_minhash",  # LSH-tier funnel (production shape)
    "q242_heavy_hitters",  # frequent-items sketch trend line at sf0.1
    "q266_semdedup_arrow",  # SemDeDup GEMM-prune trend line at sf0.1
    # graph family: distributed path at sf0.1. ~5.5-6.5 s of this
    # row is local-mode stage-SCHEDULING floor over the 5 iterations'
    # ~10 join/agg stages on a 16k-node state — measured invariant to
    # checkpoint_every in {2,3} and with the dangling aggregate
    # already probe-elided (symmetrized graph); on a real cluster the
    # per-stage floor amortizes across executors (SCALING.md: 9.6 s at
    # 1M edges -> 16.0 s at 10M, strongly sublinear for this reason)
    "q199_pagerank_trade_graph",
]

# Secondary rows whose quiet end-to-end time is >= ~5 s (BASELINE.md
# quiet bands). They stay at best-of-3: the bench itself drives the box
# to loadavg 4-6, but a >=5 s window is long enough that at least one
# of 3 repeats spans a representative mix — and a universal best-of-5
# would push total bench time past the 10-minute budget. Every LIGHTER
# secondary row gets the same best-of-5 floor as the headline: the r8
# driver reading showed code-untouched sub-3 s rows (q138/q154/q162)
# inflating 1.6-1.8x in lockstep purely because a quiet START (loadavg
# 1.99) kept them at best-of-3 while the bench's own mid-run load did
# the inflating. Short windows need more draws for a trustworthy min.
SECONDARY_HEAVY = {
    "q147_pretrain_funnel_full",
    "q170_pretrain_funnel_minhash",
    "q199_pagerank_trade_graph",
}


def main() -> None:
    from pyspark.sql import functions as F

    from delta_lake_spark.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    picked = [a for a in sys.argv[1:] if a != "--all"]
    unknown = [name for name in picked if name not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {' '.join(unknown)}")
    # named queries follow the --all rules: one "queries" map, no
    # secondary rows
    subset = bool(picked) or "--all" in sys.argv

    spark = session()

    # untimed warmup: exercise codegen, the scheduler, and a shuffle once
    # so the first timed query measures the query, not JVM cold-start
    spark.range(10_000_000).groupBy((F.col("id") % 7).alias("k")).count().collect()

    # load-aware guard: this box is shared (BASELINE.md documents
    # co-tenant spikes up to 17 s on a 7 s headline), and best-of-N
    # only suppresses noise when at least one of the N runs lands in a
    # quiet window — so when the EXTERNAL load average is already high,
    # widen N. The loadavg rides the JSON line so a slow reading is
    # auditable after the fact.
    try:
        loadavg = os.getloadavg()
    except OSError:  # platform without getloadavg
        loadavg = (-1.0, -1.0, -1.0)
    # best-of-5 floor for the HEADLINE set AND the light secondary
    # rows: the widening rule keys on PRE-run load, but the bench
    # itself drives a 32-thread box to loadavg 4-6 mid-run, so a quiet
    # start still needs the extra repeats for a trustworthy min (r7: a
    # quiet-start best-of-3 headline read 7.2 s where best-of-5 reads
    # 5.6-6.2 s; r8: quiet-start best-of-3 SECONDARY rows inflated
    # 1.6-1.8x across the board with zero code changes). Only the
    # >=5 s SECONDARY_HEAVY rows stay at 3 (7 when the start is
    # already noisy) to keep the whole bench inside its time budget.
    noisy_host = loadavg[0] > 2.0
    extra = 2 if noisy_host else 0
    headline_extra = 4 if noisy_host else 2

    from delta_lake_spark.operators._cache import clear_session_caches
    from delta_lake_spark.queries._fixtures import clear_fixture_memo

    runs_used = {}

    def bench_one(name: str, runs: int = 3, include_build: bool = False) -> float:
        runs += extra if include_build else headline_extra
        runs_used[name] = runs
        fn = QUERIES[name]
        # best of 3: the first run pays Janino codegen + cache fill, the
        # second still part-warms the JIT for wide-agg plans; the minimum
        # is steady-state throughput (what predicts cluster performance)
        # and suppresses shared-host noise between rounds
        best = None
        for _ in range(runs):
            # drop session-memoized stage sets / summary caches so every
            # repeat run measures real work (Spark's CacheManager would
            # otherwise serve the previous run's blocks by plan equality)
            clear_session_caches(spark)
            clear_fixture_memo()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if not include_build:
                # headline semantics (pinned since r2): time only the
                # materializing action, construction excluded
                t0 = time.perf_counter()
            # noop-format write materializes EVERY column of every row
            # (count() would let Catalyst prune the projections away and
            # time a row count instead of the query's actual work)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
        t = round(best, 3)
        print(f"# {name}: {t:.3f}s", file=sys.stderr)
        return t

    # Under --all or named queries, composition-heavy queries (the
    # SECONDARY set and the funnel family, whose _funnel_core now
    # materializes stage sets eagerly at construction time) are timed
    # END TO END — otherwise the t0 reset would exclude most of their
    # work from the timed window and silently under-report them.
    end_to_end = set(SECONDARY) | {
        "q137_pretrain_funnel",
        "q147_pretrain_funnel_full",
        "q159_pretrain_funnel_bigram",
        "q170_pretrain_funnel_minhash",
    }
    names = picked or (list(QUERIES) if subset else HEADLINE)
    timings = {
        name: bench_one(name, include_build=(subset and name in end_to_end))
        for name in names
    }
    total = round(sum(timings.values()), 3)
    # the secondary set rides along without affecting the pinned
    # headline metric: light rows at a best-of-5 floor (same rationale
    # as the headline — mid-run self-load inflates short windows),
    # heavy rows at best-of-3 (see SECONDARY_HEAVY). Secondary rows are
    # timed END TO END (construction + materialization): composition
    # queries may probe or mutate eagerly during construction, and
    # hiding that would under-report them (see BASELINE.md round-4
    # note).
    secondary = (
        {}
        if subset
        else {
            name: bench_one(
                name,
                runs=3 if name in SECONDARY_HEAVY else 5,
                include_build=True,
            )
            for name in SECONDARY
        }
    )
    try:
        loadavg_end = os.getloadavg()
    except OSError:
        loadavg_end = (-1.0, -1.0, -1.0)
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "secondary": secondary,
                "loadavg": [round(x, 2) for x in loadavg],
                "loadavg_end": [round(x, 2) for x in loadavg_end],
                "runs": runs_used,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


def session():
    """The benchmark session: local[$SPARK_GRAFT_CPUS] (default: the
    host's CPU count) with one shuffle partition per core."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("delta_lake_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


if __name__ == "__main__":
    main()
