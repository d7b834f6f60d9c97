"""Single-query re-measurement with bench.py's exact methodology
(same session conf, same warmup, same memo clearing, same best-of-N
noop timing) for fast optimize-measure loops.

Usage: python tools/mini_bench.py q139_ivfpq_topk q145_ivfpq_residual ...
Flags: --runs N (default 5), --build (time construction too, like the
secondary rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bench import SECONDARY, HEADLINE
    from delta_lake_spark.queries import QUERIES

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 5
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
        args = [a for a in args if a != str(runs)]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("delta_lake_spark-minibench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000_000).groupBy((F.col("id") % 7).alias("k")).count().collect()

    from delta_lake_spark.operators._cache import clear_session_caches
    from delta_lake_spark.queries._fixtures import clear_fixture_memo

    out = {}
    for name in args:
        fn = QUERIES[name]
        include_build = "--build" in sys.argv or name in SECONDARY
        best = None
        for _ in range(runs):
            clear_session_caches(spark)
            clear_fixture_memo()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if not include_build:
                t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
        out[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s", file=sys.stderr)
    print(json.dumps({"queries": out, "loadavg": [round(x, 2) for x in os.getloadavg()]}))
    spark.stop()


if __name__ == "__main__":
    main()
