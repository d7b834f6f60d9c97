"""Build-phase job gate: the Spark jobs each headline query runs while
it is built (before its action), pinned in ``build_jobs.json``. A query
that starts running a job at build time (a schema inference, a count
probe, a driver collect) fails here until the change is justified and
the JSON updated.

Counted as the benchmark counts them: the session's memos cleared
first, then one job group around the build, read back through the
status tracker. Regenerate the JSON with
``python tests/test_build_jobs.py`` (prints it)."""

import itertools
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import HEADLINE  # noqa: E402

PINNED = os.path.join(HERE, "build_jobs.json")
with open(PINNED) as _fh:
    PIN = json.load(_fh)
SF_DIR = PIN["sf_dir"]  # the inputs the counts were taken on
_GROUPS = itertools.count()


def jobs_during(spark, label, fn):
    """(fn(), number of Spark jobs fn ran on this thread)."""
    sc = spark.sparkContext
    group = f"build_jobs:{label}:{next(_GROUPS)}"
    sc.setJobGroup(group, label)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def build_jobs(spark, name: str) -> int:
    from delta_lake_spark.operators._cache import clear_session_caches
    from delta_lake_spark.queries import QUERIES
    from delta_lake_spark.queries._fixtures import clear_fixture_memo
    from delta_lake_spark.queries.llm import clear_funnel_memo

    clear_funnel_memo(spark)
    clear_session_caches(spark)
    clear_fixture_memo()
    return jobs_during(spark, name, lambda: QUERIES[name](spark, SF_DIR))[1]


def test_pinned_set_is_the_headline():
    assert sorted(PIN["build_jobs"]) == sorted(HEADLINE)


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_build_jobs(spark, name):
    assert build_jobs(spark, name) == PIN["build_jobs"][name]


def test_read_delta_with_deletion_vector_builds_without_jobs(spark, tmp_table):
    from delta_lake_spark import DeltaTable, read_delta, write_delta

    write_delta(spark.range(100).withColumn("v", F.col("id") * 2), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("id % 10 = 3", use_dv=True)
    dt.delete("id % 10 = 4", use_dv=True)  # folds the first sidecar in
    assert any(a.deletionVector for a in dt._log.snapshot().files.values())

    df, jobs = jobs_during(spark, "read_delta_dv", lambda: read_delta(spark, tmp_table))
    assert jobs == 0
    assert df.count() == 80


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    counts = {name: build_jobs(spark, name) for name in HEADLINE}
    print(json.dumps({"sf_dir": SF_DIR, "build_jobs": counts}, indent=2))
    spark.stop()
