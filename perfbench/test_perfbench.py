"""Self-test of the benchmark's own parts: span recording and folding,
event-log job attribution, the run supervisor, the medallion output invariants (one small
Spark run at sf0.001) and the small-files lookups against DuckDB.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, trace  # noqa: E402
from perfbench.workloads import gold_matches  # noqa: E402


class FakeWorkload:
    def __init__(self, ops=()):
        self.ops = list(ops)

    def layer_counts(self):
        return {}


def span(id_, parent, layer, start, end, op="g1"):
    s = trace.Span(id_, parent, layer, f"{layer}:f{id_}", start, op, True)
    s.end = end
    return s


OPS = [
    {"label": "q", "traced": False, "s": 2.0, "pass": 0},  # warm-up pass: left out
    {"label": "q", "traced": True, "s": 1.1, "pass": 1},
    {"label": "q", "traced": False, "s": 1.0, "pass": 2},
]


def test_fold_self_and_inclusive_time():
    spans = [
        span(0, None, "table", 0.0, 10.0),
        span(1, 0, "writer", 2.0, 5.0),
        span(2, 1, "table", 3.0, 4.0),  # re-entry: not added to table.incl_s again
        span(3, None, "spark", 10.0, 11.0),
    ]
    m = trace.fold(spans, [("g1", 0.0, 11.5)], [], [], FakeWorkload(OPS))["metrics"]
    assert m["table.calls"] == 2
    assert m["table.incl_s"] == pytest.approx(10.0)
    assert m["table.self_s"] == pytest.approx(7.0 + 1.0)
    assert m["writer.incl_s"] == pytest.approx(3.0)
    assert m["writer.self_s"] == pytest.approx(2.0)
    assert m["spark.self_s"] == pytest.approx(1.0)
    assert m["trace.overhead_pct"] == pytest.approx(10.0)


def test_hook_records_public_calls_with_parent_links(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "table.py").write_text(
        "from . import writer\n"
        "def merge():\n    return _plan() + writer.stage()\n"
        "def _plan():\n    return writer.stage()\n"
    )
    (pkg / "writer.py").write_text("def stage():\n    return 1\n")
    (pkg / "__init__.py").write_text("")
    spec = importlib.util.spec_from_file_location(
        "pkg", pkg / "__init__.py", submodule_search_locations=[str(pkg)]
    )
    sys.modules["pkg"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sys.modules["pkg"])
    from pkg import table

    tr = trace.Tracer(pkg_dir=str(pkg))
    tr.begin_op("g1")
    assert table.merge() == 2
    tr.end_op()
    # _plan is private: both writer calls hang off merge's span
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("table:merge", None), ("writer:stage", 0), ("writer:stage", 0)
    ]
    assert all(s.end >= s.start and s.op == "g1" for s in tr.spans)
    assert tr.ops[0][0] == "g1"


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def _job_start(jid, submit_ms, group):
    return _event("SparkListenerJobStart", **{
        "Job ID": jid, "Submission Time": submit_ms, "Stage IDs": [jid],
        "Properties": {"spark.jobGroup.id": group},
    })


def test_event_log_jobs_go_to_innermost_open_span(tmp_path):
    log_dir = tmp_path / "events"
    log_dir.mkdir()
    (log_dir / "app-1").write_text(
        _job_start(0, 3500, "g1")
        + _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 250, "JVM GC Time": 5, "Memory Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}})
        + _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3900})
        + _job_start(1, 10500, "g1")
        + _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 10900})
        + _job_start(2, 50000, "other")
    )
    jobs = trace.read_event_log(str(log_dir))
    assert [j["id"] for j in jobs] == [0, 1, 2]
    assert jobs[0]["task_s"] == pytest.approx(0.25) and jobs[0]["shuffle_bytes"] == 100
    spans = [span(0, None, "table", 0.0, 10.0), span(1, 0, "writer", 2.0, 5.0),
             span(2, None, "spark", 10.0, 11.0)]
    ops = [("g1", 0.0, 11.5)]
    owners = trace.attribute(jobs, ops, spans)
    assert owners[0].layer == "writer" and owners[1].layer == "spark"
    assert 2 not in owners  # another operation's job
    m = trace.fold(spans, ops, [(3.0, 4.0), (4.5, 4.6)], jobs, FakeWorkload(OPS))["metrics"]
    assert m["writer.jobs"] == 1 and m["writer.task_s"] == pytest.approx(0.25)
    assert m["spark.jobs"] == 1 and m["spark.spill_bytes"] == 7
    assert m["spark.action_s"] == pytest.approx(0.8)
    assert m["driver.py4j_calls"] == 2
    # py4j time while a job ran is not the driver's own
    assert m["driver.self_s"] == pytest.approx(1.1 - 0.4)


def test_datagen_is_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (tmp_path / n for n in "abc")
    datagen.generate(str(a), 5, 0.001)
    datagen.generate(str(b), 5, 0.001)
    datagen.generate(str(c), 6, 0.001)
    for t in datagen.TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet")), t
    assert not pq.read_table(a / "lineitem.parquet").equals(pq.read_table(c / "lineitem.parquet"))


def test_supervisor_ends_what_the_run_leaves_behind(tmp_path):
    pid_file = tmp_path / "orphan.pid"
    leave = tmp_path / "leave.py"
    leave.write_text(
        "import subprocess, sys\n"
        "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(600)'])\n"
        f"open({str(pid_file)!r}, 'w').write(str(p.pid))\n"
        "sys.exit(3)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"import sys; from perfbench import supervise; sys.exit(supervise.run([{str(leave)!r}]))"
    rc = subprocess.run([sys.executable, "-c", code], cwd=root, timeout=60).returncode
    assert rc == 3
    assert not os.path.exists(f"/proc/{int(pid_file.read_text())}")


def test_gold_matches_counts_exactly_and_floats_closely():
    class Row:
        def __init__(self, n, avg, mx, std):
            self.n, self.avg_reading, self.max_reading, self.std_reading = n, avg, mx, std

    want = [("click", 3, 1.5, 2.0, 0.5)]
    assert gold_matches({"click": Row(3, 1.5 + 1e-12, 2.0, 0.5)}, want)
    assert not gold_matches({"click": Row(4, 1.5, 2.0, 0.5)}, want)
    assert not gold_matches({"click": Row(3, 1.6, 2.0, 0.5)}, want)
    assert not gold_matches({"view": Row(3, 1.5, 2.0, 0.5)}, want)


@pytest.fixture(scope="module")
def session():
    from perfbench import harness

    scratch = harness.Scratch()
    spark = harness.start_session(scratch, event_log=False)
    try:
        yield spark, scratch
    finally:
        harness.stop_session(spark)
        scratch.close()


@pytest.fixture(scope="module")
def medallion(session):
    from perfbench.workloads import MedallionIncremental

    wl = MedallionIncremental(*session, seed=3)
    wl.sf, wl.min_passes = 0.001, 1
    wl.setup()
    wl.measure(0)
    return wl


def test_medallion_invariants_hold_then_catch_a_bad_silver_row(medallion):
    from pyspark.sql import functions as F

    from delta_lake_spark import read_delta, write_delta

    wl = medallion
    wl.finish()
    assert wl.failures == [], wl.failures
    assert wl.landed_days == 2 and len(wl.passes) == 1
    # one extra silver row without a user must trip two invariants
    silver = wl.paths["silver"]
    bad = read_delta(wl.spark, silver).limit(1).withColumn("user_id", F.lit(None).cast("long"))
    write_delta(bad, silver, mode="append")
    wl.finish()
    assert any("silver rows" in f for f in wl.failures)
    assert any("null user_id" in f for f in wl.failures)


def test_medallion_pass_restores_the_day0_tables(medallion):
    from delta_lake_spark import read_delta

    wl = medallion
    wl.prepare_pass(1)
    assert read_delta(wl.spark, wl.paths["silver"]).count() == int(wl.day_start[1])
    wl.run_pass(1)
    wl.finish()
    assert [o["label"] for o in wl.ops].count("batch") == 2


def test_small_files_lookups_match_duckdb_then_catch_a_hidden_delete(session):
    from delta_lake_spark import DeltaLog, DeltaTable
    from perfbench.workloads import SmallFilesLookup

    wl = SmallFilesLookup(*session, seed=4)
    wl.rows, wl.commits, wl.files_per_commit = 4_000, 3, 4
    wl.setup()
    wl.measure(0)
    wl.finish()
    assert wl.failures == [], wl.failures
    assert DeltaLog(wl.path).snapshot().num_files == 12
    assert wl.latest == 4 and len(wl.dead) == 2  # one delete in set-up, one in the pass
    assert sorted(o["label"] for o in wl.ops) == ["delete", "point", "range", "time_travel"]
    # a delete the oracle does not know about must fail the end check
    key = next(int(k) for k in wl.keys if int(k) not in wl.dead)
    DeltaTable.forPath(wl.spark, wl.path).delete(f"l_orderkey = {key}")
    wl.finish()
    assert any("table holds" in f for f in wl.failures)
