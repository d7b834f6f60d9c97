"""The benchmark's workloads. Each one is a closed loop: one client
issues one operation at a time, and every timed operation starts with
the engine's memos cleared. The first operation of each kind runs
untimed during set-up."""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback

import numpy as np
from bench import HEADLINE  # the pinned headline mix; the repo root is on sys.path

from . import datagen
from .harness import ROOT, JobCounter, clear_caches, cpu_s, geomean, log, median, summary

# counts a traced run reads from the benchmark's own tables (DeltaLog
# snapshots, history and listings, outside the timed window)
COUNT_KEYS = (
    "table.files_rewritten", "table.bytes_rewritten", "writer.files_added",
    "writer.bytes_written", "log.tail_commits", "log.checkpoints",
    "skipping.files_total", "skipping.files_scanned",
)


class Workload:
    """Shared loop: ``setup`` (untimed first operations and output
    checks), then whole passes of ``run_pass`` for about ``seconds``,
    each after an untimed ``prepare_pass``, then ``finish`` (end-of-run
    checks)."""

    primary = ""  # operation kind whose median is op_p50_s
    min_passes = 1
    traced_passes = 4  # see measure()

    def __init__(self, spark, scratch, seed: int, tracer=None) -> None:
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.tracer = tracer
        self.jobs = JobCounter(spark)
        self.ops: list[dict] = []
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []  # CPU seconds of each pass
        self.failures: list[str] = []
        self.checked = 0
        self._first_jobs: dict[str, int] = {}
        self._pass = 0
        self.tracing = False  # whether the running (or last) operation is traced
        self.counts = dict.fromkeys(COUNT_KEYS, 0)

    # ---- hooks ----
    def setup(self) -> None:
        raise NotImplementedError

    def prepare_pass(self, index: int) -> None:
        pass

    def run_pass(self, index: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def details(self) -> dict:
        return {}

    # ---- shared machinery ----
    def fail(self, what: str) -> None:
        log(f"FAILED {what}")
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> bool:
        """An output check outside the timed window."""
        self.checked += 1
        if not ok:
            self.fail(what)
        return ok

    def op(self, kind: str, label: str, fn, timed: bool = True):
        """Run one operation under its own job group; time it when
        ``timed``. Returns fn's result, or None when it raised. In a
        traced run the odd passes are traced whole, so every operation
        has traced and untraced samples and each traced pass holds the
        same mix."""
        clear_caches(self.spark)
        group = self.jobs.begin(label)
        tracing = self.tracing = (
            timed and self.tracer is not None and self._pass % 2 == 1
        )
        c0 = cpu_s()  # outside the traced window: reading /proc is not the op's
        if tracing:
            self.tracer.begin_op(group)
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception as e:  # counted in failed, run continues
            out, ok = None, False
            log(traceback.format_exc())
            self.fail(f"{label}: {type(e).__name__}: {str(e)[:300]}")
        dt = time.perf_counter() - t0
        if tracing:
            self.tracer.end_op()
        cpu = cpu_s() - c0
        n_jobs = self.jobs.jobs(group)
        if timed:
            first = self._first_jobs.setdefault(label, n_jobs)
            if n_jobs < first:  # a memo the clear calls missed served it
                ok = False
                self.fail(f"{label}: {n_jobs} Spark jobs, first timed run had {first}")
            self.ops.append(
                {"kind": kind, "label": label, "s": dt, "cpu": cpu, "ok": ok,
                 "jobs": n_jobs, "traced": tracing, "pass": self._pass}
            )
        return out

    def measure(self, seconds: float) -> None:
        """Whole passes, ending as near ``seconds`` of pass time as whole
        passes allow: another pass starts while half a median pass more
        stays within ``seconds``. ``min_passes`` at least, and
        ``traced_passes`` in a traced run: with four, after pass 0 (still
        warming up) an untraced pass sits between two traced ones, so
        steady warm-up drift cancels out of the tracing overhead."""
        need = max(self.min_passes, self.traced_passes if self.tracer is not None else 1)
        while self._pass < need or sum(self.passes) + median(self.passes) / 2 < seconds:
            self.prepare_pass(self._pass)
            t0, c0 = time.perf_counter(), cpu_s()
            self.run_pass(self._pass)
            self.passes.append(time.perf_counter() - t0)
            self.pass_cpu.append(cpu_s() - c0)
            self._pass += 1

    # ---- counts a traced run reads from the tables ----
    def _count_commits(self, path: str, v0: int, v1: int) -> None:
        """Files and bytes each commit in (v0, v1] added, and removed by
        a rewrite (MERGE / DELETE / UPDATE), plus checkpoints written."""
        from delta_lake_spark import DeltaLog

        log_ = DeltaLog(path)
        kind = {h["version"]: h.get("operation") for h in log_.history()}
        prev = log_.snapshot(v0).files if v0 >= 0 else {}
        c = self.counts
        for v in range(v0 + 1, v1 + 1):
            cur = log_.snapshot(v).files
            added = [a.size for p, a in cur.items() if p not in prev]
            c["writer.files_added"] += len(added)
            c["writer.bytes_written"] += sum(added)
            if kind.get(v) in ("MERGE", "DELETE", "UPDATE"):
                removed = [a.size for p, a in prev.items() if p not in cur]
                c["table.files_rewritten"] += len(removed)
                c["table.bytes_rewritten"] += sum(removed)
            prev = cur
        c["log.checkpoints"] += sum(1 for v in _checkpoints(path) if v0 < v <= v1)

    def _count_tail(self, path: str, version: int) -> None:
        """JSON commits a cold read of ``version`` replays after its
        nearest checkpoint."""
        base = max((v for v in _checkpoints(path) if v <= version), default=-1)
        self.counts["log.tail_commits"] += version - base

    def _count_skipping(self, path: str, predicate: str) -> None:
        """Files a predicate read of the latest version keeps, of all."""
        from delta_lake_spark import DeltaLog, read_delta

        self.counts["skipping.files_total"] += DeltaLog(path).snapshot().num_files
        self.counts["skipping.files_scanned"] += len(
            read_delta(self.spark, path, predicate=predicate).inputFiles()
        )

    def timings(self, kind: str | None = None, traced: bool = False, key: str = "s") -> list[float]:
        """Wall seconds (or, with ``key="cpu"``, CPU seconds) of the timed
        operations of ``kind``."""
        return [o[key] for o in self.ops if o["traced"] == traced and kind in (None, o["kind"])]

    def layer_counts(self) -> dict:
        return dict(self.counts)

    def attempted(self) -> int:
        return len(self.ops) + self.checked

    def end_to_end(self) -> dict:
        return {
            "pass_cpu_s": median(self.pass_cpu),
            # a median of 16 queries hinges on the two in the middle, whose
            # noise it passes on whole; a geometric mean spreads it over all
            # and still weighs each operation's relative change the same
            "op_cpu_gmean_s": geomean(self.timings(self.primary, key="cpu")),
        }


class HeadlineQueries(Workload):
    """The 16 pinned headline queries, each timed end to end (build plus
    a ``noop`` write), in a seed-shuffled order per pass."""

    primary = "query"
    sf = 0.01
    # a traced pass takes about 20 s, so four would bring a run near the
    # 180 s it may take; pass 0 comes after the untimed oracle pass and
    # is already warm, so three leave little drift
    traced_passes = 3

    def setup(self) -> None:
        from delta_lake_spark.queries import ORACLE_SQL, QUERIES

        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import oracle_harness

        self.queries = QUERIES
        self.sf_dir = self.scratch.sub(f"sf{self.sf}")
        datagen.generate(self.sf_dir, self.seed, self.sf)
        con = oracle_harness.duckdb_con(self.sf_dir)
        # first run of each query: untimed, and compared with its oracle
        for name in HEADLINE:
            def first(name=name):
                df = self.queries[name](self.spark, self.sf_dir)
                return oracle_harness.gate_record(df, con, ORACLE_SQL[name])

            got = self.op("query", name, first, timed=False)
            rec, msg = got if got is not None else ({}, "raised")
            self.check(
                bool(rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match")),
                f"{name} oracle: {msg}",
            )
        con.close()

    def run_pass(self, index: int) -> None:
        order = list(HEADLINE)
        random.Random(self.seed * 1009 + index).shuffle(order)
        for name in order:
            self.op(
                "query", name,
                lambda name=name: self.queries[name](self.spark, self.sf_dir)
                .write.format("noop").mode("overwrite").save(),
            )

    def details(self) -> dict:
        return {
            "sf": self.sf, "sf_dir": self.sf_dir, "query": summary(self.timings("query")),
            "query_p50_s": {q: round(median([o["s"] for o in self.ops if o["label"] == q and not o["traced"]]), 6)
                            for q in HEADLINE},
        }


class MedallionIncremental(Workload):
    """One day of events per operation through raw -> bronze -> silver
    (quarantine split, status MERGE, repair) -> gold, with seeded
    lookups between batches. Set-up lands day 0 untimed and saves the
    tables; every timed batch lands day 1 onto the saved tables, restored
    before each pass, so each sample does the same work."""

    primary = "batch"
    min_passes = 2
    sf = 0.1
    days = 30
    stages = ("raw", "bronze", "silver", "status", "repair", "gold")

    def setup(self) -> None:
        import pyarrow.parquet as pq

        n = datagen.counts(self.sf)["events"]
        table = datagen.events_table(self.seed, n, 1500)
        self.src = self.scratch.sub("src", "events.parquet")
        os.makedirs(os.path.dirname(self.src))
        pq.write_table(table, self.src)
        self.user_of = table.column("user_id").to_numpy()
        ts = table.column("ts").cast("int64").to_numpy()
        self.day0 = int(ts.min()) // 86_400_000_000 * 86_400_000_000
        self.day_rows = np.bincount((ts - self.day0) // 86_400_000_000, minlength=self.days)
        # events are in time order, so each day is a contiguous id range
        self.day_start = np.concatenate([[0], np.cumsum(self.day_rows)])
        self.null_offset = self.seed % 17  # every 17th row loses its user_id
        self.dir = self.scratch.sub("medallion")
        self.saved = self.scratch.sub("medallion_day0")
        self.paths = {z: os.path.join(self.dir, z) for z in ("raw", "bronze", "silver", "gold")}
        self.rng = random.Random(self.seed)
        self.landed_days = 0
        self.bronze_counts: dict[int, int] = {}  # version -> rows at commit
        self.stage_s: dict[str, list[float]] = {s: [] for s in self.stages}
        self.traced_stage_s: dict[str, list[float]] = {s: [] for s in self.stages}
        self.batch(0, timed=False)
        self.lookups(timed=False)
        shutil.copytree(self.dir, self.saved)
        self.saved_counts = dict(self.bronze_counts)

    def prepare_pass(self, index: int) -> None:
        """Put the tables back as they were with day 0 landed."""
        shutil.rmtree(self.dir)
        shutil.copytree(self.saved, self.dir)
        self.landed_days = 1
        self.bronze_counts = dict(self.saved_counts)

    def run_pass(self, index: int) -> None:
        self.batch(1, timed=True)
        self.lookups(timed=True)

    # ---- the ETL operation ----
    def _day(self, day: int):
        lo, hi = int(self.day_start[day]), int(self.day_start[day + 1])
        return self.spark.read.parquet(self.src).filter(f"event_id >= {lo} AND event_id < {hi}")

    def _etl(self, day: int, timed: bool) -> None:
        from pyspark.sql import functions as F

        from delta_lake_spark.pipeline import operations as ops

        p = self.paths
        times: dict[str, float] = {}

        def stage(name, fn):
            t0 = time.perf_counter()
            fn()
            times[name] = time.perf_counter() - t0

        events = self._day(day)
        raw_day = os.path.join(p["raw"], f"day={day:02d}")
        corrupted = events.withColumn(
            "user_id",
            F.when((F.col("event_id") + self.null_offset) % 17 == 0, F.lit(None)).otherwise(
                F.col("user_id")
            ),
        )
        stage("raw", lambda: ops.make_raw_json(corrupted).write.mode("overwrite").text(raw_day))
        stage("bronze", lambda: ops.batch_writer(
            ops.transform_raw(ops.read_batch_raw(self.spark, raw_day)), partition_column="p_ingestdate"
        )(p["bronze"]))
        parts = {}

        def silver():
            parts["clean"], parts["quarantined"] = ops.split_clean_quarantine(
                ops.transform_bronze(ops.read_batch_bronze(self.spark, p["bronze"]))
            )
            ops.batch_writer(parts["clean"], partition_column="p_eventdate", exclude_columns=["value"])(
                p["silver"]
            )

        stage("silver", silver)

        def status():
            ops.update_bronze_table_status(self.spark, p["bronze"], parts["clean"].select("value"), "loaded")
            ops.update_bronze_table_status(
                self.spark, p["bronze"], parts["quarantined"].select("value"), "quarantined"
            )

        stage("status", status)

        def repair():
            repaired = ops.repair_quarantined(self.spark, p["bronze"], events.select("event_id", "user_id"))
            ops.batch_writer(repaired, partition_column="p_eventdate", exclude_columns=["value"])(p["silver"])
            ops.update_bronze_table_status(self.spark, p["bronze"], repaired.select("value"), "loaded")

        stage("repair", repair)

        def gold():
            g = ops.read_batch_delta(self.spark, p["silver"]).groupBy("event_type").agg(
                F.count("*").alias("n"),
                F.avg("reading").alias("avg_reading"),
                F.max("reading").alias("max_reading"),
                F.stddev("reading").alias("std_reading"),
            )
            ops.batch_writer(g)(p["gold"], mode="overwrite")

        stage("gold", gold)
        if timed:
            into = self.traced_stage_s if self.tracing else self.stage_s
            for k, v in times.items():
                into[k].append(v)

    def batch(self, day: int, timed: bool) -> None:
        tables = ("bronze", "silver", "gold")
        before = {t: _latest(self.paths[t]) for t in tables}
        self.op("batch", "batch", lambda: self._etl(day, timed), timed=timed)
        self.landed_days += 1
        after = {t: _latest(self.paths[t]) for t in tables}
        for v in range(before["bronze"] + 1, after["bronze"] + 1):
            self.bronze_counts[v] = int(self.day_start[self.landed_days])
        if self.tracing:
            for t in tables:
                self._count_commits(self.paths[t], before[t], after[t])

    def layer_counts(self) -> dict:
        out = super().layer_counts()
        for k, v in self.traced_stage_s.items():
            out[f"pipeline.{k}_s"] = median(v) if v else 0.0
        return out

    # ---- seeded lookups ----
    def lookups(self, timed: bool) -> None:
        from delta_lake_spark import read_delta

        landed = int(self.day_start[self.landed_days])
        key = self.rng.randrange(landed)
        got = self.op(
            "lookup", "silver_point",
            lambda: read_delta(self.spark, self.paths["silver"], predicate=f"event_id = {key}")
            .filter(f"event_id = {key}").select("user_id").collect(),
            timed=timed,
        )
        self.check(
            got is not None and [r.user_id for r in got] == [int(self.user_of[key])],
            f"silver point read of event {key}: {got}",
        )
        if self.tracing:
            silver = self.paths["silver"]
            self._count_skipping(silver, f"event_id = {key}")
            self._count_tail(silver, _latest(silver))
        latest = max(self.bronze_counts)
        version = self.rng.choice([v for v in sorted(self.bronze_counts) if v < latest] or [latest])
        got = self.op(
            "lookup", "bronze_time_travel",
            lambda: read_delta(self.spark, self.paths["bronze"], version=version).count(),
            timed=timed,
        )
        self.check(
            got == self.bronze_counts[version],
            f"bronze@v{version} count {got} != {self.bronze_counts[version]}",
        )
        if self.tracing:
            self._count_tail(self.paths["bronze"], version)
        got = self.op(
            "lookup", "gold_read",
            lambda: read_delta(self.spark, self.paths["gold"]).collect(), timed=timed,
        )
        self.check(got is not None and len(got) == 5, f"gold read returned {got}")
        if self.tracing:
            self._count_tail(self.paths["gold"], _latest(self.paths["gold"]))

    # ---- end-of-run invariants ----
    def finish(self) -> None:
        import duckdb

        from delta_lake_spark import read_delta

        landed = int(self.day_start[self.landed_days])
        silver = read_delta(self.spark, self.paths["silver"])
        self.check(silver.count() == landed, f"silver rows != {landed} landed events")
        self.check(silver.filter("user_id IS NULL").count() == 0, "silver has null user_id")
        left = read_delta(self.spark, self.paths["bronze"]).filter(
            "status IN ('new', 'quarantined')"
        ).count()
        self.check(left == 0, f"{left} bronze rows left new or quarantined")
        gold = {r.event_type: r for r in read_delta(self.spark, self.paths["gold"]).collect()}
        con = duckdb.connect()
        want = con.execute(
            f"""SELECT event_type, count(*), avg(value), max(value), stddev_samp(value)
            FROM read_parquet('{self.src}') WHERE event_id < {landed} GROUP BY 1"""
        ).fetchall()
        con.close()
        self.check(gold_matches(gold, want), f"gold != DuckDB aggregate: {gold} vs {want}")

    def details(self) -> dict:
        batch_s = self.timings("batch")
        return {
            "batch": summary(batch_s),
            "lookup": summary(self.timings("lookup")),
            # events landed in silver per second of untraced batch time
            "events_per_s": round(int(self.day_rows[1]) / median(batch_s), 3) if batch_s else None,
            "bytes_per_live_byte": round(bytes_per_live_byte(self.paths.values()), 6),
            "stage_p50_s": {k: round(median(v), 6) for k, v in self.stage_s.items() if v},
        }


class SmallFilesLookup(Workload):
    """A lineitem table of many small files over many commits, built in
    set-up through ``write_delta`` and sorted by ``l_orderkey``, read by
    seeded point, ~5% range and time-travel point lookups through
    ``read_delta(predicate=...)``. Each pass also deletes one order (a
    GDPR-style delete that rewrites the file holding it), so the log
    keeps growing past its checkpoints as under real deletes."""

    primary = "lookup"
    rows = 200_000
    commits = 10
    files_per_commit = 24
    columns = "l_linenumber, l_quantity, l_extendedprice"

    def setup(self) -> None:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from delta_lake_spark import write_delta

        self.order_keys = self.rows // 4
        table = datagen.lineitem_table(self.seed, self.rows, self.order_keys, 20_000, 1_000)
        table = table.sort_by("l_orderkey")
        per_file = -(-self.rows // (self.commits * self.files_per_commit))
        self.per_commit = per_file * self.files_per_commit
        # the version that added each row: commit c holds rows [c * per_commit, (c + 1) * per_commit)
        added = np.minimum(np.arange(self.rows) // self.per_commit, self.commits - 1)
        src = self.scratch.sub("lineitem_src")
        for i in range(0, self.rows, per_file):
            d = os.path.join(src, f"c{added[i]:03d}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(table.slice(i, per_file), os.path.join(d, f"part-{i:07d}.parquet"))
        self.path = self.scratch.sub("lineitem_delta")
        t0 = time.perf_counter()
        # each input file alone fills a read task, so each becomes one table file
        self.spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))
        try:
            for c in range(self.commits):
                write_delta(self.spark.read.parquet(os.path.join(src, f"c{c:03d}")), self.path)
        finally:
            self.spark.conf.unset("spark.sql.files.openCostInBytes")
        log(f"built {self.commits} commits of {self.files_per_commit} files in {time.perf_counter() - t0:.3f}s")
        self.keys = table.column("l_orderkey").to_numpy()
        self.con = duckdb.connect()
        self.con.register("li", table.append_column("v", pa.array(added)))
        self.latest = self.commits - 1
        self.dead: dict[int, int] = {}  # order key -> version that deleted it
        self.rng = random.Random(self.seed)
        self.run_pass(-1, timed=False)

    def run_pass(self, index: int, timed: bool = True) -> None:
        self.delete(timed)
        kinds = [self.point, self.range, self.time_travel]
        random.Random(self.seed * 1009 + index).shuffle(kinds)
        for lookup in kinds:
            lookup(timed)

    def _live_key(self) -> int:
        while True:
            key = int(self.keys[self.rng.randrange(self.rows)])
            if key not in self.dead:
                return key

    def _oracle(self, select: str, predicate: str, version: int) -> list[tuple]:
        """DuckDB over the rows live at ``version``."""
        dead = [k for k, v in self.dead.items() if v <= version]
        gone = f" AND l_orderkey NOT IN ({', '.join(map(str, dead))})" if dead else ""
        return self.con.execute(
            f"SELECT {select} FROM li WHERE v <= {version} AND {predicate}{gone}"
        ).fetchall()

    def _read(self, label: str, predicate: str, version: int | None, timed: bool,
              shape=lambda df: df.selectExpr(*SmallFilesLookup.columns.split(", ")),
              select: str = columns) -> None:
        """One lookup, timed as an operation, then checked against DuckDB:
        ``shape`` makes the Spark result, ``select`` the DuckDB one."""
        from delta_lake_spark import read_delta

        got = self.op(
            "lookup", label,
            lambda: shape(read_delta(self.spark, self.path, version=version, predicate=predicate)
                          .filter(predicate)).collect(),
            timed=timed,
        )
        at = self.latest if version is None else version
        want = self._oracle(select, predicate, at)
        self.check(
            got is not None and sorted(map(tuple, got)) == sorted(want),
            f"{label} lookup {predicate} @v{at}: {got} != DuckDB {want}",
        )
        if self.tracing:
            if version is None:
                self._count_skipping(self.path, predicate)
            self._count_tail(self.path, at)

    def point(self, timed: bool) -> None:
        key = self._live_key()
        self._read("point", f"l_orderkey = {key}", None, timed)

    def range(self, timed: bool) -> None:
        from pyspark.sql import functions as F

        width = self.order_keys // 20
        lo = self.rng.randrange(self.order_keys - width)
        self._read(
            "range", f"l_orderkey >= {lo} AND l_orderkey < {lo + width}", None, timed,
            shape=lambda df: df.agg(F.count("*"), F.sum("l_quantity")),
            select="count(*), sum(l_quantity)",
        )

    def time_travel(self, timed: bool) -> None:
        # a version before the last set-up commit, and a key it holds
        version = self.rng.randrange(self.commits - 1)
        key = int(self.keys[self.rng.randrange((version + 1) * self.per_commit)])
        self._read("time_travel", f"l_orderkey = {key}", version, timed)

    def delete(self, timed: bool) -> None:
        from delta_lake_spark import DeltaTable

        key = self._live_key()
        before = self.latest
        got = self.op(
            "delete", "delete",
            lambda: DeltaTable.forPath(self.spark, self.path).delete(f"l_orderkey = {key}"),
            timed=timed,
        )
        after = _latest(self.path)
        if self.check(got == after == before + 1, f"delete of order {key}: v{got}, log at v{after}"):
            self.dead[key] = after
        self.latest = after
        if self.tracing:
            self._count_commits(self.path, before, after)

    def finish(self) -> None:
        from delta_lake_spark import read_delta

        got = read_delta(self.spark, self.path).count()
        want = self._oracle("count(*)", "true", self.latest)[0][0]
        self.check(got == want, f"table holds {got} rows, DuckDB {want}")

    def details(self) -> dict:
        from delta_lake_spark import DeltaLog

        return {
            "lookup": summary(self.timings("lookup")),
            "lookup_by_kind": {k: summary([o["s"] for o in self.ops if o["label"] == k and not o["traced"]])
                               for k in ("point", "range", "time_travel")},
            "delete": summary(self.timings("delete")),
            "files": DeltaLog(self.path).snapshot().num_files,
            "table_versions": self.latest + 1,
            "checkpoints": _checkpoints(self.path),
        }


def gold_matches(gold: dict, want: list[tuple]) -> bool:
    """Gold rows against (event_type, n, avg, max, stddev) tuples: counts
    exact, floats to a relative 1e-9."""
    if sorted(gold) != sorted(w[0] for w in want):
        return False
    for et, n, avg, mx, std in want:
        g = gold[et]
        if g.n != n:
            return False
        for a, b in ((g.avg_reading, avg), (g.max_reading, mx), (g.std_reading, std)):
            if abs(a - b) > 1e-9 * max(1.0, abs(b)):
                return False
    return True


def _latest(path: str) -> int:
    from delta_lake_spark import DeltaLog

    log_ = DeltaLog(path)
    return log_.latest_version() if log_.exists() else -1


def _checkpoints(path: str) -> list[int]:
    """Versions with a checkpoint file in the table's log."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        return []
    return sorted({int(n[:20]) for n in os.listdir(log_dir) if ".checkpoint." in n and n[:20].isdigit()})


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


def bytes_per_live_byte(table_paths) -> float:
    """Bytes on disk under the tables (data plus _delta_log) over the
    bytes of the files live at their latest version."""
    from delta_lake_spark import DeltaLog

    disk = live = 0
    for path in table_paths:
        log_ = DeltaLog(path)
        if not log_.exists():
            continue
        disk += _dir_bytes(path)
        live += log_.snapshot().size_bytes
    return disk / live


WORKLOADS = {
    "headline_queries": HeadlineQueries,
    "medallion_incremental": MedallionIncremental,
    "small_files_lookup": SmallFilesLookup,
}
