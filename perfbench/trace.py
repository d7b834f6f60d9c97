"""Traced mode: spans, py4j calls and Spark jobs, folded into per-layer
metrics.

- Spans: a ``sys.setprofile`` hook records one span per call into a
  public (no ``_`` or ``<`` in its qualified name) function or method of
  a ``delta_lake_spark`` module, with its layer, name, start, end, parent
  span and operation. Calls the benchmark makes straight into the
  PySpark API (its actions) are spans of layer ``spark``. Spans stay in
  memory until the run ends.
- py4j: the gateway client's ``send_command`` is wrapped to record each
  call's interval (layer ``driver``).
- Spark jobs: read from the event log after the session stops; each job
  is charged to the innermost main-thread span open when it was
  submitted, or to ``spark`` when none was.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from .harness import BENCH_DIR, median

LAYERS = [
    "log", "skipping", "reader", "writer", "table", "pipeline",
    "queries", "operators", "streaming", "driver", "spark",
]
# package modules outside the named layers, folded into the layer that calls them
_FOLD = {
    "stats": "writer", "rowtracking": "table", "zorder": "table", "catalog": "table",
    "sql": "table", "cdf": "reader", "avro": "reader", "errors": "table",
}
_PYSPARK = ("spark", None)


def layer_of(rel_path: str) -> str:
    """Layer of a module path relative to the package directory."""
    head = rel_path.split(os.sep)[0]
    name = head[:-3] if head.endswith(".py") else head
    if name in LAYERS:
        return name
    return _FOLD.get(name, "table")


class Span:
    __slots__ = ("id", "parent", "layer", "name", "start", "end", "op", "main")

    def __init__(self, id_, parent, layer, name, start, op, main):
        self.id, self.parent, self.layer, self.name = id_, parent, layer, name
        self.start, self.end, self.op, self.main = start, None, op, main

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, pkg_dir: str | None = None, api_dir: str | None = None) -> None:
        if pkg_dir is None:
            import delta_lake_spark
            import pyspark

            pkg_dir = os.path.dirname(delta_lake_spark.__file__)
            api_dir = os.path.dirname(pyspark.__file__)
        self.pkg = pkg_dir + os.sep
        self.api = (api_dir + os.sep) if api_dir else None
        self.bench = BENCH_DIR + os.sep
        self.spans: list[Span] = []
        self.ops: list[tuple[str, float, float]] = []
        self.py4j: list[tuple[float, float]] = []
        self._codes: dict = {}
        self._stacks: dict[int, list] = {}
        self._main = threading.main_thread().ident
        self._op: str | None = None
        self._op_start = 0.0
        if spark is not None:
            self._wrap_py4j(spark.sparkContext._gateway._gateway_client)

    def _wrap_py4j(self, client) -> None:
        send = client.send_command
        calls = self.py4j

        def send_command(*args, **kwargs):
            if self._op is None:
                return send(*args, **kwargs)
            t0 = time.time()
            try:
                return send(*args, **kwargs)
            finally:
                calls.append((t0, time.time()))

        client.send_command = send_command

    # ---- span recording ----
    def _classify(self, code):
        path = code.co_filename
        if path.startswith(self.pkg):
            qual = code.co_qualname
            if any(part[:1] in "_<" for part in qual.split(".")):
                return None
            rel = path[len(self.pkg):]
            return (layer_of(rel), rel[:-3].replace(os.sep, ".") + ":" + qual)
        if self.api and path.startswith(self.api):
            return _PYSPARK
        return None

    def _hook(self, frame, event, arg):
        if event == "call":
            code = frame.f_code
            try:
                info = self._codes[code]
            except KeyError:
                info = self._codes[code] = self._classify(code)
            if info is None:
                return
            tid = threading.get_ident()
            stack = self._stacks.setdefault(tid, [])
            if info is _PYSPARK:
                caller = frame.f_back
                if stack or caller is None or not caller.f_code.co_filename.startswith(self.bench):
                    return
                info = ("spark", "pyspark:" + code.co_qualname)
            span = Span(
                len(self.spans), stack[-1][1].id if stack else None, info[0], info[1],
                time.time(), self._op, tid == self._main,
            )
            self.spans.append(span)
            stack.append((frame, span))
        elif event == "return":
            stack = self._stacks.get(threading.get_ident())
            if stack and stack[-1][0] is frame:
                stack.pop()[1].end = time.time()

    def begin_op(self, op: str) -> None:
        self._op, self._op_start = op, time.time()
        threading.setprofile(self._hook)
        sys.setprofile(self._hook)

    def end_op(self) -> None:
        sys.setprofile(None)
        threading.setprofile(None)
        now = time.time()
        for stack in self._stacks.values():
            for _frame, span in stack:
                span.end = now
            stack.clear()
        self.ops.append((self._op, self._op_start, now))
        self._op = None

    # ---- folding ----
    def fold(self, wl, jobs: list[dict]) -> dict:
        return fold(self.spans, self.ops, self.py4j, jobs, wl)


def read_event_log(event_dir: str) -> list[dict]:
    """Jobs from every Spark event log under ``event_dir``: id, job
    group, submit/end (epoch s) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    keep = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"')
    files = sorted(os.path.join(r, n) for r, _d, ns in os.walk(event_dir) for n in ns)
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not any(k in line[:60] for k in keep):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                else:
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return sorted(jobs.values(), key=lambda j: j["id"])


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _overlap(a: float, b: float, merged: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in merged)


def attribute(jobs: list[dict], ops: list[tuple[str, float, float]], spans: list[Span]) -> dict[int, Span | None]:
    """Job id -> innermost main-thread span open at its submission (None
    when no span was open), for jobs of traced operations only. A job
    belongs to an operation by its job group, or, when it carries none,
    by submission time."""
    by_op: dict[str, list[Span]] = {}
    for s in spans:
        if s.main:
            by_op.setdefault(s.op, []).append(s)
    out: dict[int, Span | None] = {}
    for j in jobs:
        owner = None
        for op, a, b in ops:
            if j["group"] == op or (j["group"] is None and a <= j["submit"] <= b):
                owner = op
                break
        if owner is None:
            continue
        best = None
        for s in by_op.get(owner, ()):
            # event-log times are whole milliseconds
            if s.start - 0.001 <= j["submit"] <= s.end and (best is None or s.start >= best.start):
                best = s
        out[j["id"]] = best
    return out


def fold(spans: list[Span], ops, py4j, jobs: list[dict], wl) -> dict:
    by_id = {s.id: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.dur
    layer = {name: {"calls": 0, "incl_s": 0.0, "self_s": 0.0, "jobs": 0, "task_s": 0.0,
                    "shuffle_bytes": 0} for name in LAYERS}
    for s in spans:
        m = layer[s.layer]
        m["calls"] += 1
        m["self_s"] += s.dur - child_s.get(s.id, 0.0)
        p = by_id.get(s.parent)
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent)
        if p is None:  # outermost span of its layer on this stack
            m["incl_s"] += s.dur

    owners = attribute(jobs, ops, spans)
    traced_jobs = [j for j in jobs if j["id"] in owners]
    build = [s for s in spans if s.main and s.parent is None and s.layer == "queries"]
    build_jobs = 0
    for j in traced_jobs:
        span = owners[j["id"]]
        m = layer[span.layer if span is not None else "spark"]
        m["jobs"] += 1
        m["task_s"] += j["task_s"]
        m["shuffle_bytes"] += j["shuffle_bytes"]
        if any(b.start - 0.001 <= j["submit"] <= b.end for b in build):
            build_jobs += 1
    running = _union([(j["submit"], j["end"]) for j in traced_jobs if j["end"] is not None])
    py4j_s = sum(b - a for a, b in py4j)
    layer["driver"].update(
        calls=len(py4j), incl_s=py4j_s, self_s=py4j_s - sum(_overlap(a, b, running) for a, b in py4j)
    )

    extra = {
        "driver.py4j_calls": len(py4j),
        "spark.action_s": sum(b - a for a, b in running),
        "spark.gc_s": sum(j["gc_s"] for j in traced_jobs),
        "spark.spill_bytes": sum(j["spill_bytes"] for j in traced_jobs),
        "queries.build_s": sum(s.dur for s in build),
        "queries.build_jobs": build_jobs,
        **wl.layer_counts(),
    }
    # overhead: per operation label, median traced time against median
    # untraced time, summed over the labels that have both; pass 0 is
    # left out, as it still carries JVM warm-up
    by_label: dict[str, tuple[list, list]] = {}
    for o in wl.ops:
        if o["pass"] == 0:
            continue
        by_label.setdefault(o["label"], ([], []))[o["traced"]].append(o["s"])
    pairs = [(median(u), median(t)) for u, t in by_label.values() if u and t]
    untraced, traced = sum(u for u, _ in pairs), sum(t for _, t in pairs)
    extra["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced

    # accounting: each traced operation's wall time against its
    # top-level spans plus the time outside any span
    acct = []
    for op, a, b in ops:
        top = sum(s.dur for s in spans if s.op == op and s.main and s.parent is None)
        acct.append({"op": op, "op_s": round(b - a, 6), "top_spans_s": round(top, 6),
                     "outside_s": round(b - a - top, 6)})
    op_total = sum(x["op_s"] for x in acct)
    metrics = {f"{name}.{k}": v for name, m in layer.items() for k, v in m.items()}
    metrics.update(extra)
    report = {
        "layers": {k: round(v, 6) if isinstance(v, float) else v for k, v in metrics.items()},
        "traced_ops": len(ops),
        "spans": len(spans),
        "jobs": len(traced_jobs),
        "overhead_pairs": len(pairs),
        "paired_untraced_s": round(untraced, 6),
        "paired_traced_s": round(traced, 6),
        "top_spans_share": round(sum(x["top_spans_s"] for x in acct) / op_total, 6) if op_total else None,
        "worst_op_outside_share": round(max((x["outside_s"] / x["op_s"] for x in acct if x["op_s"]), default=0.0), 6),
    }
    dump = {
        "spans": [[s.id, s.parent, s.layer, s.name, s.start, s.end, s.op, s.main] for s in spans],
        "ops": ops, "jobs": traced_jobs, "accounting": acct,
    }
    return {"metrics": metrics, "report": report, "dump": dump}
