"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see README.md in this directory) for ``--seconds`` of
timed passes and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the per-layer
metrics of a traced run. A ``# details`` line before it carries sample
counts, tails, host facts and the workload's own figures.

The run happens in a child process; this one waits for it and then for
every process it left behind (see supervise.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, supervise  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None, help="also write the spans and jobs as JSON here")
    args = ap.parse_args(argv)

    # fail fast, before any set-up, when the engine is not beside us
    import delta_lake_spark  # noqa: F401

    units = declared(bool(args.trace))

    load_start = harness.loadavg()
    scratch = harness.Scratch()
    spark = None
    try:
        t0 = time.perf_counter()
        tracer = None
        spark = harness.start_session(scratch, event_log=bool(args.trace))
        harness.redirect_registry_scratch(scratch)
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, scratch, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        harness.log(f"setup {setup_s:.3f}s")
        wl.measure(args.seconds)
        wl.finish()
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": harness.cores(),
            "loadavg_start": load_start,
            "versions": harness.versions(spark),
            "passes": len(wl.passes),
            "pass_s": [round(x, 6) for x in wl.passes],
            "pass_cpu_s": [round(x, 3) for x in wl.pass_cpu],
            # wall-time medians: steady only on a quiet host (README.md)
            "pass_p50_s": round(harness.median(wl.passes), 6),
            "op_p50_s": round(harness.median(wl.timings(wl.primary)), 6),
            "op_cpu_p50_s": round(harness.median(wl.timings(wl.primary, key="cpu")), 3),
            **wl.details(),
        }
        rss = harness.peak_rss_mb()
        event_dir = scratch.sub("events")
        harness.stop_session(spark)
        spark = None
        info["loadavg_end"] = harness.loadavg()
        if tracer is None:
            measured = {"setup_s": setup_s, **wl.end_to_end(), "peak_rss_mb": rss}
        else:
            from perfbench import trace

            folded = tracer.fold(wl, trace.read_event_log(event_dir))
            info["trace"] = folded["report"]
            measured = folded["metrics"]
            if args.trace_out:
                with open(args.trace_out, "w") as fh:
                    json.dump(folded["dump"], fh)
        metrics = {k: {"value": measured[k], "unit": u} for k, u in units.items()}
        failed = len(wl.failures)
        print("# details " + json.dumps(info, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": wl.attempted(),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        scratch.close()


if __name__ == "__main__":
    if os.environ.get(supervise.CHILD_ENV):
        sys.exit(main())
    # the run itself goes in a child, so that whatever way it ends, the JVM
    # and every other process it started have ended when this one exits
    sys.exit(supervise.run([os.path.abspath(__file__), *sys.argv[1:]], harness.remove_scratch))
