"""Capture .explain("formatted") for bench queries into OUT_DIR/<query>.txt,
built on bench.py's session so the captured plan is the benched plan.

Usage: python tools/plan_capture.py OUT_DIR [query ...]
(default query set = bench.py HEADLINE + SECONDARY; inputs from
$SPARK_GRAFT_SF_DIR, with bench.py's default). A per-query summary of
exchanges, Python nodes and joins goes to stderr. The pinned plan
shapes the tests check are in tests/plan_shapes.json.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SECONDARY, session  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    from delta_lake_spark.queries import QUERIES

    out_dir = sys.argv[1]
    names = sys.argv[2:] or (HEADLINE + SECONDARY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    spark = session()

    for name in names:
        fn = QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # capture the failure, keep going
            text = f"PLAN CAPTURE FAILED: {e!r}\n"
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_exch = text.count("Exchange")
        n_py = sum(
            text.count(t)
            for t in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                      "FlatMapGroupsInPandas", "MapInArrow")
        )
        joins = [
            t for t in ("BroadcastHashJoin", "SortMergeJoin",
                        "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                        "CartesianProduct")
            if t in text
        ]
        print(f"{name}: exchanges={n_exch} python_nodes={n_py} "
              f"joins={joins} -> {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
