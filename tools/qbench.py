"""Per-query micro-bench with bench.py methodology: flagship warm-up,
min-of-N noop-sink timing, storage release between runs; optional
formatted-plan capture.

Usage:
  python tools/qbench.py [--sf DIR] [--reps N] [--plan OUTDIR] q_name [q_name ...]

Prints one line per query: name, min sec, all reps. With --plan, writes
<OUTDIR>/<q>_plan.txt containing df.explain("formatted") output.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None, help="dir to write formatted plans")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from sandbox_data_pipeline_spark.plans.flagship import flagship_query
    from sandbox_data_pipeline_spark.queries import registry
    from sandbox_data_pipeline_spark.session import get_spark, release_storage

    spark = get_spark("qbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry()

    flagship_query(spark, args.sf).write.format("noop").mode("overwrite").save()

    for name in args.names:
        if name == "flagship":
            build = lambda: flagship_query(spark, args.sf)  # noqa: E731
        elif name in queries:
            build = lambda n=name: queries[n](spark, args.sf)  # noqa: E731
        else:
            print(f"{name}: NOT IN REGISTRY")
            continue
        reps = []
        try:
            for _ in range(args.reps):
                t0 = time.time()
                df = build()
                df.write.format("noop").mode("overwrite").save()
                reps.append(time.time() - t0)
                release_storage(spark)
            if args.plan:
                os.makedirs(args.plan, exist_ok=True)
                df = build()
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(args.plan, f"{name}_plan.txt"), "w") as f:
                    f.write(buf.getvalue())
                release_storage(spark)
            print(
                f"{name}: min={min(reps):.3f}s reps="
                + ",".join(f"{r:.3f}" for r in reps),
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}", flush=True)
            release_storage(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
