"""Per-query timing probe for optimization work: runs the named
catalog queries N times each on one warm session (bench.py's exact
action: construct + bench.execute) and prints per-query min/median
plus the Spark job count of one execution — the fast,
noise-resistant way to A/B a single operator without a full catalog
pass. Usage:

    python tools/time_query.py [--repeat N] [--sf DIR] query [query...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import execute  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from simpleetlpipeline_spark.plans import catalog
    from simpleetlpipeline_spark.session import get_spark

    spark = get_spark("time-query")
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up surface as bench.py
    catalog.QUERIES["top_products"](spark, args.sf).collect()

    def steal() -> int:
        with open("/proc/stat") as fh:
            v = fh.readline().split()[1:]
        return int(v[7]) if len(v) > 7 else 0

    tracker = spark.sparkContext.statusTracker()
    for name in args.queries:
        fn = catalog.QUERIES[name]
        samples = []
        s0 = steal()
        jobs0 = len(tracker.getJobIdsForGroup(None))
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            execute(fn(spark, args.sf))
            samples.append(time.perf_counter() - t0)
        jobs = (len(tracker.getJobIdsForGroup(None)) - jobs0) / args.repeat
        s1 = steal()
        print(f"{name}: min={min(samples):.3f} "
              f"median={statistics.median(samples):.3f} "
              f"jobs/run={jobs:.1f} steal_jiffies={s1 - s0} "
              f"samples={[round(x, 3) for x in samples]}")
    spark.stop()


if __name__ == "__main__":
    main()
