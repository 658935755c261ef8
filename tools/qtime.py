"""Targeted per-query timing harness for optimization work.

Usage: python tools/qtime.py q1 q2 ... [--sf DIR] [--reps N] [--plan]

Times each named registry query (plan + execute, noop drain — the
bench's run_once methodology) REPS times in one session and prints all
samples. --plan additionally writes .explain("formatted") to stdout.
Not part of the bench contract; a measurement tool only.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from grafink_spark.benchqueries import QUERIES  # noqa: E402
from grafink_spark.session import get_spark  # noqa: E402
from grafink_spark.sources.tables import load_table  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", action="store_true")
    args = ap.parse_args()

    spark = get_spark("grafink-qtime")
    spark.sparkContext.setLogLevel("ERROR")
    # warm JVM + page cache the same way bench.py does
    load_table(spark, args.sf, "orders").agg(F.max("o_orderkey")).collect()
    for name in args.names:
        fn = QUERIES[name]
        if args.plan:
            print(f"==== PLAN {name} ====")
            print(fn(spark, args.sf)._jdf.queryExecution().explainString("formatted"))
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: {samples} min={min(samples)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
