"""sf1 scaling harness: time bench.py's sf1 sweep once at the current
core count (`SPARK_GRAFT_CPUS`, the same env the bench honors) and write
the per-query timings and weather probes to a JSON file. Run it twice,
e.g. SPARK_GRAFT_CPUS=4 and =2, and compare the files for per-query
scaling ratios; the sf0.1 section cannot show parallelism (per-query
work is seconds over megabytes, so scheduling overhead ≈ the
parallelism win), the sf1 section can.

It calls bench.py's own `pretouch` and `sweep` on the registry's
sf1=True queries, so the query set, drain modes, re-runs and weather
gate are the sf1 section's. `--rerun` overrides the slow-tail re-run
count. Measurement tool only — not part of the bench contract.

Usage: SPARK_GRAFT_CPUS=N python tools/sf1scale.py OUT.json [--rerun M] [--only q1,q2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF1_RERUN, SF1_WEATHER_RERUN, pretouch, sweep  # noqa: E402
from grafink_spark.benchqueries import REGISTRY  # noqa: E402
from grafink_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--rerun", type=int, default=SF1_RERUN)
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated subset (e.g. the big sf1 rows) — scaling "
        "ratios only need the rows where parallelism can show",
    )
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    spark = get_spark("sf1scale")
    spark.sparkContext.setLogLevel("ERROR")

    from grafink_spark.sfgen import ensure

    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR") or ensure()
    pretouch(spark, sf1_dir)

    names = [n for n, q in REGISTRY.items() if q.sf1]
    if args.only:
        wanted = {n.strip() for n in args.only.split(",") if n.strip()}
        names = [q for q in names if q in wanted]

    memw: list[dict] = []
    timings, samples, _, _ = sweep(
        spark,
        sf1_dir,
        names,
        memw,
        passes=1,
        rerun_n=args.rerun,
        weather_cap=SF1_WEATHER_RERUN,
        tag="sf1",
    )
    out = {
        "cpus": cpus,
        "sf1_dir": sf1_dir,
        "total": round(sum(timings.values()), 3),
        "queries": timings,
        "samples": samples,
        "memweather": memw,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"cpus": cpus, "total": out["total"], "n": len(timings)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
