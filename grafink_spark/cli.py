"""CLI — mirrors the reference's scopt surface (core/CLParser.scala:40-81):

    grafink --config conf.json --startdate 2019-02-01 --duration 1 [--delete]

Defaults: startdate = yesterday, duration = 1; duration validated 1..7
(CLParser.scala:66-69). Exit codes follow the reference taxonomy
(errors.py).
"""

from __future__ import annotations

import argparse
import logging
import sys
from datetime import date, datetime, timedelta

from grafink_spark.config import GrafinkConfig
from grafink_spark.errors import BadArgumentsException, exit_code_for
from grafink_spark.job import Job
from grafink_spark.session import apply_runtime_conf, get_spark


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="grafink-spark")
    p.add_argument("--config", required=True)
    p.add_argument(
        "--startdate",
        default=(date.today() - timedelta(days=1)).isoformat(),
        help="YYYY-MM-DD (default: yesterday)",
    )
    p.add_argument("--duration", type=int, default=1)
    p.add_argument("--delete", action="store_true")
    args = p.parse_args(argv)
    if not (1 <= args.duration <= 7):
        raise BadArgumentsException("duration must be within 1..7")
    return args


def main(argv: list[str] | None = None) -> int:
    try:
        args = parse_args(argv if argv is not None else sys.argv[1:])
        config = GrafinkConfig.load(args.config)
        start = datetime.strptime(args.startdate, "%Y-%m-%d").date()
        # the job's per-night phase record (job.py) goes to stderr
        logging.basicConfig(format="%(message)s")
        logging.getLogger("grafink_spark").setLevel(logging.INFO)
        spark = get_spark("grafink-spark-job", extra_conf=config.spark)
        apply_runtime_conf(spark, config.spark)
        job = Job(spark, config)
        if args.delete:
            job.delete(start, args.duration)
        else:
            job.process(start, args.duration)
        return 0
    except SystemExit as e:  # argparse
        return int(e.code or 2)
    except BaseException as e:  # noqa: BLE001 — map to exit-code taxonomy
        print(f"error: {e}", file=sys.stderr)
        return exit_code_for(e)


if __name__ == "__main__":
    sys.exit(main())
