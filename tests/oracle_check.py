"""Local replica of the driver's duckdb-oracle correctness gate.

Runs every ``queries()`` entry through Spark AND its ``oracle_sql()``
twin through DuckDB at a given sf dir, compares row counts, column
names, and order-insensitive values (floats to 9 significant digits).

Each oracle runs under a cap: DuckDB's memory limit is ORACLE_MEMORY and
an oracle still running after ORACLE_TIMEOUT_S seconds is interrupted.
A capped query is reported as CAPPED, apart from value failures, and
also makes the exit status nonzero.

    python tests/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import threading

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from grafink_spark.session import get_spark  # noqa: E402
from grafink_spark.sources.tables import TABLES  # noqa: E402

ORACLE_MEMORY = "3GB"
ORACLE_TIMEOUT_S = 120.0


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return float(f"{v:.9g}")
        if isinstance(v, int):
            return float(v) if abs(v) < 2**52 else v
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{ORACLE_MEMORY}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures, capped = [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows ✓")
            continue
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except (duckdb.InterruptException, duckdb.OutOfMemoryException) as e:
            capped.append(name)
            print(f"{name:24s} CAPPED {type(e).__name__}: {str(e)[:120]}")
            continue
        finally:
            timer.cancel()
        status = []
        if sorted(scols) != sorted(ocols):
            status.append(f"SCHEMA spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            status.append(f"ROWCOUNT spark={len(srows)} oracle={len(orows)}")
        if not status:
            ns, no = normalize(srows, scols), normalize(orows, ocols)
            if ns != no:
                diff = [
                    (a, b) for a, b in zip(ns, no) if a != b
                ][:3]
                status.append(f"VALUES first-diffs={diff}")
        if status:
            failures.append(name)
            print(f"{name:24s} FAIL  {' | '.join(status)}")
        else:
            print(f"{name:24s} OK    {len(srows)} rows")
    print()
    if failures:
        print(f"FAILED: {failures}")
    if capped:
        print(
            f"CAPPED ({ORACLE_TIMEOUT_S:.0f} s / {ORACLE_MEMORY}): {capped}"
        )
    if failures or capped:
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
