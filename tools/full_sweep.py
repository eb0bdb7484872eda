"""Full correctness sweep: runs EVERY queries() entry against its
oracle_sql() twin with the driver's compare protocol (row count + schema
+ order-insensitive canonical value compare), at the given sf dir.

Tier-1 checks each query against its twin at sf0.001/sf0.01; this is
the one-command sweep of all of them at a larger scale factor (run it
at sf0.1 whenever query or oracle code changes). Usage:

    python tools/full_sweep.py [sf_dir] [name ...]

Prints one line per query and a final "N/N green" summary; exit code 1
on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))


def sweep(sf_dir: str, only: set[str] | None = None, spark=None) -> int:
    """Run the sweep against ``sf_dir``; reusable by other tools (the
    empty-corpus sweep builds a zero-row twin dir and calls this)."""
    only = only or set()

    import duckdb

    import __spark_entry__ as entrymod
    from streaming_data_pipeline_spark.session import get_spark
    from tests.conftest import canon, oracle_df

    if spark is None:
        spark = get_spark(app_name="full-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must never produce a silently-green sweep
        sys.exit(f"unknown query name(s): {sorted(unknown)}")
    ran = 0
    bad: list[str] = []
    for name, q in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.perf_counter()
        try:
            got = q(spark, sf_dir).toPandas()
            sql = oracles.get(name)
            if sql is None:
                status = f"rows_only({len(got)})"
            else:
                want = oracle_df(con, sql, sf_dir)
                if len(got) != len(want):
                    status = f"ROWS {len(got)}!={len(want)}"
                    bad.append(name)
                elif sorted(got.columns) != sorted(want.columns):
                    status = f"SCHEMA {sorted(got.columns)}!={sorted(want.columns)}"
                    bad.append(name)
                else:
                    g, w = canon(got), canon(want)
                    if g != w:
                        i = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
                        status = f"VALUES row{i}: spark={g[i]} duck={w[i]}"
                        bad.append(name)
                    else:
                        status = f"ok({len(got)})"
        except Exception:
            status = "ERR " + traceback.format_exc().strip().splitlines()[-1]
            bad.append(name)
        finally:
            spark.catalog.clearCache()
        print(f"{name:45s} {time.perf_counter() - t0:7.2f}s  {status}", flush=True)

    print(f"\n{ran - len(bad)}/{ran} green" + (f"; RED: {bad}" if bad else ""))
    spark.stop()
    return 1 if bad else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    return sweep(sf_dir, set(sys.argv[2:]))


if __name__ == "__main__":
    raise SystemExit(main())
