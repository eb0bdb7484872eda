"""Per-query profiler for the optimization rounds (guide §1).

Times each named query in isolation with the noop sink (min-of-N after a
cold run, caches cleared between runs — the bench's methodology) and
optionally dumps `.explain("formatted")` to <plans dir>/<name>_<suffix>.txt
so plan-shape claims are checkable without running Spark.

Usage:
    python tools/profile_queries.py [--plans <dir> --suffix before]
        [--reps 2] [--sf /root/testdata/sf0.1] [name ...]

With no names: the full bench HEADLINE list.
Prints one line per query: name, cold, steady(min), exchange count and
Python-node count.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--plans", default=None, help="dir to dump explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None, help="write timings JSON here")
    args = ap.parse_args()

    from streaming_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="profile-queries")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    import bench

    qs = entry_mod.queries()
    names = args.names or [n for n in bench.HEADLINE if n in qs]

    # Warm up JVM/codegen/footer cache like the bench does.
    _force(qs["event_type_rollup"](spark, args.sf))
    spark.catalog.clearCache()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    results: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        # Plan capture (pre-execution, AQE initial plan).
        df = fn(spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        n_python = len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        )
        if args.plans:
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        spark.catalog.clearCache()

        t0 = time.perf_counter()
        _force(fn(spark, args.sf))
        cold = time.perf_counter() - t0
        spark.catalog.clearCache()
        steady = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            _force(fn(spark, args.sf))
            steady = min(steady, time.perf_counter() - t0)
            spark.catalog.clearCache()
        results[name] = {
            "cold": round(cold, 3),
            "steady": round(steady, 3),
            "exchanges": n_exchange,
            "python_nodes": n_python,
        }
        print(
            f"{name:42s} cold={cold:7.2f}  steady={steady:7.2f}  "
            f"exch={n_exchange:2d}  py={n_python}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    total = round(sum(v["steady"] for v in results.values()), 2)
    print(f"TOTAL steady {total}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
