"""Robust per-key timing probe: round-robin N laps over the listed keys in
one bench-protocol session (warm_cache; --cold evicts every memo before
each key run), report per-key min/median — the measurement loop for
optimization work on a box with hypervisor CPU steal (single best-of-1
readings spike 3-10x).

Usage: python tools/probe_keys.py [--laps N] [--sf DIR] key [key ...]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time

REPO = "/root/repo"
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--laps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--cold",
        action="store_true",
        help="evict every operator memo (memo.evict) before each key run "
        "so every lap pays the bench-cold construction cost",
    )
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    from fits2db_spark import memo
    from fits2db_spark.registry import all_queries
    from fits2db_spark.session import get_spark
    from fits2db_spark.tables import warm_cache

    spark = get_spark("fits2db_spark_probe", shuffle_partitions=8)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_cache(spark, args.sf, partitions=8)

    qs = all_queries()
    times: dict[str, list[float]] = {k: [] for k in args.keys}
    for lap in range(args.laps):
        for name in args.keys:
            if args.cold:
                memo.evict()
            spark.sparkContext.setJobDescription(f"probe[{lap}]: {name}")
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            times[name].append(round(dt, 3))
            print(f"lap {lap} {name:28s} {dt:7.3f}s", flush=True)
    memo.evict()
    out = {
        k: {"runs": v, "min": min(v), "median": statistics.median(v)}
        for k, v in times.items()
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
