"""Time individual registered queries with the bench methodology.

Usage: python scripts/time_query.py <query> [query ...] [--runs N] [--sf DIR]

Same timed region as bench.py's _time_query (build the DataFrame, collect
the final result, Spark cache cleared before every run) so numbers are
directly comparable with BENCH records; prints each sample plus the median.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalake_on_prem_system_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    runs, sf_dir, names = 3, "/root/testdata/sf0.1", []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs, i = int(args[i + 1]), i + 2
        elif args[i] == "--sf":
            sf_dir, i = args[i + 1], i + 2
        else:
            names.append(args[i])
            i += 1
    spark = get_spark(app_name="time_query")
    qs = entry_mod.queries()
    for name in names:
        fn = qs[name]
        samples = []
        steals = []
        for _ in range(runs):
            bench._reset_memoized_work(spark)
            s0 = bench._read_steal_jiffies()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = len(df.collect())
            samples.append(time.perf_counter() - t0)
            s1 = bench._read_steal_jiffies()
            steals.append(None if s0 is None or s1 is None else s1 - s0)
        med = sorted(samples)[len(samples) // 2]
        print(
            f"{name}: median {med:.3f}s of {runs} "
            f"({[round(s, 3) for s in samples]}, {n} rows, "
            f"steal_jiffies={steals})"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
