"""Time driver-side plan CONSTRUCTION per headline query (no action).

    python tools/construct_profile.py [--reps N] [--cprofile QUERY] [q1 q2 ...]

Constructs each query's DataFrame repeatedly (after one warm construct
so schema memos / UDF registrations are primed) and reports the min and
median milliseconds per construction.  With --cprofile, dumps the top
cumulative entries for one query's construction loop instead.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from spatialdata_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 5
    cprof = None
    names: list[str] = []
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif a == "--cprofile":
            cprof = args[i + 1]
            i += 2
        else:
            names.append(a)
            i += 1
    spark = get_spark("construct-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if not names:
        import bench

        names = list(bench.HEADLINE)

    if cprof:
        import cProfile
        import pstats

        fn = qs[cprof]
        fn(spark, sf_dir)  # warm
        pr = cProfile.Profile()
        pr.enable()
        for _ in range(3):
            fn(spark, sf_dir)
        pr.disable()
        st = pstats.Stats(pr)
        st.sort_stats("cumulative").print_stats(35)
        return

    for name in names:
        fn = qs[name]
        fn(spark, sf_dir)  # warm (schema memo, UDF registration)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            times.append(time.perf_counter() - t0)
        print(
            f"{name:32s} {min(times)*1000:8.1f} ms/construct min"
            f" {statistics.median(times)*1000:8.1f} median"
        )
    spark.stop()


if __name__ == "__main__":
    main()
