"""Decompose a query's wall into BUILD (DataFrame construction:
py4j plan assembly + any gated plan-build collects) and EXEC, with an
optional cProfile of the build.  Prints one row per run, then the best
wall and the best build, each taken over all runs.  Usage:

    python tools/build_profile.py quantile dedup_documents [--profile]
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from flox_spark.session import get_spark


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_profile = "--profile" in sys.argv
    names = args or ["quantile"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    spark = get_spark("build_profile")
    qs = entrymod.queries()
    force(qs["sum"](spark, sf_dir))  # warm

    for name in names:
        walls, builds = [], []
        for _ in range(n_runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            builds.append(time.perf_counter() - t0)
            force(df)
            walls.append(time.perf_counter() - t0)
        for i, (w, b) in enumerate(zip(walls, builds)):
            print(f"{name:22s} run={i} wall={w:.3f}s build={b:.3f}s exec={w - b:.3f}s")
        # best-of-N of each quantity on its own: build and exec can
        # anti-correlate across runs (JIT, cache warm-up), so the build
        # of the best-wall run is not the best build
        print(f"{name:22s} best wall={min(walls):.3f}s best build={min(builds):.3f}s")
        if do_profile:
            spark.catalog.clearCache()
            pr = cProfile.Profile()
            pr.enable()
            qs[name](spark, sf_dir)
            pr.disable()
            s = io.StringIO()
            ps = pstats.Stats(pr, stream=s).sort_stats("cumulative")
            ps.print_stats(28)
            print(s.getvalue())
            # py4j round trips: calls into the command channel
            s2 = io.StringIO()
            ps2 = pstats.Stats(pr, stream=s2)
            ps2.print_stats("send_command")
            print("\n".join(s2.getvalue().splitlines()[:12]))


if __name__ == "__main__":
    main()
