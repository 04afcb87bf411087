"""How ``daily`` latency grows with the pings: the sizing check.

Run from the repository root (about four minutes on 4 cores):

    python3 perfbench/scaling.py --seed 1

In one session it writes raw zones of 1x, 2x and 4x the benchmark's
polls (same lines and vehicles), warms up with 4 ops on the 1x zone,
then runs ``run_daily`` over every zone in turn for 3 rounds and prints
the median latency per zone and its ratio to the 1x zone.  If data work
dominated, 2x pings would take nearly 2x the latency.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import run

SCALES = (1, 2, 4)
WARMUP_OPS = 4
ROUNDS = 3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    sys.path.insert(0, run.ROOT)
    import gen
    from workloads import Daily

    from etl_olho_vivo_spark.caching import release_session_caches
    from etl_olho_vivo_spark.plans.daily import run_daily

    work = os.path.join(run.HERE, ".work", f"scaling-{os.getpid()}")
    os.makedirs(work)
    spark = run.start_session(work, len(os.sched_getaffinity(0)))
    try:
        pings = {}
        for x in SCALES:
            pings[x] = gen.write_raw_zone(
                os.path.join(work, f"raw{x}"), args.seed, Daily.n_lines,
                Daily.vehicles_per_line, Daily.n_polls * x).num_rows

        def op(x: int) -> float:
            out = os.path.join(work, "out")
            t = time.perf_counter()
            run_daily(spark, os.path.join(work, f"raw{x}"), out)
            lat = time.perf_counter() - t
            release_session_caches()
            shutil.rmtree(out)
            return lat

        for _ in range(WARMUP_OPS):
            op(1)
        lat = {x: [] for x in SCALES}
        for _ in range(ROUNDS):
            for x in SCALES:
                lat[x].append(op(x))
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    base = statistics.median(lat[1])
    for x in SCALES:
        med = statistics.median(lat[x])
        print(f"{x}x  pings={pings[x]}  latency_p50_s={med:.3f}  "
              f"ratio={med / base:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
