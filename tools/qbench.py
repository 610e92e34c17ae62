"""Single-query A/B timer for the optimization rounds: bench.py's
exact methodology (registry build + noop sink, min/median of REPS,
steal sampled) restricted to the named queries, so a change can be
measured back-to-back without paying the full suite. ``build_jobs`` is
the median Spark job count of one fresh build plus noop, so a
build-path change shows the layer it moved without a perfbench run.

    python tools/qbench.py query [query ...]

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import REPS, rep_times, run_query, steal_ticks  # noqa: E402
from map_reduce_sf_crime_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark("qbench")
    st0, tot0 = steal_ticks()
    run_query(spark, "awk_totals", sf_dir)  # JVM/codegen warmup
    out: dict[str, dict] = {}
    for name in names:
        spark.catalog.clearCache()
        runs = rep_times(spark, name, sf_dir)
        jobs: list[int] = []
        runs_b = rep_times(spark, name, sf_dir, fresh_build=True, jobs=jobs)
        out[name] = {
            "min": round(runs[0], 3),
            "median": round(runs[len(runs) // 2], 3),
            "build_min": round(runs_b[0], 3),
            "build_median": round(runs_b[len(runs_b) // 2], 3),
            "build_jobs": sorted(jobs)[len(jobs) // 2],
        }
    st1, tot1 = steal_ticks()
    steal = round(100.0 * (st1 - st0) / max(1, tot1 - tot0), 2)
    print(json.dumps({"queries": out, "reps": REPS, "steal_pct": steal}))
    spark.stop()


if __name__ == "__main__":
    main()
