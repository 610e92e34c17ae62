"""Capture `.explain("formatted")` for every bench query into
plans/<round>/<query>_<tag>.txt — an optimization round's before/after
plan evidence (checkable without running Spark).

Usage: python tools/round_plans.py <round> before|after [query ...]
e.g.   python tools/round_plans.py r12 after weekly_report

Runs with SPARK_GRAFT_NO_CHECKPOINT=1 (the documented plan-audit knob:
a checkpointed query otherwise explains as one LogicalRDD scan) so the
captured plan is the BUILD plan — pushed filters, join strategy,
exchanges — which is what optimization claims are checked against.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

os.environ["SPARK_GRAFT_NO_CHECKPOINT"] = "1"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from map_reduce_sf_crime_spark.plans.registry import REGISTRY  # noqa: E402
from map_reduce_sf_crime_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    round_tag = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"{round_tag}_plans")
    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({tag}, sf_dir={sf_dir}) ==\n\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
