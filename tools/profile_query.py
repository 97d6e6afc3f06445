"""Per-query profiling harness for the optimization rounds.

Times individual catalog queries with the noop sink (best-of-N) at a
given SF dir, and optionally dumps `.explain("formatted")` to
plans/r12/<query>_<tag>.txt so before/after plan shapes are committed
evidence.

Usage:
  python tools/profile_query.py [--sf DIR] [--runs N] [--explain TAG] q1 q2 ...

Prints one line per query:  <best>s  <runs...>  <name>
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_energy_tracker_spark.queries import catalog  # noqa: E402
from etl_energy_tracker_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="dump explain('formatted') to plans/<round>/<q>_<TAG>.txt")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--plandir", default="r13", help="plans/<plandir>/ for --explain dumps")
    args = ap.parse_args()

    spark = get_spark("profile")
    qs = catalog.queries()
    if not args.no_warm:
        qs["q6_forecast_revenue"](spark, args.sf).write.mode(
            "overwrite"
        ).format("noop").save()

    for name in args.queries:
        fn = qs[name]
        if args.explain:
            plandir = os.path.join(ROOT, "plans", args.plandir)
            os.makedirs(plandir, exist_ok=True)
            df = fn(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plandir, f"{name}_{args.explain}.txt"), "w") as f:
                f.write(txt)
        runs = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        print(
            f"{min(runs):8.3f}s  [{' '.join(f'{r:.3f}' for r in runs)}]  {name}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
