"""Round-14 optimization profiler: time individual registered queries
through the noop sink (guide §1.4) and dump their .explain("formatted")
plans for the plans/r14/ evidence directory.

Usage:
  python tools/profile_queries.py [--plans DIR [--suffix before|after]]
      [--passes N] [--sf SF_DIR] query [query ...]

Each query is timed --passes times (default 3) through
``df.write.format("noop").mode("overwrite").save()`` with persistent
blocks dropped between passes (same hygiene as bench.py); prints
per-pass seconds plus min/median. With --plans the formatted explain of
each query goes to DIR/<query>_<suffix>.txt.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from roapi_spark.plans.registry import load_all  # noqa: E402
from roapi_spark.session import get_spark  # noqa: E402
from roapi_spark.util import drop_persistent_blocks  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "before"
    passes = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif a == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif a == "--passes":
            passes = int(args[i + 1])
            i += 2
        elif a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(a)
            i += 1

    specs = load_all()
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("profile_queries")
    # same warmup as bench.py so first-query JIT cost doesn't pollute
    spark.range(1000).count()
    specs["q6_revenue_delta"].builder(spark, sf_dir).count()

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    for name in names:
        if plans_dir:
            df = specs[name].builder(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
        ts = []
        for p in range(passes):
            drop_persistent_blocks(spark)
            spark.sparkContext.setJobDescription(f"profile:{name}:pass{p}")
            t0 = time.time()
            specs[name].builder(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            ts.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        msg = " ".join(f"{t:.3f}" for t in ts)
        print(
            f"{name:36s} min={min(ts):7.3f}  med={statistics.median(ts):7.3f}"
            f"  passes=[{msg}]"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
