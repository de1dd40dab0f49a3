"""Per-query profiling loop for the bench weak tail.

Runs the named queries with the EXACT bench.py session config (split
sizing, advisory partition size, Arrow batch size, warm-up), prints
min-of-3 timings plus plan-shape counters (exchanges / scans /
subqueries), and optionally the formatted plan. This is the iterate
fast feedback loop bench.py is too heavy for.

Usage: python tools/profile_query.py [--explain] name [name ...]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session, warm_session  # noqa: E402
from stream_loader_spark.plans.queries import QUERIES  # noqa: E402


def plan_counters(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange ", plan))
    n_scan = len(re.findall(r"Scan parquet", plan))
    n_reuse = len(re.findall(r"ReusedExchange", plan))
    n_py = len(re.findall(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan))
    return f"exchanges={n_ex} reused={n_reuse} scans={n_scan} python={n_py}"


def main() -> None:
    args = sys.argv[1:]
    explain = "--explain" in args
    names = [a for a in args if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session("profile", sf_dir)

    # same unmeasured warm-up as bench.py (window/join/HOF JIT classes
    # included) so solo profiles don't read first-slot inflation
    warm_session(spark, sf_dir, first_query=names[0] if names else None)

    breakdown = "--breakdown" in sys.argv
    for name in names:
        fn = QUERIES[name]
        best = None
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            took = time.time() - t0
            best = took if best is None or took < best else best
        df = fn(spark, sf_dir)
        print(f"{name}: {best:.3f}s  {plan_counters(df)}")
        if breakdown:
            # Where does a sub-second query's wall clock go? Split the
            # min-of-3 into: builder (Python DataFrame construction),
            # compile (analysis+optimization+physical planning via
            # executedPlan), execute (jobs; includes AQE re-planning,
            # which only happens at run time). Each phase re-derived
            # fresh so nothing is amortized across phases.
            c = e = p = None
            for _ in range(3):
                t0 = time.time()
                d1 = fn(spark, sf_dir)
                t1 = time.time()
                d1._jdf.queryExecution().executedPlan()
                t2 = time.time()
                d1.write.format("noop").mode("overwrite").save()
                t3 = time.time()
                p = min(p or 9e9, t1 - t0)
                c = min(c or 9e9, t2 - t1)
                e = min(e or 9e9, t3 - t2)
            print(
                f"    breakdown(min-of-3): build={p:.3f}s "
                f"compile={c:.3f}s execute={e:.3f}s"
            )
        if explain:
            df.explain("formatted")


if __name__ == "__main__":
    main()
