"""Capture .explain('formatted') for bench HEADLINE queries into
plans/<tag>/<query>_<suffix>.txt (guide §1: record the plan shape before
and after each optimization so claims are checkable without running
Spark).

Usage: python tools/capture_plans.py <tag> <suffix> [--final] [--internals] [query ...]
  tag:    plans subdirectory, e.g. r13
  suffix: 'before' or 'after'
  query:  optional subset; default = every bench.HEADLINE entry

Modes (VERDICT r13 ask #6 — close the plan-evidence gaps):
  --final      execute the frame (collect) BEFORE dumping, so the dump
               is the AQE FINAL plan (isFinalPlan=true) including
               runtime artifacts a static explain cannot show —
               ReusedExchange/AQEShuffleRead nodes, runtime join
               rewrites. Use for stage-reuse claims.
  --internals  additionally capture the INTERNAL plans of the
               kernels in operators.materialized: the persisted stage
               and the final statement of stickiness, revenue
               concentration and the curation report, the
               final statement of histogram/bloom (and bloom's word
               aggregate). The eager localCheckpoint hides them from
               the returned frame's explain, so the hook in
               operators.materialized records each plan as it runs.

Imperative operators (those that run jobs inside fn and return a frozen
result, e.g. localCheckpoint-based kernels) still produce a plan — for
those the interesting plans are the INTERNAL stages, so the captured
file additionally notes when the top-level plan is a checkpoint scan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    tag = args[0] if args else "r13"
    suffix = args[1] if len(args) > 1 else "before"
    run_final = "--final" in flags
    internals = "--internals" in flags
    import bench

    names = args[2:] or bench.HEADLINE

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        materialized,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (
        build_session,
    )

    import __spark_entry__ as entry

    spark = build_session(app_name=f"capture_plans_{tag}_{suffix}")
    qs = entry.queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in queries()")
            continue
        captured: list = []
        if internals:
            materialized.PLAN_CAPTURE = captured
        try:
            df = qs[name](spark, SF_DIR)
            if run_final:
                df.collect()  # execute so AQE finalizes every stage
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture failures loudly, don't die
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        finally:
            materialized.PLAN_CAPTURE = None
        note = ""
        if run_final:
            note += (
                "NOTE: captured AFTER execution (--final): this is the AQE\n"
                "final plan; ReusedExchange/AQEShuffleRead nodes here are\n"
                "runtime facts, not static-plan guesses.\n\n"
            )
        if "ExistingRDD" in plan or "LocalTableScan" in plan or "Scan ExistingRDD" in plan:
            note += (
                "NOTE: top-level plan scans a materialized/checkpointed result —\n"
                "the operator runs its heavy stages imperatively inside fn();\n"
                "see the operator docstring for the internal stage shapes"
                + (" (captured below)" if captured else "")
                + ".\n\n"
            )
        if captured:
            plan += "\n\n" + "\n".join(
                f"=== INTERNAL STAGE: {n} ===\n{p}" for n, p in captured
            )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(note + plan + "\n")
        print(f"captured {name}")
    spark.stop()


if __name__ == "__main__":
    main()
