"""Plan-audit sweep over every declared query: build each DataFrame and
flag anti-patterns in its executedPlan text — CartesianProduct,
BroadcastNestedLoopJoin, row-at-a-time BatchEvalPython, and multiple
Python-eval nodes (a signal that an expensive UDF branch is replicated
through the plan).  Counts are TEXTUAL on the pre-execution AQE plan,
so they over-approximate what actually runs (AQE may reuse exchanges);
treat a large python_nodes count as a lead to measure, not a verdict.

Usage: python tools/plan_sweep.py [--json out.json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def main(json_out=None):
    from medcat_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("plan-sweep", shuffle_partitions=8)
    report = {}
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            flags = [p for p in ("CartesianProduct",
                                 "BroadcastNestedLoopJoin",
                                 "BatchEvalPython") if p in plan]
            n_py = (plan.count("MapInPandas") + plan.count("MapInArrow")
                    + plan.count("ArrowEvalPython"))
            if n_py > 1:
                flags.append(f"python_nodes={n_py}")
            report[name] = {"flags": flags,
                            "exchanges": plan.count("Exchange")}
        except Exception as e:  # noqa: BLE001 — sweep must finish
            report[name] = {
                "flags": [f"ERROR {type(e).__name__}: {str(e)[:80]}"]}
    flagged = {k: v for k, v in report.items() if v.get("flags")}
    print(json.dumps({"n": len(report), "n_flagged": len(flagged),
                      "flagged": flagged}, indent=1))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    out = None
    if "--json" in sys.argv:
        out = sys.argv[sys.argv.index("--json") + 1]
    main(out)
