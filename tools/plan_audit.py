"""Physical-plan audit over the whole query registry.

Writes PLANS.md: per query, the counts that decide 100 TB behavior —
shuffle exchanges, broadcast exchanges, Python evaluation nodes, parquet
scans, and the join/top-k strategies chosen. (Codegen spans are not
visible in the pre-execution AQE plan string; the WholeStageCodegen
coverage assertions live in tests/test_plans.py on executed plans.)
The per-property regression tests live in tests/test_plans.py; this is
the full-surface inventory a reviewer reads. Queries that materialize a
shared intermediate via localCheckpoint (the shingle inverted index, the
semdedup score frame) show the truncated post-checkpoint plan — the
index-build stages execute once at checkpoint time.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402
from tools.plan_hashes import ITERATIVE  # noqa: E402


def audit(plan: str) -> dict:
    return {
        # count EVERY shuffle kind: hash (joins/aggs), range (global
        # sorts), and SinglePartition (global aggregates) — counting only
        # hashpartitioning understated e.g. orderBy-terminated queries
        "shuffles": len(re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|"
            r"SinglePartition)", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "python": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")
        + plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInArrow"),
        "scans": plan.count("FileScan parquet"),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "topk": plan.count("TakeOrderedAndProject")
        + plan.count("WindowGroupLimit"),
        "cartesian": plan.count("CartesianProduct"),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as em

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in em.queries().items():
        if name in ITERATIVE:
            rows.append((name, None))
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        rows.append((name, audit(plan)))
    out = ["# PLANS — physical-plan audit of the query registry",
           "",
           f"Generated by `python tools/plan_audit.py {sf_dir}` "
           f"(pre-execution AQE plans, {spark.sparkContext.master}).",
           "",
           "| query | shuffles | broadcasts | python | scans "
           "| SMJ | BHJ | SHJ | top-k | cartesian |",
           "|---|---|---|---|---|---|---|---|---|---|"]
    for name, a in sorted(rows):
        if a is None:
            out.append(f"| {name} | — iterative driver loop; per-round "
                       "plans audited in tests — | | | | | | | | |")
            continue
        out.append(
            f"| {name} | {a['shuffles']} | {a['broadcasts']} | "
            f"{a['python']} | {a['scans']} | {a['smj']} | "
            f"{a['bhj']} | {a['shj']} | {a['topk']} | {a['cartesian']} |")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    n_cart = sum(1 for _, a in rows if a and a["cartesian"])
    n_py = sum(1 for _, a in rows if a and a["python"])
    print(f"{len(rows)} queries audited -> PLANS.md; "
          f"{n_cart} with CartesianProduct, {n_py} with Python nodes")


if __name__ == "__main__":
    main()
