"""Dump a normalized physical-plan hash per registry query.

Used by the optimization rounds to decide _TOUCHED membership exactly:
run on two trees (the last driver-attested commit vs the working tree),
diff the hash tables, and every differing name gets a touched entry.

Normalization strips the unstable bits of a plan string: expression ids
(#123), plan ids, common-subexpression counters, checkpoint/memo RDD
ids, absolute paths, and byte statistics — what remains is the operator
tree and its arguments. Still run-unstable: the group order of a
distinct-aggregate rewrite (Expand gids), which follows the hash order
of expression ids.

A query whose plan cannot be built gets an ERR row, and the tool exits
non-zero naming every such query: two trees that both fail must not
compare equal.

Usage: python tools/plan_hashes.py <sf_dir> <out_file> [text_dir]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402

ITERATIVE = {
    "dedup_connected_components", "dedup_keep_canonical",
    "clean_corpus_manifest", "training_sample_weights",
    "pagerank_dup_graph",
}


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\[id=#?N?\d*\]", "[id=N]", plan)
    plan = re.sub(r"ExistingRDD\[[^\]]*\]", "ExistingRDD[...]", plan)
    plan = re.sub(r"Scan ExistingRDD[^\n]*", "Scan ExistingRDD", plan)
    plan = re.sub(r"Location: [^\n]*", "Location: X", plan)
    plan = re.sub(r"file:[^\s,\]]*", "file:X", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(X)", plan)
    plan = re.sub(r"size in bytes[^\n]*", "size X", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_N", plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1]
    out_file = sys.argv[2]
    text_dir = sys.argv[3] if len(sys.argv) > 3 else None
    import __spark_entry__ as em

    spark = get_spark("plan-hashes")
    spark.sparkContext.setLogLevel("ERROR")
    # Scan metadata (DataFilters, PushedFilters) is cut at a fixed
    # length BEFORE normalization, so where the cut falls depends on
    # how many digits the run's expression ids have; print it whole.
    spark.conf.set("spark.sql.maxMetadataStringLength", str(1 << 20))
    if text_dir:
        os.makedirs(text_dir, exist_ok=True)
    lines = []
    failed = []
    for name, fn in em.queries().items():
        if name in ITERATIVE:
            lines.append(f"{name} ITERATIVE")
            continue
        try:
            plan = (fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
            norm = normalize(plan)
            h = hashlib.sha256(norm.encode()).hexdigest()[:16]
            lines.append(f"{name} {h}")
            if text_dir:
                with open(os.path.join(text_dir, f"{name}.txt"), "w") as tf:
                    tf.write(norm)
        except Exception as e:  # noqa: BLE001
            lines.append(f"{name} ERR {type(e).__name__}")
            failed.append(f"{name}: {type(e).__name__}: {e}")
    with open(out_file, "w") as f:
        f.write("\n".join(sorted(lines)) + "\n")
    print(f"wrote {out_file} ({len(lines)} rows)")
    if failed:
        sys.exit(f"{len(failed)} queries raised:\n" + "\n".join(failed))


if __name__ == "__main__":
    main()
