"""Per-query formatted plans plus noop-sink timings (time the
computation, not the sink) — before/after evidence for a plan change.

Usage:
  python tools/plan_snapshot.py <sf_dir> <out_dir> <tag> [names]

Writes <out_dir>/<name>_<tag>.txt (the .explain("formatted") output) and
prints one timing line per query: median of PASSES noop-sink runs after
one warm-up. `names` is a comma list, or the literals `headline` /
`tier2` / `headline+tier2` (bench.py's sets; the default). The bench
itself keeps its .count() action — this tool measures full-column
computation in isolation, each run labeled with its query and tag.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402

PASSES = int(os.environ.get("SPARK_GRAFT_SNAPSHOT_PASSES", "3"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    sf_dir, outdir, tag = sys.argv[1:4]
    sel = sys.argv[4] if len(sys.argv) > 4 else "headline+tier2"

    import bench
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    if sel in ("headline", "tier2", "headline+tier2"):
        names = []
        if "headline" in sel:
            names += bench.HEADLINE
        if "tier2" in sel:
            names += bench.TIER2
    else:
        names = [n for n in sel.split(",") if n]

    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(outdir, exist_ok=True)

    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up

    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)
        # formatted plan (pre-execution; AQE initial plan)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        spark.sparkContext.setJobDescription(f"snapshot {tag}: {name}")
        try:
            t0 = time.time()
            noop(fn(spark, sf_dir))
            warm = time.time() - t0
            ts = []
            for _ in range(PASSES):
                t0 = time.time()
                noop(fn(spark, sf_dir))
                ts.append(time.time() - t0)
            print(f"{name:44s} {statistics.median(ts):7.3f}s "
                  f"median of {[round(x, 3) for x in ts]} "
                  f"(warm {warm:.3f}s)", flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
