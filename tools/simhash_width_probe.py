"""Simhash width / blocking-space probe (SCALING.md census, round 10).

Question: the blocking-space census says 32-bit simhash's 4x2^8 band
space is the earliest birthday cap in the registry (~10^3-10^4 docs at
occupancy ~1) and prescribes the widened 62-bit sketch + 2-of-5 band
pairs (dedup_simhash64). Measure the cliff instead of extrapolating it.

Corpus: sf0.1 documents replicated with id offsets and per-replica token
suffixes (the curation-chain probe's "parallel universes" construction)
— true near-dup structure scales LINEARLY, so any superlinear candidate
growth is pure blocking-space saturation. Per scale and scheme the
simhash_width_audit table reports n_buckets / max_bucket_size /
n_candidates; walls for both dedup queries are printed alongside.

Expected: 32-bit candidates grow ~quadratically from the first scale
(5,000 docs over 1,024 buckets is already ~5 docs/bucket), 62-bit
band-pair candidates stay ~linear (key space ~2^25-26/pair).

Run: python tools/simhash_width_probe.py    (~5-10 min, local[32])
     SPARK_GRAFT_SIMHASH_SCALES=1,2,4 for a shorter form
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from qucosa_fcrepo_reportingdb_spark.operators.dedup import (  # noqa: E402
    dedup_simhash,
    dedup_simhash64,
    simhash_width_audit,
)
from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = [int(s) for s in os.environ.get(
    "SPARK_GRAFT_SIMHASH_SCALES", "1,2,4,8").split(",")]
# past ~10x the 32-bit side's quadratic candidates make the audit's
# joins infeasible (that IS the cliff); ONLY64=1 probes just the
# production 62-bit family — band-key histogram (counts, no joins) +
# dedup walls — so the widened scheme gets the same 1x/10x/100x row
# the other dedup families have
ONLY64 = os.environ.get("SPARK_GRAFT_SIMHASH_ONLY64", "") == "1"


def build_replica_corpus(spark, base, k: int, out_dir: str) -> int:
    reps = []
    n_base = base.count()
    for r in range(k):
        rep = base.select(
            (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
            F.expr(f"regexp_replace(lower(text), '([a-z0-9]+)', "
                   f"'$1z{r}z')").alias("text"),
            "lang", "source", "n_chars")
        reps.append(rep)
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet"))
    return n_base * k


def main():
    spark = get_spark("simhash-width-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    root = tempfile.mkdtemp(prefix="simhash_probe_")
    print(f"{'scale':>5s} {'docs':>7s} {'scheme':>26s} {'buckets':>8s} "
          f"{'max_bkt':>8s} {'cands':>10s} {'cands/doc':>9s} "
          f"{'verified':>8s}")
    try:
        for s in SCALES:
            d = os.path.join(root, f"x{s}")
            n_docs = build_replica_corpus(spark, base, s, d)
            if ONLY64:
                from qucosa_fcrepo_reportingdb_spark.operators.banding import (
                    band_exprs,
                    explode_bands,
                )
                from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
                    BANDED_FAMILIES,
                    PAIRS62,
                )
                from pyspark.sql import functions as FF
                bands = explode_bands(
                    BANDED_FAMILIES["simhash64_bandpairs_2of5"]
                    .signatures(spark, d),
                    band_exprs("simhash", PAIRS62, "spark"))
                r = (bands.groupBy("band_idx", "band_val")
                     .agg(FF.count(FF.lit(1)).alias("k"))
                     .agg(FF.count(FF.lit(1)).alias("n_buckets"),
                          FF.max("k").alias("max_bucket"),
                          FF.sum(FF.expr("(k * (k - 1)) div 2"))
                          .alias("cand")).collect()[0])
                print(f"{s:5d} {n_docs:7d} {'simhash64_bandpairs_2of5':>26s} "
                      f"{r['n_buckets']:8d} {r['max_bucket']:8d} "
                      f"{r['cand']:10d} {r['cand'] / n_docs:9.2f}",
                      flush=True)
            else:
                rows = simhash_width_audit(spark, d).collect()
                for r in rows:
                    print(f"{s:5d} {n_docs:7d} {r['scheme']:>26s} "
                          f"{r['n_buckets']:8d} {r['max_bucket_size']:8d} "
                          f"{r['n_candidates']:10d} "
                          f"{r['n_candidates'] / n_docs:9.2f} "
                          f"{r['n_verified']:8d}", flush=True)
            fams = ([("dedup_simhash64", dedup_simhash64)] if ONLY64 else
                    [("dedup_simhash32", dedup_simhash),
                     ("dedup_simhash64", dedup_simhash64)])
            for name, op in fams:
                t0 = time.time()
                n = op(spark, d).count()
                cold = time.time() - t0
                t0 = time.time()
                op(spark, d).count()
                steady = time.time() - t0
                print(f"      wall {name}: cold {cold:6.2f}s "
                      f"steady {steady:6.2f}s pairs={n}", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()


