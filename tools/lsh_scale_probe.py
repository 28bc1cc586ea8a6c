"""Angle-keyed (hyperplane-LSH banded) semantic screen scaling probe
(SCALING.md round 13).

Questions, at a FIXED 5k-vector suite (the deployment shape):
1. Signing wall — the POOL exact-integer dots per corpus vector are
   the schedule's one-time (per-ingest) cost; a deployment persists
   the column (_coded_corpus convention). Is it linear and what is
   the per-vector rate?
2. Screen wall — the banded broadcast join + verdict roll-up over a
   PRE-SIGNED corpus (the steady state every suite release pays). How
   does it compare to the exact screen's O(corpus x suite) wall and
   the cell schedule's walls at the same scale
   (tools/semantic_scale_probe.py)?
3. Recall/candidate frontier — on this clustered synthetic corpus,
   what does the banding's structural S-curve buy vs the measured
   driver-corpus numbers (worst case, near-isotropic)?

Same synthetic generator as semantic_scale_probe (dim 32, 64 cells,
deterministic from vec_id); truth on a corpus sample (the
audit-samples-at-scale convention). Walls FORCE the verdict columns
(filter(contaminated) references n_hits) — the round-12 hollow-plan
lesson.

Run: python tools/lsh_scale_probe.py (~5-15 min, local[32]);
SPARK_GRAFT_LSH_SCALES to override.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from qucosa_fcrepo_reportingdb_spark.operators.corpus import (  # noqa: E402
    SEMANTIC_COSINE_THRESHOLD,
    _lsh_band_frame,
    _lsh_sign_frame,
    lsh_screen_frame,
)
from qucosa_fcrepo_reportingdb_spark.operators.dedup import (  # noqa: E402
    normed_embedding_frame,
)
from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402

SCALES = [int(s) for s in os.environ.get(
    "SPARK_GRAFT_LSH_SCALES", "100000,1000000").split(",")]
SUITE_N = 5000
DIM = 32
N_CELLS = 64
TRUTH_SAMPLE = int(os.environ.get("SPARK_GRAFT_LSH_TRUTH", "20000"))


def synth(spark, n):
    return (spark.range(0, n, 1, 32).selectExpr(
        "id AS vec_id",
        f"transform(sequence(1, {DIM}), d -> "
        f"CAST(CAST(pmod(hash(id * 31 + d), 1000) AS DOUBLE) / 1000.0 "
        f"- 0.5 AS FLOAT)) AS embedding",
        f"CAST(pmod(hash(id), {N_CELLS}) AS INT) AS label"))


def main():
    spark = get_spark("lsh-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for n in SCALES:
        frame = normed_embedding_frame(synth(spark, n)).withColumn(
            "is_suite", F.col("vec_id") < SUITE_N)

        # 1. signing wall (forces the bits column via a sum over it —
        # a bare count would prune the dot products entirely)
        t0 = time.time()
        signed = _lsh_sign_frame(spark, frame, DIM)
        signed.selectExpr("sum(element_at(bits, 1)) AS s").collect()
        sign_wall = time.time() - t0
        corpus_signed = signed.filter("NOT is_suite").persist()
        suite_signed = signed.filter("is_suite")
        n_corpus = corpus_signed.count()
        print(f"{n:9d} vecs: signing wall {sign_wall:7.2f}s "
              f"({n / max(sign_wall, 1e-9):,.0f} vec/s)", flush=True)

        # 2. screen wall over the pre-signed corpus (steady state per
        # suite release), forced through the verdict columns
        walls = []
        for _ in range(2):
            t0 = time.time()
            n_flagged = lsh_screen_frame(corpus_signed, suite_signed) \
                .filter("contaminated").count()
            walls.append(time.time() - t0)
        print(f"{n:9d} vecs: screen wall cold {walls[0]:7.2f}s "
              f"steady {walls[1]:7.2f}s flagged={n_flagged}", flush=True)

        # 3a. candidate volume (band-matched rows, and distinct pairs
        # at the smaller scales where the distinct is affordable)
        sb = (_lsh_band_frame(suite_signed)
              .select(F.col("vec_id").alias("s_vec"),
                      "band_id", "band_val"))
        matched = (_lsh_band_frame(corpus_signed)
                   .select("vec_id", "band_id", "band_val")
                   .join(F.broadcast(sb), ["band_id", "band_val"]))
        n_rows = matched.count()
        exact_pairs = n_corpus * SUITE_N
        if n <= 200_000:
            n_pairs = matched.select("vec_id", "s_vec").distinct().count()
            print(f"{n:9d} vecs: candidates {n_pairs:,} distinct pairs "
                  f"({n_pairs / exact_pairs:.3f} of exact; "
                  f"{n_rows:,} matched band rows)", flush=True)
        else:
            print(f"{n:9d} vecs: candidates {n_rows:,} matched band "
                  f"rows (~{n_rows / exact_pairs:.3f} of exact, "
                  f"pre-dedup upper bound)", flush=True)

        # 3b. recall on a sample vs the exact brute-force baseline
        sample = corpus_signed.filter(
            f"pmod(hash(vec_id * 131), {max(1, n // TRUTH_SAMPLE)}) = 0")
        suite_b = suite_signed.select(F.col("vec_id").alias("s_vec"),
                                      F.col("v").alias("sv"),
                                      F.col("nrm").alias("snrm"))
        dot = ("aggregate(zip_with(v, sv, (x, y) -> x * y), "
               "CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
        true_ids = (
            sample.crossJoin(F.broadcast(suite_b))
            .filter((F.expr(dot) / (F.col("nrm") * F.col("snrm")))
                    >= SEMANTIC_COSINE_THRESHOLD)
            .select("vec_id").distinct().persist())
        n_true = true_ids.count()
        caught = (lsh_screen_frame(sample, suite_signed)
                  .filter("contaminated").select("vec_id")
                  .join(true_ids, "vec_id").count())
        print(f"{n:9d} vecs: sample recall {caught}/{n_true} = "
              f"{caught / max(1, n_true):.3f} "
              f"(sample {sample.count()} vecs)", flush=True)
        true_ids.unpersist()
        corpus_signed.unpersist()


if __name__ == "__main__":
    main()
