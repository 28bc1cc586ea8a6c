"""Minimal streaming micro-batch bench (VERDICT r15 item 9): one screen
family, fixed batch count, repeatable — puts numbers on (a) the
per-micro-batch overhead around a sub-second batch body and (b) the
share of the immutable-redelivery merge guard (VERDICT r14 item 3 /
r15 "What's wrong" #4), which adds a read + join + bounded collect per
guarded merge.

Usage:
  python tools/streaming_bench.py [sf_dir] [n_batches] [passes]

Method: write <sf_dir>/documents.parquet as n_batches one-file slices
(deterministic): the suite docs (key_hash < BENCH_RATE) first, then the
corpus docs split by pmod(doc_id, n_batches - 1) — so n_batches must be
at least 2. Then run stream_ngram_decontaminate (maxFilesPerTrigger=1, availableNow) to
completion against a fresh store + checkpoint per pass. Two arms per
pass: production (merge guard ON — the shipped path) and a
guard-skipped twin (TableStore._assert_immutable_redelivery
monkeypatched to a no-op IN THIS TOOL ONLY) — the delta is the guard's
per-run cost. Batch-equivalence is asserted against the batch
operator's verdict set once per invocation, so the bench cannot
silently measure a broken stream. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402
from qucosa_fcrepo_reportingdb_spark.tables import TableStore  # noqa: E402
from qucosa_fcrepo_reportingdb_spark.streaming import jobs  # noqa: E402


def prepare_source(spark, sf_dir: str, n_batches: int, root: str) -> str:
    """Suite docs (key_hash < BENCH_RATE) in the FIRST file, corpus
    docs split over the remaining n_batches-1 files — the stream's
    documented delivery-order assumption (suite docs no later than the
    corpus docs they contaminate; the parity pytest uses the same
    layout). A pmod-only split scatters suite docs across batches and
    the final verdicts legitimately diverge from the batch screen's
    (that is the late-suite replay scenario, a different test)."""
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        BENCH_RATE,
        key_hash,
    )
    src = os.path.join(root, "docs")
    docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text"))
    is_suite = F.expr(key_hash("doc_id")) < BENCH_RATE
    docs.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = docs.filter(~is_suite)
    for i in range(n_batches - 1):
        (corpus.filter(F.pmod(F.col("doc_id"), F.lit(n_batches - 1)) == i)
         .coalesce(1).write.mode("append").parquet(src))
    return src


def run_once(spark, src: str, root: str, tag: str) -> float:
    store = TableStore(spark, os.path.join(root, f"store_{tag}"))
    ckpt = os.path.join(root, f"ckpt_{tag}")
    spark.sparkContext.setJobDescription(f"stream bench: {tag}")
    t0 = time.time()
    q = jobs.stream_ngram_decontaminate(spark, src, store, ckpt)
    q.awaitTermination(600)
    wall = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    return wall, store


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    if n_batches < 2:
        sys.exit(f"n_batches must be >= 2 (one suite file plus at least "
                 f"one corpus slice); got {n_batches}")

    spark = get_spark("streaming-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    root = tempfile.mkdtemp(prefix="graft_stream_bench_")
    try:
        src = prepare_source(spark, sf_dir, n_batches, root)

        guarded, unguarded = [], []
        orig_guard = TableStore._assert_immutable_redelivery
        for p in range(passes):
            wall, store = run_once(spark, src, root, f"on_{p}")
            guarded.append(round(wall, 3))
            if p == 0:
                # batch-equivalence gate: the streamed verdicts must
                # equal the batch operator's on the same corpus
                from qucosa_fcrepo_reportingdb_spark.operators.corpus \
                    import decontaminate_ngram_overlap
                streamed = {(r.doc_id, r.n_overlap, r.contaminated)
                            for r in store.read(
                                jobs.NGRAM_SCREEN_VERDICTS_TABLE)
                            .select("doc_id", "n_overlap", "contaminated")
                            .collect()}
                batch = {(r.doc_id, r.n_overlap, r.contaminated)
                         for r in decontaminate_ngram_overlap(
                             spark, sf_dir).collect()}
                assert streamed == batch, (
                    f"stream/batch divergence: {len(streamed)} streamed "
                    f"vs {len(batch)} batch rows")
            try:
                TableStore._assert_immutable_redelivery = (
                    lambda self, *a, **k: None)
                wall, _ = run_once(spark, src, root, f"off_{p}")
                unguarded.append(round(wall, 3))
            finally:
                TableStore._assert_immutable_redelivery = orig_guard

        g_med = statistics.median(guarded)
        u_med = statistics.median(unguarded)
        print(json.dumps({
            "metric": "stream_ngram_decontaminate_availableNow",
            "sf_dir": sf_dir,
            "n_batches": n_batches,
            "passes": passes,
            "wall_sec_guarded": guarded,
            "wall_sec_unguarded": unguarded,
            "median_guarded": g_med,
            "median_unguarded": u_med,
            "sec_per_batch_guarded": round(g_med / n_batches, 3),
            "sec_per_batch_unguarded": round(u_med / n_batches, 3),
            "merge_guard_share": round((g_med - u_med) / g_med, 3),
            "batch_equivalence": "ok",
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
