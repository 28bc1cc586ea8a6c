"""Core-count scaling probe at compute-dominant scale (VERDICT r15
item 7): the r15 8-vs-32-core pair at sf0.1 was uninformative — every
headline row runs 0.2-1.3 s, dominated by fixed per-job overhead. This
probe measures the SAME operators' compute-dense stages on a synthetic
corpus big enough that per-job overhead is noise, once per core count.

Corpus: deterministic pure function of doc_id (the scale-probe
convention — TESTDATA is read-only): text is a sequence of
TOKENS_PER_DOC hashed pseudo-words (real tokenize/shingle/minhash
work, unlike the 'x' placeholder the signature probes use), written
ONCE to a shared directory both core-count runs read.

Workloads (each a registry operator or its artifact build):
- minhash_bands cold: the N_PERM minhash fold over every shingle
  array — the text family's dominant map stage.
- simhash64 cold: tokenize -> shingle -> rehash64 -> 62-counter fold.
- dedup_ngram_jaccard steady: inverted-index self-join + pair groupBy
  (shuffle-dense; hot/sizes metadata memoized by the cold pass).
- dedup_video_fingerprint cold: the widest Python/Arrow decode stage.

Run (two processes — master is fixed per JVM):
  python tools/r16_core_scaling_probe.py gen   [docs]
  python tools/r16_core_scaling_probe.py run 32
  python tools/r16_core_scaling_probe.py run 8
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qucosa_fcrepo_reportingdb_spark.memo import (  # noqa: E402
    clear_session_memo,
)
from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402

ROOT = os.environ.get("SPARK_GRAFT_CORE_PROBE_DIR",
                      "/tmp/r16_core_probe_corpus")
TEXT_DOCS = 150_000
TOKENS_PER_DOC = 60


def gen(docs: int) -> None:
    spark = get_spark("core-probe-gen", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    (spark.range(0, docs)
     .selectExpr(
         "id AS doc_id",
         # TOKENS_PER_DOC pseudo-words from a 50k vocabulary, pure
         # function of doc_id -> identical corpus for both runs
         f"concat_ws(' ', transform(sequence(1, {TOKENS_PER_DOC}), "
         f"i -> conv(abs(xxhash64(id * 1024 + i)) % 50000, 10, 36))) "
         "AS text",
         "'en' AS lang", "'synth' AS source",
         "CAST(length('x') AS BIGINT) AS n_chars")
     .repartition(64)
     .write.mode("overwrite").parquet(
         os.path.join(ROOT, "documents.parquet")))
    n = spark.read.parquet(os.path.join(ROOT, "documents.parquet")).count()
    print(f"generated {n} docs at {ROOT}")
    spark.stop()


def run(cpus: int) -> None:
    from qucosa_fcrepo_reportingdb_spark.operators import dedup as D

    spark = get_spark(f"core-probe-{cpus}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # cold artifact builds: clear the memo each rep so every rep pays
    # the full compute-dense build (2 reps, min — cold walls are long
    # enough here that the min is stable and the probe stays bounded)
    results = {}
    for label, build in [
        ("minhash_bands_cold",
         lambda: noop(D.minhash_band_table(spark, ROOT))),
        ("simhash64_cold",
         lambda: noop(D.BANDED_FAMILIES["simhash64_bandpairs_2of5"]
                      .signatures(spark, ROOT))),
    ]:
        ts = []
        for _ in range(2):
            clear_session_memo(spark)
            spark.sparkContext.setJobDescription(f"{label}@{cpus}")
            t0 = time.time()
            build()
            ts.append(time.time() - t0)
        results[label] = round(min(ts), 2)
        print(f"{label:24s} cpus={cpus:2d} {results[label]:7.2f}s "
              f"of {[round(t, 2) for t in ts]}", flush=True)

    # steady shuffle-dense: jaccard candidate join over the memoized
    # index (built once untimed, then 3 timed reps)
    clear_session_memo(spark)
    noop(D.dedup_ngram_jaccard(spark, ROOT))
    ts = []
    for _ in range(3):
        spark.sparkContext.setJobDescription(f"jaccard_steady@{cpus}")
        t0 = time.time()
        noop(D.dedup_ngram_jaccard(spark, ROOT))
        ts.append(time.time() - t0)
    results["jaccard_steady"] = round(statistics.median(ts), 2)
    print(f"{'jaccard_steady':24s} cpus={cpus:2d} "
          f"{results['jaccard_steady']:7.2f}s of "
          f"{[round(t, 2) for t in ts]}", flush=True)

    # Python/Arrow decode stage (video signatures are a pure function
    # of doc_id; the text column is ignored by the synth decode)
    clear_session_memo(spark)
    spark.sparkContext.setJobDescription(f"vfp_cold@{cpus}")
    t0 = time.time()
    noop(D.BANDED_FAMILIES["video_vfh_frame"].signatures(spark, ROOT))
    results["vfp_sign_cold"] = round(time.time() - t0, 2)
    print(f"{'vfp_sign_cold':24s} cpus={cpus:2d} "
          f"{results['vfp_sign_cold']:7.2f}s", flush=True)

    spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "gen":
        gen(int(sys.argv[2]) if len(sys.argv) > 2 else TEXT_DOCS)
    else:
        run(int(sys.argv[2]) if len(sys.argv) > 2 else 32)
