"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` declare every implemented operator from
SURVEY.md §2 plus the training-data pipeline surface, each verified against
a DuckDB oracle at sf0.01 (column names aligned, exact-arithmetic numeric
policy — see qucosa_fcrepo_reportingdb_spark/plans/common.py).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from qucosa_fcrepo_reportingdb_spark.functions import text  # noqa: E402
from qucosa_fcrepo_reportingdb_spark.operators import (  # noqa: E402
    corpus,
    dedup,
    multimodal,
    similarity,
    skew,
)
from qucosa_fcrepo_reportingdb_spark.plans import (  # noqa: E402
    advanced,
    events,
    reporting,
    tpch,
)

_MODULES = [tpch, events, reporting, advanced, dedup, similarity, text,
            multimodal, corpus, skew]

# The driver sweeps a bounded prefix of the registry (50 queries in rounds
# 1-2; the registry is larger), so iteration order decides which queries
# get a fresh CORRECTNESS row. Order is LEAST-RECENTLY-VERIFIED first,
# derived from the CORRECTNESS_r*.json files the driver leaves in the repo:
#   1. queries with no CORRECTNESS row in any round (new this round),
#   2. queries whose code/semantics changed this round (_TOUCHED — their
#      old rows verify old behavior),
#   3. everything else, oldest verification round first,
# with registry order as the tiebreak. This is self-maintaining: next
# round's file automatically rotates this round's swept names to the back.

# Queries whose plan or output changed after a given round's sweep: any
# CORRECTNESS row from that round or earlier verifies the OLD behavior,
# so these outrank plain LRV until a later round re-checks them (then
# they rotate to the back automatically).
# name -> round whose sweep (and everything earlier) saw the OLD form.
_TOUCHED = {
    # r10: the strip-spans plan collapse (28 shuffles -> 4) shipped
    # after the r8 sweep that last verified these two; outputs
    # hash-matched the UNCHANGED oracles in the builder's own both-SF
    # sweeps, but the r11 verdict asked for a DRIVER re-check of the
    # rewritten plans (their newest rows predate the rewrite).
    "decontaminate_strip_spans": 9,
    # r11: the 62-bit simhash family adopted the minhash non_empty
    # convention (zero-token docs excluded from signatures) in BOTH
    # engines (ADVICE r10). Data-latent at every driver SF (no empty
    # docs exist there — outputs bit-identical), but the formula
    # changed in both engines, so the r10 rows verify the old form
    # (the pack_bpe_sequences precedent from r8).
    "simhash_width_audit": 10,
    # r11: the four audit plan collapses (24->6 / 19->6 / 16->7 shuffle
    # rewrites plus the sampled-audit memoized-union rewrite) shipped
    # after each query's newest driver row; oracles unchanged and both-SF
    # builder sweeps hash-matched, but the driver should re-attest the
    # rewritten plans (ADVICE r11).
    "band_layout_audit_multimodal": 10,
    "jaccard_cap_recall_audit": 10,
    "ann_recall_audit_sampled": 10,
    # r13: the selection draw was decorrelated from the bench split
    # (ADVICE r12 — u rescaled onto [0,1) over the selectable
    # population in BOTH engines), so the r12 row verifies the biased
    # draw.
    "importance_resampled_selection": 12,
    # r13: the probe-detected pair set is symmetrized before the
    # roll-up (ADVICE r12 — a pair the probe schedule saw from only
    # one side now marks its larger-id member redundant, in both
    # engines), so the r12 row verifies the asymmetric form.
    "suite_self_dedup_report": 12,
    # r13: the recall audit grew the lsh_bands method row (3 -> 4
    # rows; it previously grew 2 -> 3 in r12 and its r12 driver row
    # re-attested that form) and the policy grew the LSH schedule's
    # pricing columns + the three-way dispatch rule — the r12 rows
    # verify the two-schedule forms.
    "semantic_screen_recall_audit": 12,
    # r13 (late): the sweep's exact baseline moved onto the memoized
    # _semantic_true_pairs table (plan consolidation shared with the
    # audit/policy/band-sweep — output and oracle unchanged; builder
    # both-SF sweeps hash-matched), so the r12 row verifies the
    # pre-memo plan.
    # r14 note: lsh_screen_frame's rescore was briefly rewritten to an
    # index fold (VERDICT r13 item 3) and REVERTED within the round
    # after rescore-dominant measurement showed the zip_with form
    # 1.25-1.6x faster at scale (SCALING.md round-14) — the shipped
    # plan is byte-identical to the r13-attested one, so the LSH trio
    # carries no touched entry.
    # r15: the exact-screen family's broadcast crossJoin became a
    # broadcast LEFT join on true (ADVICE r14 — an empty suite now
    # keeps every corpus row with n_hits=0 / _NO_CANDIDATE, matching
    # the oracles' LEFT JOIN). Data-latent at every driver SF (suite
    # membership is never empty there — builder both-SF sweeps
    # hash-matched the unchanged oracles), but the plan changed, so
    # the r14-and-earlier rows verify the crossJoin form.
    "decontaminate_embedding_exact": 14,
    "decontaminate_embedding_exact_incremental": 14,
    "decontaminate_embedding_exact_suite_refresh": 14,
    # r15: the lexical suite-refresh screen's shingle frame moved onto
    # the memoized _bench_shingled artifact (VERDICT r14 item 5 — the
    # manifest-reconstruction constant; measured 2.15 -> 1.15 s
    # standalone, diff reconstruct 10.4 -> 8.6 s at sf0.1, SCALING.md
    # round-15). Output and oracle unchanged (builder both-SF sweeps
    # hash-matched); the audited plan now reads checkpoint blocks, so
    # the r14-and-earlier rows verify the re-shingling plan. The diff
    # consumes the refresh in its reconstruct arm, so its plan moved
    # too. (An earlier form of this note scoped the memo to the
    # refresh path; the optimization sweep later extended it to the
    # batch screens on measurement — see the next block.)
    "decontaminate_ngram_overlap_suite_refresh": 14,
    "contamination_manifest_diff": 14,
    # r15 (optimization round): every remaining plan the optimization
    # sweep changed, enumerated EXACTLY by a two-tree normalized
    # plan-text diff (tools/plan_hashes.py: r14-attested f7e3528 vs the
    # final r15 tree, sf0.01, fixed PYTHONHASHSEED; run-unstable plans
    # — grouping-set gid order in column_profile_lineitem,
    # distinct-rewrite order in strip_spans and the phash/lsh refresh
    # screens — excluded after same-tree double runs showed them
    # varying without any code change). Outputs all hash-matched the
    # unchanged oracles (focused oracle sweeps per change + the full
    # registry suite); only the plans moved:
    # - the _bench_shingled artifact extension (lexical batch/
    #   incremental screens, bloom, the leakage report) and its
    #   manifest-layer consumers,
    "decontaminate_ngram_overlap": 14,
    "decontaminate_ngram_overlap_incremental": 14,
    "decontaminate_bloom": 14,
    "suite_leakage_report": 14,
    "contamination_by_source": 14,
    "contamination_closure": 14,
    "contamination_closure_incremental": 14,
    "clean_corpus_manifest_multimodal": 14,
    # - the semantic fan_out on expanded-suite/exact dot stages and the
    #   fanned _semantic_true_pairs artifact's stable consumers,
    "decontaminate_embedding_recallk": 14,
    "decontaminate_embedding_recallk_incremental": 14,
    "decontaminate_embedding_suite_refresh": 14,
    "semantic_screen_recall_audit": 14,
    "cosine_threshold_sweep": 14,
    # - the single-query plan rewrites (explicit pair-stage
    #   repartition; materialized twice-consumed subtrees; the q1 scan
    #   fan),
    "dedup_embedding_cosine": 14,
    "tfidf_top_terms": 14,
    "band_skew_audit": 14,
    "q1_pricing_summary": 14,
    # r16 (optimization round 2/2): every plan the r16 sweep changed,
    # enumerated by the same two-tree normalized plan diff
    # (tools/plan_hashes.py: r15-attested 2c03a62 vs the final r16
    # tree, sf0.01, PYTHONHASHSEED=0; two run-unstable names —
    # contamination_manifest_diff and
    # decontaminate_embedding_lsh_suite_refresh — flapped on same-tree
    # triple runs, one of them back onto the r15 hash, and are
    # excluded; both were oracle-checked green at both SFs anyway).
    # Outputs all hash-matched the unchanged oracles (focused sweeps
    # per change at sf0.001 + sf0.01, plus the full pytest suite).
    # Superseded older entries (strip-spans 9, simhash64 pair 10,
    # census/banding-sweep 10, policy/probe-sweep 12, manifest-incr
    # 14) moved here with as-of 15. The changes:
    # - the pagerank loop fold (ITERATIVE, hand-added: one broadcast
    #   join + one exchange per iteration),
    "pagerank_dup_graph": 15,
    # - the semantic policy/sweep pricing off the memoized pair
    #   artifacts (_lsh_first_band; sweep output materialized once),
    "semantic_screen_policy": 15,
    "semantic_probe_recall_sweep": 15,
    "semantic_lsh_band_sweep": 15,
    # - the PQ family's memoized coded corpus + per-query ADC LUT,
    "ann_ivf_pq_topk": 15,
    "ann_pq_adc_topk": 15,
    "pq_codebook_assign": 15,
    # - the one-tokenize-pipeline shingle unification's remaining
    #   visible consumers,
    "decontaminate_strip_spans_incremental": 15,
    "decontaminate_afp_suite_refresh": 15,
    "contamination_manifest_incremental": 15,
    # - the early-hamming-verify hoist across the banded dedup
    #   families (verify before the pair distinct; no signatures, no
    #   first() aggs through the dedup exchange),
    "dedup_simhash": 15,
    "dedup_simhash64": 15,
    "simhash_rollover_report": 15,
    # - the memoized jaccard index metadata (hot-shingle list, per-doc
    #   sizes) shared by the df-capped candidate machinery,
    "dedup_ngram_jaccard": 15,
    "dedup_containment": 15,
    "jaccard_threshold_sweep": 15,
    "cross_source_dup_matrix": 15,
    # - the Arrow-vectorized asset decode (mapInPandas ->
    #   PythonMapInArrow; stub arithmetic unchanged, per-row numpy sum
    #   over zero-copy buffer views),
    "multimodal_decode_stats": 15,
    "multimodal_resize_rollup": 15,
    # - the memoized minhash LSH band index and its consumers,
    "dedup_minhash_lsh": 15,
    "dedup_minhash_lsh_salted": 15,
    "dedup_incremental_minhash": 15,
    "lsh_banding_sweep": 15,
    "minhash_recall_audit": 15,
    "band_salting_policy": 15,
    "candidate_volume_census": 15,
    # r17: the hamming families moved onto the one banded-pair core
    # (operators/banding.py). Two-tree normalized plan diff
    # (tools/plan_hashes.py, sf0.01, PYTHONHASHSEED=0): these plans
    # differ from the r16 tree only by the signature aliases p1/p2 ->
    # s1/s2; dedup_simhash64_incremental also drops the d1 != d2
    # predicate its ingest filter implies and orders one projection
    # (d2, s2, new2). Apart from that join predicate, no Exchange, Join
    # or Aggregate node changed; oracles hash-match.
    "dedup_simhash64_incremental": 16,
    "dedup_image_phash": 16,
    "dedup_image_phash_incremental": 16,
    "dedup_image_phash_bandpairs": 16,
    "dedup_image_phash_incremental_bandpairs": 16,
    "dedup_audio_fingerprint": 16,
    "dedup_audio_fingerprint_incremental": 16,
    "dedup_audio_fingerprint_bandpairs": 16,
    "dedup_audio_fingerprint_incremental_bandpairs": 16,
    "multimodal_method_agreement": 16,
    "multimodal_dup_clusters": 16,
    "phash_banding_sweep": 16,
    "afp_banding_sweep": 16,
    "phash_band_layout_audit": 16,
    "phash_blocking_scheme_audit": 16,
}
# Round-15 window note / entry ordering (VERDICT r14 items 1 and 6):
# registry growth is ZERO new queries (the growth-event matrix is
# closed — README note — and this optimization round adds none by
# rule) and 23 touched entries (the exact family's empty-suite
# LEFT-join fix + every plan the optimization sweep changed, all
# above; outputs hash-matched the unchanged oracles in builder
# both-SF sweeps and the full registry suite). Window arithmetic
# (verified by running _reorder against the CORRECTNESS files):
# 23 stale-touched (3 of them r09-cohort members) + the remaining
# 19-query r09 tail + the 8 oldest r10 rows = 50. After the r15
# sweep, min(latest driver round) >= r10 registry-wide — still the
# item-1 done-criterion; the r10 cohort's remaining 35 rows lead
# r16's window per the two-round schedule VERDICT r14 item 1 asked
# to plan.
# Round-14 window note / entry ordering (VERDICT r13 items 1 and 6):
# registry growth is 2 new queries (the resampler's target-refresh
# form and the exact schedule's suite-refresh — the two gaps the
# r13-item-4 growth-event sweep found; every other family already
# carries both events, see README's growth-event coverage note) and
# ZERO touched entries (the one plan rewrite attempted this round was
# measured at scale and reverted — see the r14 note in _TOUCHED).
# Window arithmetic: 2 first-check + the ENTIRE 20-query r08 tail =
# 22, leaving 28 slots for the oldest r09 rows. After the r14 sweep,
# min(latest driver round) >= r09 registry-wide — the r13 verdict's
# item-1 done-criterion.
# Round-13 window note / entry ordering (VERDICT r12 items 2-3):
# registry growth this round is deliberately small — 7 new queries
# (the angle-keyed screen's batch/incremental/suite-refresh triple +
# its bands-vs-recall frontier, the resampler's delta-ingest form,
# the suite-release manifest diff, the perceptual recall audit; each
# a new capability, none a near-twin) + 5 stale-touched
# re-attestations — so the 50-slot window ordering is: 7 first-check,
# 5 stale-touched, then the ENTIRE 11-query r07 straggler tail (the
# r12 verdict's attestation debt), with 27 slots
# left for the r08 tail (verified by running _reorder: min latest
# round OUTSIDE the window is r08). After the r13 sweep, min(latest
# driver round) >= r08 registry-wide.
# The r12 note's context: the registry grew 218 -> 249 in r12 and the
# window filled with first-checks, pushing the r07 tail out — hence
# this round's growth discipline (new entries gated on consolidation
# or genuinely new capability; the LSH pair is the latter).
# The r8 touched list (incremental dedup intra-batch joins, strided
# band layout, pack boundary fix, approx_user_stats upgrade) rotated
# out: every member was re-verified by the r8-r10 driver sweeps.
# quality_threshold_sweep rotated out in r8 the same way.
# epoch_shuffle_order's r8 overflow fix was never listed: the reduced
# key is bit-identical for every doc_id < 2^32.


def _last_verified() -> dict[str, int]:
    """query name -> latest driver round with a CORRECTNESS row for it."""
    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name in rows:
            out[name] = max(out.get(name, 0), rnd)
    return out


def _reorder(d: dict) -> dict:
    last = _last_verified()
    touch_order = {n: i for i, n in enumerate(_TOUCHED)}

    def key(item):
        idx, name = item
        stale_touched = (name in _TOUCHED
                         and last.get(name, 0) <= _TOUCHED[name])
        group = 0 if name not in last else (1 if stale_touched else 2)
        # the hand-list position only orders WITHIN the stale-touched
        # group; elsewhere order is pure LRV + registry position
        touch_rank = touch_order.get(name, 0) if group == 1 else 0
        return (group, touch_rank, last.get(name, 0), idx)

    return {name: d[name] for _, name in sorted(enumerate(d), key=key)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return _reorder(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return _reorder(out)
