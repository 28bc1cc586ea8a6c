"""Physical-plan regression tests: the scale posture (broadcasts where
intended, no corpus-wide broadcast where not, no cartesian products, no
unbounded per-group state, pruned scans) is asserted here so a plan
regression fails CI even while results stay correct."""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from tests.conftest import SF_DIR


def plan_of(spark, name):
    df = em.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_products_anywhere(spark):
    """A CartesianProduct in any registered query is a scale bug — every
    pair-style operator must join on candidates (bands, cells, codes,
    shingles), never the full cross space. (ann_bruteforce is the one
    intentional crossJoin: a broadcast nested loop against a 5-row query
    set, which is BroadcastNestedLoopJoin, not CartesianProduct.)"""
    for name, fn in em.queries().items():
        if name in ("dedup_connected_components", "dedup_keep_canonical",
                    "clean_corpus_manifest", "training_sample_weights",
                    "pagerank_dup_graph"):
            continue  # iterative driver loop; its join plans are per-round
        plan = em.queries()[name](spark, SF_DIR) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan


def test_embedding_cosine_no_corpus_broadcast(spark):
    """The corpus must never be broadcast; the pair join shuffles on
    (label, salt)."""
    plan = plan_of(spark, "dedup_embedding_cosine")
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_centroids_constant_group_state(spark):
    plan = plan_of(spark, "ivf_centroids")
    assert "collect_list" not in plan
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_ann_queries_broadcast_query_side_only(spark):
    for name in ("ann_ivf_topk", "ann_lsh_topk"):
        plan = plan_of(spark, name)
        # exactly one broadcast: the tiny coded query set
        assert plan.count("BroadcastExchange") == 1, name


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "ngram_topk")
    assert "TakeOrderedAndProject" in plan


def test_q1_scan_prunes_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, "no parquet scan in plan"
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    # 7 needed columns, not the 16-column lineitem schema
    assert "l_comment" not in cols and len(cols) <= 8


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "LessThanOrEqual(l_shipdate" in m.group(1)


def test_merge_upsert_single_shuffle_key(spark):
    """The merge path partitions once on the merge key: no second
    exchange between the dedupe window and the anti-join."""
    plan = plan_of(spark, "merge_upsert_user_state")
    # hashpartitioning on user_id appears; count exchanges as a guard
    assert plan.count("Exchange hashpartitioning") <= 3


def test_jaccard_no_inferred_filter_below_fanout(spark):
    """Regression for the InferFiltersFromGenerate blowup: no Filter node
    below the fan-out Exchange may contain the tokenizing regexp."""
    plan = plan_of(spark, "dedup_ngram_jaccard")
    below = plan.split("REPARTITION_BY_NUM", 1)[-1]
    assert "regexp_extract_all" not in below.split("FileScan")[0]


def test_shared_substrings_plan_shape(spark):
    """Window hashing must stay JVM-side (codegen expression, no Python),
    the hash aggregation map-side combinable, and the top-K a
    TakeOrderedAndProject — the O(total tokens) single-shuffle shape."""
    plan = plan_of(spark, "dedup_shared_substrings")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial" in plan.lower()


def test_token_histogram_partial_agg(spark):
    plan = plan_of(spark, "token_frequency_histogram")
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_strip_substrings_broadcasts_flagged_set(spark):
    """The top-K flagged windows are the small side: exactly the broadcast
    join a removal pass needs (corpus side streams once)."""
    plan = plan_of(spark, "strip_shared_substrings")
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_broadcasts_only_tiny_artifacts(spark):
    """SemDeDup must broadcast NOTHING corpus-sized. Since the scored
    frame was materialized once via localCheckpoint (round 3), the plan
    carries exactly ONE broadcast — the n_cells-row keeper table; the
    centroid subplans no longer recur. A second broadcast appearing
    again means the shared-subplan materialization regressed."""
    plan = plan_of(spark, "semdedup_keep")
    assert plan.count("BroadcastExchange") == 1
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_pq_prunes_candidates_with_cell_join(spark):
    """IVFPQ must be an equi-join on the cell id (hash join keyed on
    label), not the crossJoin the flat ADC variant uses, with the query
    side the only broadcast."""
    plan = plan_of(spark, "ann_ivf_pq_topk")
    assert plan.count("BroadcastExchange") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tfidf_topk_bounded_window_state(spark):
    """The per-doc top-K must run as WindowGroupLimit (K-row state per
    document) with map-side partial aggregation feeding both the tf and
    df aggregates; no Python in the plan."""
    plan = plan_of(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in plan
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_countmin_no_join_and_constant_cells(spark):
    """The sketch build is ONE aggregation over a 256-cell key space —
    any join or extra wide shuffle appearing here means the build stopped
    being a streaming-mergeable sketch."""
    plan = plan_of(spark, "countmin_token_counts")
    assert "Join" not in plan
    assert "partial" in plan.lower()          # map-side combine


def test_winnowing_is_scan_local(spark):
    """Fingerprint selection must stay inside the scan stage: no joins,
    no aggregation shuffle — only the fan_out repartition (a no-op at
    scale) and the presentation sort."""
    plan = plan_of(spark, "winnowing_fingerprints")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_q10_caps_result_with_take_ordered(spark):
    plan = plan_of(spark, "q10_returned_item_revenue")
    assert "TakeOrderedAndProject" in plan


def test_shingle_novelty_no_self_join(spark):
    """First-occurrence attribution uses a window over the shingle key,
    never a shingle self-join (which would square the index)."""
    plan = plan_of(spark, "shingle_novelty_scores")
    assert "Join" not in plan
    assert "Window" in plan


def formatted_plan_of(spark, name):
    """`explain("formatted")` text — unlike the tree string, it lists each
    exchange's Input columns, so shuffle PAYLOAD (not just keys) can be
    pinned."""
    df = em.queries()[name](spark, SF_DIR)
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_minhash_band_exchange_carries_no_shingles(spark):
    """r4 finding #1: the LSH band join must shuffle only (doc_id,
    band_idx, signature). An exchange partitioned on the band keys whose
    input carries the shingle array multiplies the dominant shuffle by
    LSH_BANDS x the corpus shingle volume — check every band-keyed
    exchange's Input list for an `sh`-named column."""
    fmt = formatted_plan_of(spark, "dedup_minhash_lsh")
    nodes = re.split(r"\n\(\d+\) ", fmt)
    # at small SF the band join is a BroadcastExchange; at scale a hash
    # Exchange — both are band-keyed shuffle/transfer payloads to pin
    band_exchanges = [
        n for n in nodes
        if n.startswith(("Exchange", "BroadcastExchange"))
        and re.search(r"Input \[\d+\]: \[[^\]]*band_idx", n)
    ]
    assert band_exchanges, "band-keyed exchange not found in plan"
    for n in band_exchanges:
        assert not re.search(r"\bsh(1|2)?#", n), n


def test_incremental_band_exchange_carries_no_shingles(spark):
    """The delta-ingest variant's incoming-x-existing band join must have
    the same signature-only shuffle payload as the batch form — both
    sides of the asymmetric join inherit band_signatures, and neither may
    re-acquire the shingle array below the band keys."""
    fmt = formatted_plan_of(spark, "dedup_incremental_minhash")
    nodes = re.split(r"\n\(\d+\) ", fmt)
    band_exchanges = [
        n for n in nodes
        if n.startswith(("Exchange", "BroadcastExchange"))
        and re.search(r"Input \[\d+\]: \[[^\]]*band_idx", n)
    ]
    assert band_exchanges, "band-keyed exchange not found in plan"
    for n in band_exchanges:
        assert not re.search(r"\bsh(1|2)?#", n), n


def test_plan_audit_counts_every_exchange_kind(spark):
    """The PLANS.md shuffle column must count range and SinglePartition
    exchanges, not just hashpartitioning — an orderBy-terminated or
    globally-aggregating query is not shuffle-free (the round-4 review
    found the audit understating exactly this)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from plan_audit import audit

    df = (spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
          .groupBy("k").count().orderBy("count"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = audit(plan)
    # hash (groupBy) + range (orderBy) exchanges are both present
    assert "rangepartitioning" in plan and "hashpartitioning" in plan
    assert counts["shuffles"] >= 2
    single = (spark.range(100).agg(F.sum("id"))
              ._jdf.queryExecution().executedPlan().toString())
    if "Exchange SinglePartition" in single:
        assert audit(single)["shuffles"] >= 1


def test_registry_wide_plan_invariants(spark):
    """The two registry-wide claims PLANS.md documents, pinned as a
    test: (1) no query's physical plan contains a CartesianProduct —
    every non-equi pairing must be broadcast-pruned or bucket-blocked;
    (2) Python evaluation nodes appear ONLY in the multimodal decoders
    (the single surface where Arrow-batched Python is the design).
    Iterative driver-loop queries are excluded exactly as in
    tools/plan_audit.py (their per-round plans have their own tests)."""
    import __spark_entry__ as em
    from tests.conftest import SF_DIR
    from tools.plan_audit import ITERATIVE

    py_markers = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                  "FlatMapGroupsInPandas", "MapInArrow")
    offenders_cart, offenders_py = [], []
    for name, fn in em.queries().items():
        if name in ITERATIVE:
            continue
        plan = fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders_cart.append(name)
        if any(m in plan for m in py_markers) \
                and not name.startswith("multimodal"):
            offenders_py.append(name)
    assert offenders_cart == [], offenders_cart
    assert offenders_py == [], offenders_py


# Two runs' executedPlan().toString() of
# decontaminate_strip_spans_incremental, cut to the distinct-aggregate
# rewrite (the aggregates above the Expand and the Expand itself). The
# runs put the three distinct groups (s, tp, the is_old-gated tp) in a
# different order, so the gids, the Expand rows and every column list
# above the Expand differ.
_EXPAND_RUN_A = (
    '+- HashAggregate(keys=[doc_id#596L], functions=[partial_count(s#609L) FILTER (WHERE (gid#608 = 1)), partial_count(tp#610) FILTER (WHERE (gid#608 = 2)), partial_count(CASE WHEN (is_old = 1) THEN tp END#611) FILTER (WHERE (gid#608 = 3))], output=[doc_id#596L, count#615L, count#616L, count#617L])\n'
    '   +- HashAggregate(keys=[doc_id#596L, s#609L, tp#610, CASE WHEN (is_old = 1) THEN tp END#611, gid#608], functions=[], output=[doc_id#596L, s#609L, tp#610, CASE WHEN (is_old = 1) THEN tp END#611, gid#608])\n'
    '      +- Exchange hashpartitioning(doc_id#596L, s#609L, tp#610, CASE WHEN (is_old = 1) THEN tp END#611, gid#608, 8), ENSURE_REQUIREMENTS, [plan_id=496]\n'
    '         +- HashAggregate(keys=[doc_id#596L, s#609L, tp#610, CASE WHEN (is_old = 1) THEN tp END#611, gid#608], functions=[], output=[doc_id#596L, s#609L, tp#610, CASE WHEN (is_old = 1) THEN tp END#611, gid#608])\n'
    '            +- Expand [[doc_id#596L, s#578L, null, null, 1], [doc_id#596L, null, tp#585, null, 2], [doc_id#596L, null, null, CASE WHEN (is_old#573 = 1) THEN tp#585 END, 3]], [doc_id#596L, s#609L, tp#610, CASE WHEN (is_old = 1) THEN tp END#611, gid#608]\n'
)
_EXPAND_RUN_B = (
    '+- HashAggregate(keys=[doc_id#1148L], functions=[partial_count(s#1162L) FILTER (WHERE (gid#1160 = 2)), partial_count(tp#1163) FILTER (WHERE (gid#1160 = 3)), partial_count(CASE WHEN (is_old = 1) THEN tp END#1161) FILTER (WHERE (gid#1160 = 1))], output=[doc_id#1148L, count#1167L, count#1168L, count#1169L])\n'
    '   +- HashAggregate(keys=[doc_id#1148L, CASE WHEN (is_old = 1) THEN tp END#1161, s#1162L, tp#1163, gid#1160], functions=[], output=[doc_id#1148L, CASE WHEN (is_old = 1) THEN tp END#1161, s#1162L, tp#1163, gid#1160])\n'
    '      +- Exchange hashpartitioning(doc_id#1148L, CASE WHEN (is_old = 1) THEN tp END#1161, s#1162L, tp#1163, gid#1160, 8), ENSURE_REQUIREMENTS, [plan_id=764]\n'
    '         +- HashAggregate(keys=[doc_id#1148L, CASE WHEN (is_old = 1) THEN tp END#1161, s#1162L, tp#1163, gid#1160], functions=[], output=[doc_id#1148L, CASE WHEN (is_old = 1) THEN tp END#1161, s#1162L, tp#1163, gid#1160])\n'
    '            +- Expand [[doc_id#1148L, CASE WHEN (is_old#1125 = 1) THEN tp#1137 END, null, null, 1], [doc_id#1148L, null, s#1130L, null, 2], [doc_id#1148L, null, null, tp#1137, 3]], [doc_id#1148L, CASE WHEN (is_old = 1) THEN tp END#1161, s#1162L, tp#1163, gid#1160]\n'
)


def test_normalize_canonicalizes_expand_group_order():
    """tools/plan_hashes.normalize must map both runs to one text, so a
    two-tree plan diff needs no list of run-unstable queries; a real
    change to the rewrite (here a FILTER pointed at another group) must
    still show."""
    from tools.plan_hashes import normalize

    assert _EXPAND_RUN_A != _EXPAND_RUN_B
    assert normalize(_EXPAND_RUN_A) == normalize(_EXPAND_RUN_B)
    broken = _EXPAND_RUN_B.replace("gid#1160 = 3)), partial_count(CASE",
                                   "gid#1160 = 2)), partial_count(CASE")
    assert broken != _EXPAND_RUN_B
    assert normalize(broken) != normalize(_EXPAND_RUN_A)
