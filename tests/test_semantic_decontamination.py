"""Semantic (embedding-side) decontamination: the exclusion property the
oracle hash cannot express — a PARAPHRASED eval document shares no 3-gram
with its source (every lexical screen passes it) but stays close in
embedding space (the semantic screen catches it) — plus batch/incremental
path equivalence and the sentinel/threshold edge cases."""

import duckdb
import pytest

from qucosa_fcrepo_reportingdb_spark.operators import corpus as C
from tests.conftest import SF_DIR
from tests.oracle import compare


# --- fixture corpus -------------------------------------------------------
# key_hash membership (Knuth multiplicative, BENCH_RATE = 5%):
#   id 0            -> suite   (both as a document and as an embedding)
#   ids 1..10       -> corpus; 8, 9 are "incoming" (id % 10 >= 8)
SUITE_TEXT = ("the quick brown fox jumps over the lazy dog near the old "
              "stone bridge while evening light fades across the water")
# Same meaning, zero shared 3-token sequence with SUITE_TEXT.
PARAPHRASE = ("a fast auburn animal leaps across one sleepy canine beside "
              "an ancient rock crossing as dusk glow dims on that river")
UNRELATED = ("quarterly revenue grew nine percent driven by strong demand "
             "for industrial sensors and favorable currency movements")

DIM = 8


def _sans_epoch(rows):
    """Streamed verdict rows minus the trailing suite_epoch column —
    every decontamination stream's verdict schema ends with the
    suite-state epoch stamp (ADVICE r12 convention), which the batch
    operators deliberately lack (batch HAS a single 'the suite'
    moment)."""
    return sorted(tuple(r)[:-1] for r in rows)


def _assert_epoch_current(rows, store, table, schema):
    """With suite material delivered before the corpus, every verdict
    saw the FULL suite state: one distinct epoch equal to the current
    state count — the staleness detector fires for no row."""
    n_state = store.read(table, schema).count()
    assert {r.suite_epoch for r in rows} == {n_state} and n_state > 0


def _vec(kind: str) -> list[float]:
    if kind == "suite":
        return [1.0, 0.2, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]
    if kind == "near":  # cosine vs suite ~0.97
        return [0.9, 0.3, 0.1, 0.0, 0.1, 0.0, 0.0, 0.0]
    return [0.0, 0.0, 0.0, 1.0, 0.0, 0.9, 0.3, 0.0]  # ~orthogonal


@pytest.fixture()
def fixture_dir(spark, tmp_path):
    docs = [(0, SUITE_TEXT), (1, PARAPHRASE), (2, UNRELATED)]
    emb = [(0, _vec("suite"), 0), (1, _vec("near"), 0),
           (2, _vec("far"), 0)]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tmp_path}/{t}.parquet/*.parquet'")
    return str(tmp_path), con


def test_paraphrase_passes_lexical_screen_but_not_semantic(
        spark, fixture_dir):
    sf, con = fixture_dir
    # every lexical screen passes the paraphrase: zero shared 3-grams
    lex = {r.doc_id: r for r in
           C.decontaminate_ngram_overlap(spark, sf).collect()}
    assert lex[1].n_overlap == 0 and not lex[1].contaminated
    # the semantic screen catches it — and only it
    sem = {r.vec_id: r for r in
           C.decontaminate_embedding(spark, sf).collect()}
    assert sem[1].contaminated and sem[1].n_hits == 1
    assert sem[1].max_cosine >= C.SEMANTIC_COSINE_THRESHOLD
    assert not sem[2].contaminated
    # suite member is screened OUT of the output, not flagged
    assert 0 not in sem
    # both engines agree on the fixture too, not just the driver corpora
    r = compare(C.decontaminate_embedding(spark, sf), con,
                C.ORACLES["decontaminate_embedding"])
    assert r["ok"], r


def test_semantic_no_candidate_sentinel(spark, tmp_path):
    # corpus vector alone in its cell: no suite candidate -> sentinel
    # max_cosine (outside [-1, 1]), zero hits, not contaminated
    emb = [(0, _vec("suite"), 0), (1, _vec("near"), 3)]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    rows = {r.vec_id: r for r in
            C.decontaminate_embedding(spark, str(tmp_path)).collect()}
    assert rows[1].n_hits == 0
    assert rows[1].max_cosine == C._NO_CANDIDATE
    assert not rows[1].contaminated


def test_every_semantic_schedule_form_is_registered():
    """Each (schedule, form) of the schedule table is a registry query
    with a DuckDB oracle: a form added to the table without its named
    entry fails here."""
    assert len(C._SEMANTIC_FORMS) == 12
    for name in C._SEMANTIC_FORMS:
        assert name in C.QUERIES and name in C.ORACLES, name
        assert C.QUERIES[name].__name__ == name
    # each release form has its own named path-equivalence test below
    assert {name for name, s in C.SEMANTIC_SCHEDULES.items()
            if "suite_refresh" in s.forms} == {"topk", "exact", "lsh"}


@pytest.mark.parametrize("schedule", [
    name for name, s in C.SEMANTIC_SCHEDULES.items()
    if "incremental" in s.forms])
def test_semantic_incremental_equals_batch_on_incoming(spark, schedule):
    """Every semantic schedule's delta-ingest form: each row is the
    batch screen's row for an incoming id, and the output covers EVERY
    incoming corpus vector."""
    forms = C.SEMANTIC_SCHEDULES[schedule].forms
    batch = {r.vec_id: r for r in
             C.QUERIES[forms["batch"]](spark, SF_DIR).collect()}
    inc = C.QUERIES[forms["incremental"]](spark, SF_DIR).collect()
    assert len(inc) > 0
    for r in inc:
        assert r.vec_id % C.INCREMENTAL_MOD >= C.INCREMENTAL_NEW
        b = batch[r.vec_id]
        assert (r.n_hits, r.max_cosine, r.contaminated) == \
            (b.n_hits, b.max_cosine, b.contaminated)
    incoming_ids = {v for v in batch
                    if v % C.INCREMENTAL_MOD >= C.INCREMENTAL_NEW}
    assert {r.vec_id for r in inc} == incoming_ids


def test_semantic_screen_flags_nontrivially_at_sf(spark):
    rows = C.decontaminate_embedding(spark, SF_DIR).collect()
    flagged = [r for r in rows if r.contaminated]
    assert 0 < len(flagged) < len(rows)
    for r in flagged:
        assert r.max_cosine >= C.SEMANTIC_COSINE_THRESHOLD


def test_stream_semantic_decontaminate_matches_batch(spark, store, tmp_path):
    """Suite embeddings delivered first (one file), corpus embeddings
    over two later microbatches: the accumulated-suite streaming path
    must produce exactly the batch decontaminate_embedding verdicts on
    the union — one scoring code path (semantic_screen_frame), so the
    parity is structural, and the pin proves the state plumbing."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        BENCH_RATE,
        key_hash,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        SEM_SUITE_SCHEMA,
        SEM_SUITE_TABLE,
        SEM_VERDICT_SCHEMA,
        SEM_VERDICTS_TABLE,
        stream_semantic_decontaminate,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    is_suite = F.expr(key_hash("vec_id")) < BENCH_RATE
    src = str(tmp_path / "emb")
    emb.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = emb.filter(~is_suite)
    corpus.filter("vec_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("vec_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    q = stream_semantic_decontaminate(spark, src, store,
                                      str(tmp_path / "ck"))
    q.awaitTermination(120)

    rows = store.read(SEM_VERDICTS_TABLE, SEM_VERDICT_SCHEMA).collect()
    got = _sans_epoch(rows)
    expected = sorted(map(tuple,
                          C.decontaminate_embedding(spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[3] for r in got), "fixture has no semantically flagged docs"
    _assert_epoch_current(rows, store, SEM_SUITE_TABLE, SEM_SUITE_SCHEMA)

    # restart (same checkpoint, no new files) + full reprocess (fresh
    # checkpoint, same store) leave the verdicts bit-identical — the
    # family posture, completing the single-probe screen's pins
    # (VERDICT r14 item 4's closure sweep)
    stream_semantic_decontaminate(
        spark, src, store, str(tmp_path / "ck")).awaitTermination(120)
    stream_semantic_decontaminate(
        spark, src, store, str(tmp_path / "ck_replay")).awaitTermination(180)
    again = store.read(SEM_VERDICTS_TABLE, SEM_VERDICT_SCHEMA).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_multiprobe_dominates_single_probe(spark):
    """Structural dominance: the multiprobe screen's candidate cells are
    a superset of the single-probe screen's (own cell + nearest), so its
    flag set must contain the blocked screen's, and the recall audit
    must read both as pure-subset of the exact screen (n_common ==
    n_flagged — blocking can only LOSE flags, never invent them)."""
    blocked = {r.vec_id for r in
               C.decontaminate_embedding(spark, SF_DIR).collect()
               if r.contaminated}
    multi = {r.vec_id for r in
             C.decontaminate_embedding_multiprobe(spark, SF_DIR).collect()
             if r.contaminated}
    assert blocked <= multi
    audit = {r.method: r for r in
             C.semantic_screen_recall_audit(spark, SF_DIR).collect()}
    for m, r in audit.items():
        assert r.n_common == r.n_flagged, m
        assert r.n_flagged <= r.n_true, m
    assert (audit["cell_multiprobe"].recall
            >= audit["cell_blocked"].recall)
    assert audit["cell_multiprobe"].n_flagged == len(multi)
    assert audit["cell_blocked"].n_flagged == len(blocked)


def test_embedding_multisuite_incremental_is_batch_plus_phase(spark):
    """Path equivalence for the embedding multi-suite screen: the
    incremental (ingest/backfill) output must be row-identical to the
    batch operator's plus the phase label — the disjoint-suite
    decomposition loses nothing — and per-suite attribution must be
    consistent with the contaminated verdict."""
    batch = {r.vec_id: r for r in
             C.decontaminate_embedding_multisuite(spark, SF_DIR).collect()}
    inc = C.decontaminate_embedding_multisuite_incremental(
        spark, SF_DIR).collect()
    assert len(inc) == len(batch) > 0
    n_suite_cols = [f"n_hits_suite{k}" for k in range(C.N_BENCH_SUITES)]
    for r in inc:
        b = batch[r.vec_id]
        assert [r[c] for c in n_suite_cols] == [b[c] for c in n_suite_cols]
        assert r.contaminated == b.contaminated
        assert r.contaminated == any(r[c] >= 1 for c in n_suite_cols)
        want = ("ingest" if r.vec_id % C.INCREMENTAL_MOD
                >= C.INCREMENTAL_NEW else "backfill")
        assert r.phase == want
    flagged = [r for r in inc if r.contaminated]
    assert 0 < len(flagged) < len(inc)


def test_stream_multisuite_semantic_matches_batch(spark, store, tmp_path):
    """Suite vectors first, corpus over two microbatches: the streaming
    multi-suite screen's merged verdicts must equal the batch
    decontaminate_embedding_multisuite rows — per-suite attribution
    included."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        SEM_MS_VERDICTS_TABLE,
        _sem_ms_verdict_schema,
        stream_semantic_multisuite_decontaminate,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    is_suite = (F.expr(C.key_hash("vec_id")) % C.SUITE_SLICE_MOD
                < C.N_BENCH_SUITES)
    src = str(tmp_path / "emb")
    emb.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = emb.filter(~is_suite)
    corpus.filter("vec_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("vec_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    q = stream_semantic_multisuite_decontaminate(
        spark, src, store, str(tmp_path / "ck"))
    q.awaitTermination(120)

    rows = store.read(
        SEM_MS_VERDICTS_TABLE,
        _sem_ms_verdict_schema(C.N_BENCH_SUITES)).collect()
    got = _sans_epoch(rows)
    expected = sorted(map(tuple, C.decontaminate_embedding_multisuite(
        spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[-1] for r in got), "fixture has no flagged docs"
    # ADVICE r13: the multisuite stream was the one decontamination
    # stream without the epoch stamp — now stamped like the rest.
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        SEM_MS_SUITE_SCHEMA,
        SEM_MS_SUITE_TABLE,
    )
    _assert_epoch_current(rows, store, SEM_MS_SUITE_TABLE,
                          SEM_MS_SUITE_SCHEMA)

    # restart (same checkpoint, no new files) + full reprocess (fresh
    # checkpoint, same store) leave the verdicts — including the
    # per-suite hit columns and the epoch stamp — bit-identical; the
    # reprocess pin VERDICT r14 item 4 asked after (the epoch column
    # is reprocess-stable because it is a pure function of suite-state
    # CONTENT, which a replay only re-merges identically)
    stream_semantic_multisuite_decontaminate(
        spark, src, store, str(tmp_path / "ck")).awaitTermination(120)
    stream_semantic_multisuite_decontaminate(
        spark, src, store, str(tmp_path / "ck_replay")).awaitTermination(180)
    again = store.read(
        SEM_MS_VERDICTS_TABLE,
        _sem_ms_verdict_schema(C.N_BENCH_SUITES)).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


# --- round-12 recall-targeted screen ---------------------------------------


def test_recallk_meets_target_and_beats_prior_schedules(spark):
    """The r11 weak finding's fix, measured: the suite-top-k screen's
    audited recall meets SEMANTIC_RECALL_TARGET (0.90 at this SF; 0.88
    at sf0.1 where the verdict measured 0.13/0.27) and strictly beats
    both prior schedules; every blocked method stays a pure subset of
    the exact screen (n_common == n_flagged)."""
    audit = {r.method: r for r in
             C.semantic_screen_recall_audit(spark, SF_DIR).collect()}
    assert set(audit) == {"cell_blocked", "cell_multiprobe",
                          "lsh_bands", "suite_topk_probe"}
    assert audit["lsh_bands"].recall >= C.SEMANTIC_RECALL_TARGET
    topk = audit["suite_topk_probe"]
    assert topk.recall >= C.SEMANTIC_RECALL_TARGET
    assert topk.recall > audit["cell_multiprobe"].recall
    assert topk.recall > audit["cell_blocked"].recall
    for m, r in audit.items():
        assert r.n_common == r.n_flagged, m
    flagged = {r.vec_id for r in
               C.decontaminate_embedding_recallk(spark, SF_DIR).collect()
               if r.contaminated}
    assert topk.n_flagged == len(flagged)


def test_recallk_catches_cross_cell_paraphrase(spark, tmp_path):
    """The exclusion property the fix exists for: a paraphrase whose
    embedding is quantized into a DIFFERENT cell than its suite source
    (cosine 0.97, cells 0 vs 3) sails through the single-probe screen
    — and the recall-targeted screen catches it, because the suite
    vector is multi-assigned into the paraphrase's cell. The exact
    screen agrees; an unrelated vector stays clean everywhere."""
    emb = [(0, _vec("suite"), 0), (1, _vec("near"), 3),
           (2, _vec("far"), 3)]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)
    single = {r.vec_id: r for r in
              C.decontaminate_embedding(spark, sf).collect()}
    assert not single[1].contaminated          # the documented caveat
    recallk = {r.vec_id: r for r in
               C.decontaminate_embedding_recallk(spark, sf).collect()}
    assert recallk[1].contaminated and recallk[1].n_hits == 1
    assert recallk[1].max_cosine >= C.SEMANTIC_COSINE_THRESHOLD
    assert not recallk[2].contaminated
    exact = {r.vec_id: r for r in
             C.decontaminate_embedding_exact(spark, sf).collect()}
    assert exact[1].contaminated and not exact[2].contaminated
    # same verdict schema across schedules: consumers swap screens
    assert recallk[1].asDict().keys() == single[1].asDict().keys()


def test_exact_screen_is_recall_one_and_contains_every_schedule(spark):
    """decontaminate_embedding_exact IS the audit's brute-force truth:
    its flag set equals the exact positives (recall 1.0 by
    construction), and every blocked schedule's flags are a subset."""
    exact = {r.vec_id for r in
             C.decontaminate_embedding_exact(spark, SF_DIR).collect()
             if r.contaminated}
    audit = {r.method: r for r in
             C.semantic_screen_recall_audit(spark, SF_DIR).collect()}
    assert len(exact) == audit["suite_topk_probe"].n_true
    for fn in (C.decontaminate_embedding,
               C.decontaminate_embedding_multiprobe,
               C.decontaminate_embedding_lsh,
               C.decontaminate_embedding_recallk):
        flagged = {r.vec_id for r in fn(spark, SF_DIR).collect()
                   if r.contaminated}
        assert flagged <= exact, fn.__name__


def test_exact_family_keeps_corpus_on_empty_suite(spark, tmp_path):
    """ADVICE r14: the exact screens' old broadcast CROSS join silently
    dropped every corpus row when the suite was empty, while the DuckDB
    oracle's LEFT JOIN kept them (n_hits=0, max_cosine=_NO_CANDIDATE).
    Build an embeddings table whose every vec_id hashes OUTSIDE
    benchmark membership (suite genuinely empty) and pin engine ==
    oracle on it for all three exact forms, plus the verdict values."""
    ids = [r.id for r in spark.range(400).filter(
        f"NOT ({C.key_hash('id')} < {C.BENCH_RATE})").collect()][:10]
    assert len(ids) == 10
    kinds = ["suite", "near", "far"]
    emb = [(int(i), _vec(kinds[k % 3]), k % 4)
           for k, i in enumerate(ids)]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)
    con = duckdb.connect()
    # spark writes a directory of part files; glob them for duckdb
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf}/embeddings.parquet/*.parquet'")
    for name in ("decontaminate_embedding_exact",
                 "decontaminate_embedding_exact_incremental",
                 "decontaminate_embedding_exact_suite_refresh"):
        res = compare(C.QUERIES[name](spark, sf), con, C.ORACLES[name])
        assert res["ok"], (name, res)
    rows = C.decontaminate_embedding_exact(spark, sf).collect()
    assert {r.vec_id for r in rows} == set(ids)
    assert all(r.n_hits == 0 and not r.contaminated
               and r.max_cosine == C._NO_CANDIDATE for r in rows)


def test_probe_sweep_frontier_shape(spark):
    """The sweep's structural invariants: one row per k = 1..n_cells,
    recall and candidate volume both non-decreasing in k, k = n_cells
    is exactly the exact screen (recall 1.0, candidate_pairs = corpus x
    suite), and meets_target is the recall-vs-target comparison the
    policy reads."""
    rows = sorted(C.semantic_probe_recall_sweep(spark, SF_DIR).collect(),
                  key=lambda r: r.k)
    assert [r.k for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert a.recall <= b.recall
        assert a.candidate_pairs < b.candidate_pairs
        assert a.n_true == b.n_true
    last = rows[-1]
    assert last.recall == 1.0
    n = C._suite_flagged_embeddings(spark, SF_DIR)
    n_suite = n.filter("is_suite").count()
    n_corpus = n.filter("NOT is_suite").count()
    assert last.candidate_pairs == n_suite * n_corpus
    for r in rows:
        assert r.meets_target == (r.recall >= C.SEMANTIC_RECALL_TARGET)
    # SEMANTIC_PROBE_K carries margin over the wall at every corpus
    # (k_star is corpus-dependent: 6 here, 7 at sf0.01/sf0.1 where the
    # constant was chosen one step above it)
    k_star = min(r.k for r in rows if r.meets_target)
    assert C.SEMANTIC_PROBE_K >= k_star


def test_policy_reads_sweep_and_dispatch_resolves(spark):
    """semantic_screen_policy's decision is the sweep's: k_star = the
    smallest k meeting the target; action fires the exact cutover iff
    cand_frac crosses it; and every artifact the dispatch cites
    resolves (registry queries, stream callable, actuator callable) —
    the saturation_remedy_artifacts convention."""
    import __spark_entry__ as em
    from qucosa_fcrepo_reportingdb_spark.streaming import jobs as J

    sweep = sorted(C.semantic_probe_recall_sweep(spark, SF_DIR).collect(),
                   key=lambda r: r.k)
    pol = C.semantic_screen_policy(spark, SF_DIR).collect()
    assert len(pol) == 1
    p = pol[0]
    k_star = min(r.k for r in sweep if r.meets_target)
    assert p.k_star == k_star
    at = next(r for r in sweep if r.k == k_star)
    assert (p.recall_at_k, p.candidate_pairs, p.n_true, p.n_caught) == \
        (at.recall, at.candidate_pairs, at.n_true, at.n_caught)
    assert p.n_cells == max(r.k for r in sweep)
    assert p.exact_pairs == sweep[-1].candidate_pairs
    assert p.cand_frac == p.candidate_pairs / p.exact_pairs
    assert p.lsh_frac == p.lsh_cand_pairs / p.exact_pairs
    assert p.lsh_recall == p.lsh_n_caught / p.n_true
    # three-schedule decision rule (r13): among recall-eligible
    # blocked schedules take the cheaper; exact only when even that
    # reaches the cutover
    lsh_wins = (p.lsh_recall >= C.SEMANTIC_RECALL_TARGET
                and p.lsh_frac < p.cand_frac)
    chosen_frac = p.lsh_frac if lsh_wins else p.cand_frac
    want = ("exact_screen" if chosen_frac >= C.SEMANTIC_EXACT_CUTOVER
            else ("lsh_bands" if lsh_wins else "topk_probe"))
    assert p.action == want
    # on this near-isotropic corpus the angle-keyed schedule must win:
    # cells are signal-free (top-k prices near the exact volume) while
    # the LSH bands stay recall-eligible at a fraction of it — the
    # sub-linear option the r12 verdict asked the policy to gain
    assert p.action == "lsh_bands"

    registry = em.queries()
    oracles = em.oracle_sql()
    for action in C.SEMANTIC_SCREEN_DISPATCH:
        rec = C.semantic_screen_artifacts(action)
        assert rec["action"] == action
        for key in ("policy", "batch", "incremental", "suite_refresh"):
            assert rec[key] in registry, (action, key, rec[key])
            assert rec[key] in oracles, (action, key, rec[key])
        assert callable(getattr(J, rec["stream"])), action
        assert callable(getattr(C, rec["actuator"][0])), action
    assert p.action in C.SEMANTIC_SCREEN_DISPATCH
    with pytest.raises(ValueError):
        C.semantic_screen_artifacts("no_such_action")


def test_lsh_screen_recall_meets_target_below_cutover(spark):
    """The angle-keyed screen's deployability pins (VERDICT r12 item
    1's Done criteria): audited entity recall >= SEMANTIC_RECALL_TARGET
    on the driver corpus, at candidate volume well below the
    exact-screen cutover — the regime where the top-k schedule prices
    near the exact volume because the quantizer's cells carry no
    cosine signal."""
    audit = {r.method: r for r in
             C.semantic_screen_recall_audit(spark, SF_DIR).collect()}
    assert audit["lsh_bands"].recall >= C.SEMANTIC_RECALL_TARGET
    p = C.semantic_screen_policy(spark, SF_DIR).collect()[0]
    assert p.lsh_recall == audit["lsh_bands"].recall
    assert p.lsh_frac < C.SEMANTIC_EXACT_CUTOVER * 0.75
    # structural sanity: every flagged entity is exact-verified (the
    # rescore is the exact cosine, so blocking can only LOSE flags)
    assert audit["lsh_bands"].n_flagged == audit["lsh_bands"].n_common


def test_lsh_band_sweep_frontier_and_production_point(spark):
    """The bands-vs-recall frontier's structural pins: one row per
    prefix size b, recall and candidate volume non-decreasing in b,
    and the b = SEMANTIC_LSH_BANDS row IS the production screen — its
    recall/caught equal the recall audit's lsh_bands row and its
    candidate volume equals the policy's priced lsh_cand_pairs, so the
    three artifacts cannot drift apart."""
    rows = sorted(C.semantic_lsh_band_sweep(spark, SF_DIR).collect(),
                  key=lambda r: r.b)
    assert [r.b for r in rows] == \
        list(range(1, C.SEMANTIC_LSH_BANDS + 1))
    for a, b in zip(rows, rows[1:]):
        assert a.recall <= b.recall
        assert a.candidate_pairs <= b.candidate_pairs
        assert a.n_true == b.n_true
    last = rows[-1]
    assert last.meets_target
    audit = {r.method: r for r in
             C.semantic_screen_recall_audit(spark, SF_DIR).collect()}
    assert last.recall == audit["lsh_bands"].recall
    assert last.n_caught == audit["lsh_bands"].n_common
    pol = C.semantic_screen_policy(spark, SF_DIR).collect()[0]
    assert last.candidate_pairs == pol.lsh_cand_pairs
    assert last.n_true == pol.n_true


def test_lsh_weights_and_bands_pin(spark):
    """The hyperplane constants' three-way exactness: the DuckDB
    weight CTE chain (the oracle's stepwise mix) reproduces the
    driver-side _lsh_weight integers bit-for-bit (the Spark side is
    then proven by every oracle hash match), the weights are genuinely
    mixed (no affine-in-j degeneracy — the similarity.py LCG weights'
    failure mode), and the band index constants are in-range and
    distinct within each band."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT 1 AS vec_id, "
                "[0.5, 0.5, 0.5] AS embedding")  # 3-dim probe corpus
    sql = f"""
WITH n AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
{C._lsh_weight_ctes()}
SELECT j, d, wt FROM m6 ORDER BY j, d"""
    got = {(j, d): wt for j, d, wt in con.execute(sql).fetchall()}
    assert len(got) == C.SEMANTIC_LSH_POOL * 3
    for (j, d), wt in got.items():
        assert wt == C._lsh_weight(j, d), (j, d)
    # non-degeneracy: consecutive-j weight deltas must vary (an affine
    # construction gives a constant delta for fixed d)
    deltas = {C._lsh_weight(j + 1, 1) - C._lsh_weight(j, 1)
              for j in range(50)}
    assert len(deltas) > 10
    bands = C._lsh_band_indices()
    assert len(bands) == C.SEMANTIC_LSH_BANDS
    for band in bands:
        assert len(band) == len(set(band)) == C.SEMANTIC_LSH_BAND_BITS
        assert all(0 <= i < C.SEMANTIC_LSH_POOL for i in band)


def test_stream_lsh_matches_batch(spark, store, tmp_path):
    """The angle-keyed screen's streaming twin: suite first, corpus
    over two microbatches, merged verdicts equal the batch operator's
    (one signing seam and one verdict body, so neither the signature
    nor the gate can drift between forms)."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        LSH_SCREEN_VERDICTS_TABLE,
        SEM_VERDICT_SCHEMA,
        stream_semantic_lsh_decontaminate,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    is_suite = F.expr(C.key_hash("vec_id")) < C.BENCH_RATE
    src = str(tmp_path / "emb")
    emb.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = emb.filter(~is_suite)
    corpus.filter("vec_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("vec_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    q = stream_semantic_lsh_decontaminate(
        spark, src, store, str(tmp_path / "ck"))
    q.awaitTermination(180)
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        LSH_SCREEN_SUITE_SCHEMA,
        LSH_SCREEN_SUITE_TABLE,
    )
    rows = store.read(LSH_SCREEN_VERDICTS_TABLE,
                      SEM_VERDICT_SCHEMA).collect()
    got = _sans_epoch(rows)
    expected = sorted(map(tuple, C.decontaminate_embedding_lsh(
        spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[3] for r in got)
    _assert_epoch_current(rows, store, LSH_SCREEN_SUITE_TABLE,
                          LSH_SCREEN_SUITE_SCHEMA)

    # restart on the same checkpoint finds no new files (no state
    # perturbation), and a full REPROCESS into the same store (fresh
    # checkpoint) is idempotent: the keyed merges rewrite identical
    # verdicts, suite bits only re-merge, so the epoch column is also
    # bit-identical — the at-least-once posture the other screen
    # streams pinned in r12 (VERDICT r13 item 5).
    q2 = stream_semantic_lsh_decontaminate(
        spark, src, store, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    q3 = stream_semantic_lsh_decontaminate(
        spark, src, store, str(tmp_path / "ck_replay"))
    q3.awaitTermination(180)
    again = store.read(LSH_SCREEN_VERDICTS_TABLE,
                       SEM_VERDICT_SCHEMA).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    _assert_epoch_current(again, store, LSH_SCREEN_SUITE_TABLE,
                          LSH_SCREEN_SUITE_SCHEMA)


def test_stream_recallk_matches_batch_and_exact_via_k_none(
        spark, store, tmp_path):
    """The recall-targeted screen's streaming twin: suite first, corpus
    over two microbatches, verdicts equal the batch operator's (one
    expansion seam, so the schedule can't drift). The SAME topology
    with k=None runs the exact screen — the policy's exact_screen
    action needs no different stream."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _full_centroid_arrays,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        SEM_RK_VERDICTS_TABLE,
        SEM_VERDICT_SCHEMA,
        stream_semantic_recallk_decontaminate,
    )
    from qucosa_fcrepo_reportingdb_spark.tables import TableStore

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    is_suite = F.expr(C.key_hash("vec_id")) < C.BENCH_RATE
    src = str(tmp_path / "emb")
    emb.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = emb.filter(~is_suite)
    corpus.filter("vec_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("vec_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    cents = _full_centroid_arrays(spark, SF_DIR)
    q = stream_semantic_recallk_decontaminate(
        spark, src, store, str(tmp_path / "ck"), cents)
    q.awaitTermination(120)
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        SEM_RK_SUITE_TABLE,
        SEM_SUITE_SCHEMA,
    )
    rows = store.read(SEM_RK_VERDICTS_TABLE,
                      SEM_VERDICT_SCHEMA).collect()
    got = _sans_epoch(rows)
    expected = sorted(map(tuple, C.decontaminate_embedding_recallk(
        spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[3] for r in got)
    _assert_epoch_current(rows, store, SEM_RK_SUITE_TABLE,
                          SEM_SUITE_SCHEMA)

    # restart (same checkpoint, no new files) + full reprocess (fresh
    # checkpoint, same store) leave the verdicts bit-identical — the
    # family posture (VERDICT r14 item 4's closure sweep; the earlier
    # ck2 run below is the k=None VARIANT into a separate store, not a
    # replay, so the recallk stream lacked these pins)
    stream_semantic_recallk_decontaminate(
        spark, src, store, str(tmp_path / "ck"), cents).awaitTermination(120)
    stream_semantic_recallk_decontaminate(
        spark, src, store, str(tmp_path / "ck_replay"),
        cents).awaitTermination(180)
    again = store.read(SEM_RK_VERDICTS_TABLE, SEM_VERDICT_SCHEMA).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))

    exact_store = TableStore(spark, str(tmp_path / "exact_tables"))
    q2 = stream_semantic_recallk_decontaminate(
        spark, src, exact_store, str(tmp_path / "ck2"), cents, k=None)
    q2.awaitTermination(120)
    got_exact = _sans_epoch(exact_store.read(
        SEM_RK_VERDICTS_TABLE, SEM_VERDICT_SCHEMA).collect())
    expected_exact = sorted(map(tuple, C.decontaminate_embedding_exact(
        spark, SF_DIR).collect()))
    assert got_exact == expected_exact and len(got_exact) > 0


def test_phash_screen_catches_reencoded_asset_exactly(spark):
    """The pixel-side paraphrase analog (VERDICT r11 item 7): the
    synthetic corpus's designed near-dup pairs (doc 4k, 4k+1 — same
    motif re-encoded through the real PNG round-trip, dHash distance
    <= 2) stand in for a re-encoded suite asset. Every corpus member
    whose designed partner is in the suite must be flagged within the
    hamming gate; nothing else is (the corpus is designed with zero
    accidental pairs), and the pigeonhole-exact blocking means this is
    recall 1.0 structurally — no remedy schedule needed."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        PHASH_HAMMING_MAX,
    )

    rows = {r.doc_id: r for r in
            C.decontaminate_phash(spark, SF_DIR).collect()}
    suite, corpus = _suite_split(spark, SF_DIR)
    assert set(rows) == corpus
    expected = _designed_expected(corpus, suite)
    flagged = {d for d, r in rows.items() if r.contaminated}
    assert flagged == expected and len(expected) > 0
    for d in expected:
        assert rows[d].n_hits == 1
        assert 0 <= rows[d].min_hamming <= PHASH_HAMMING_MAX
    for d in corpus - expected:
        assert rows[d].n_hits == 0
        assert rows[d].min_hamming == C.PHASH_NO_HIT


def test_phash_incremental_equals_batch_on_incoming(spark):
    batch = {r.doc_id: r for r in
             C.decontaminate_phash(spark, SF_DIR).collect()}
    inc = C.decontaminate_phash_incremental(spark, SF_DIR).collect()
    assert len(inc) > 0
    for r in inc:
        assert r.doc_id % 4 == 1
        b = batch[r.doc_id]
        assert (r.n_hits, r.min_hamming, r.contaminated) == \
            (b.n_hits, b.min_hamming, b.contaminated)
    incoming_ids = {d for d in batch if d % 4 == 1}
    assert {r.doc_id for r in inc} == incoming_ids
    assert any(r.contaminated for r in inc)


def test_stream_phash_decontaminate_matches_batch(spark, store, tmp_path):
    """Suite assets first, corpus assets over two microbatches: the
    streaming perceptual screen's merged verdicts must equal the batch
    decontaminate_phash rows — one signing stage, one banded join body
    (phash_screen_frame), so the parity is structural."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        PH_SCREEN_VERDICT_SCHEMA,
        PH_SCREEN_VERDICTS_TABLE,
        stream_phash_decontaminate,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id")
    is_suite = F.expr(C.key_hash("doc_id")) < C.BENCH_RATE
    src = str(tmp_path / "docs")
    docs.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = docs.filter(~is_suite)
    corpus.filter("doc_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("doc_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    q = stream_phash_decontaminate(spark, src, store,
                                   str(tmp_path / "ck"))
    q.awaitTermination(180)

    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        PH_SCREEN_SUITE_SCHEMA,
        PH_SCREEN_SUITE_TABLE,
    )
    rows = store.read(PH_SCREEN_VERDICTS_TABLE,
                      PH_SCREEN_VERDICT_SCHEMA).collect()
    got = _sans_epoch(rows)
    expected = sorted(map(tuple,
                          C.decontaminate_phash(spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[3] for r in got), "fixture has no flagged assets"
    _assert_epoch_current(rows, store, PH_SCREEN_SUITE_TABLE,
                          PH_SCREEN_SUITE_SCHEMA)

    # restart on the same checkpoint finds no new files, and a full
    # REPROCESS (fresh checkpoint, same store) is idempotent — the
    # family posture, completing the image screen's pins (VERDICT r14
    # item 4's closure sweep; audio/video carry theirs in the
    # parametrized perceptual test)
    stream_phash_decontaminate(
        spark, src, store, str(tmp_path / "ck")).awaitTermination(120)
    stream_phash_decontaminate(
        spark, src, store, str(tmp_path / "ck_replay")).awaitTermination(180)
    again = store.read(PH_SCREEN_VERDICTS_TABLE,
                       PH_SCREEN_VERDICT_SCHEMA).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def _suite_split(spark, sf_dir):
    doc_ids = set(spark.read.parquet(sf_dir + "/documents.parquet")
                  .selectExpr("doc_id").rdd.map(lambda r: r[0]).collect())

    def key_hash(d):
        k = d % C.MOD
        lo, hi = k % 65536, (k - k % 65536) // 65536
        return (lo * C.MULT + (hi * C.MULT % C.MOD) * 65536) % C.MOD

    suite = {d for d in doc_ids if key_hash(d) < C.BENCH_RATE}
    return suite, doc_ids - suite


def _designed_expected(corpus, suite):
    def partner(d):
        return d + 1 if d % 4 == 0 else (d - 1 if d % 4 == 1 else None)
    return {d for d in corpus
            if partner(d) is not None and partner(d) in suite}


def test_afp_screen_catches_reencoded_audio_exactly(spark):
    """Audio analog of the phash screen test: the designed re-encode
    pairs (same energy motif through the real WAV round-trip) are
    caught iff the partner is in the suite; the exact-banding guarantee
    means nothing else is flagged on the zero-accidental corpus."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        AFP_HAMMING_MAX,
    )
    suite, corpus = _suite_split(spark, SF_DIR)
    rows = {r.doc_id: r for r in
            C.decontaminate_afp(spark, SF_DIR).collect()}
    assert set(rows) == corpus
    expected = _designed_expected(corpus, suite)
    flagged = {d for d, r in rows.items() if r.contaminated}
    assert flagged == expected and len(expected) > 0
    for d in expected:
        assert rows[d].n_hits == 1
        assert 0 <= rows[d].min_hamming <= AFP_HAMMING_MAX
    for d in corpus - expected:
        assert rows[d].min_hamming == C.PHASH_NO_HIT


def test_vfp_screen_catches_reencoded_clip_at_m_of_k(spark):
    """Video analog, exercised AT the M-of-K threshold: designed pairs
    agree on 3 of 4 aligned frames by construction (the last frame
    diverges), so a caught clip's max_frames_matched sits at
    VFP_MIN_FRAMES (rarely 4 via in-gate scatter) — the rule is proven
    at its cliff, not trivially above it."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        VFP_MIN_FRAMES,
    )
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        VFP_FRAMES,
    )
    suite, corpus = _suite_split(spark, SF_DIR)
    rows = {r.doc_id: r for r in
            C.decontaminate_vfp(spark, SF_DIR).collect()}
    assert set(rows) == corpus
    expected = _designed_expected(corpus, suite)
    flagged = {d for d, r in rows.items() if r.contaminated}
    assert flagged == expected and len(expected) > 0
    for d in expected:
        assert rows[d].n_hits == 1
        assert VFP_MIN_FRAMES <= rows[d].max_frames_matched <= VFP_FRAMES
    assert any(rows[d].max_frames_matched == VFP_MIN_FRAMES
               for d in expected)
    for d in corpus - expected:
        assert rows[d].n_hits == 0
        assert rows[d].max_frames_matched == C.VFP_NO_HIT


def test_contamination_manifest_unions_all_screens(spark):
    """The capstone manifest: per corpus entity, excluded == OR of the
    five screens' flags, n_screens_flagged counts them, each flag
    column equals its screen's verdict, and flagged_semantic is NULL
    exactly for entities the embedding screen never scored (no
    embedding row / zero-norm vector) — absence of evidence kept
    distinct from a clean verdict."""
    man = {r.doc_id: r for r in
           C.contamination_manifest(spark, SF_DIR).collect()}
    text = {r.doc_id: r.contaminated for r in
            C.decontaminate_ngram_overlap(spark, SF_DIR).collect()}
    sem = {r.vec_id: r.contaminated for r in
           C.decontaminate_embedding_recallk(spark, SF_DIR).collect()}
    img = {r.doc_id: r.contaminated for r in
           C.decontaminate_phash(spark, SF_DIR).collect()}
    aud = {r.doc_id: r.contaminated for r in
           C.decontaminate_afp(spark, SF_DIR).collect()}
    vid = {r.doc_id: r.contaminated for r in
           C.decontaminate_vfp(spark, SF_DIR).collect()}
    assert set(man) == set(text)
    for d, r in man.items():
        assert r.flagged_text == text[d]
        assert r.flagged_semantic == sem.get(d)
        assert r.flagged_image == img[d]
        assert r.flagged_audio == aud[d]
        assert r.flagged_video == vid[d]
        flags = [r.flagged_text, r.flagged_semantic, r.flagged_image,
                 r.flagged_audio, r.flagged_video]
        assert r.n_screens_flagged == sum(bool(f) for f in flags)
        assert r.excluded == any(bool(f) for f in flags)
    # every screen contributes somewhere, and multi-screen entities exist
    assert any(r.flagged_text for r in man.values())
    assert any(r.flagged_semantic for r in man.values())
    assert any(r.flagged_image for r in man.values())
    assert any(r.flagged_audio for r in man.values())
    assert any(r.flagged_video for r in man.values())
    assert any(r.n_screens_flagged >= 2 for r in man.values())
    assert 0 < sum(r.excluded for r in man.values()) < len(man)


@pytest.mark.parametrize("batch_fn,inc_fn", [
    ("decontaminate_afp", "decontaminate_afp_incremental"),
    ("decontaminate_vfp", "decontaminate_vfp_incremental"),
])
def test_perceptual_incremental_equals_batch_on_incoming(
        spark, batch_fn, inc_fn):
    batch = {r.doc_id: tuple(r)[1:] for r in
             getattr(C, batch_fn)(spark, SF_DIR).collect()}
    inc = getattr(C, inc_fn)(spark, SF_DIR).collect()
    assert len(inc) > 0
    for r in inc:
        assert r.doc_id % 4 == 1
        assert tuple(r)[1:] == batch[r.doc_id]
    assert {r.doc_id for r in inc} == {d for d in batch if d % 4 == 1}
    assert any(r.contaminated for r in inc)


def test_ngram_incremental_equals_batch_on_incoming(spark):
    """The lexical screen's delta-ingest form (the text family's
    two-form completion): incoming rows identical to the batch
    screen's, coverage exactly the shared ingest convention."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        INCREMENTAL_MOD,
        INCREMENTAL_NEW,
    )
    batch = {r.doc_id: tuple(r)[1:] for r in
             C.decontaminate_ngram_overlap(spark, SF_DIR).collect()}
    inc = C.decontaminate_ngram_overlap_incremental(
        spark, SF_DIR).collect()
    assert len(inc) > 0
    for r in inc:
        assert r.doc_id % INCREMENTAL_MOD >= INCREMENTAL_NEW
        assert tuple(r)[1:] == batch[r.doc_id]
    assert {r.doc_id for r in inc} == \
        {d for d in batch if d % INCREMENTAL_MOD >= INCREMENTAL_NEW}


def test_manifest_incremental_equals_batch_on_incoming(spark):
    """The capstone manifest's delta-ingest form: the incoming batch's
    manifest rows are identical to the batch manifest's for those ids
    (every screen is corpus-vs-suite, so restricting the corpus side
    cannot change any incoming verdict), coverage is the shared ingest
    convention, and the ingest slice still exercises the union (some
    excluded, some clean)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        INCREMENTAL_MOD,
        INCREMENTAL_NEW,
    )
    batch = {r.doc_id: tuple(r)[1:] for r in
             C.contamination_manifest(spark, SF_DIR).collect()}
    inc = C.contamination_manifest_incremental(spark, SF_DIR).collect()
    assert len(inc) > 0
    for r in inc:
        assert r.doc_id % INCREMENTAL_MOD >= INCREMENTAL_NEW
        assert tuple(r)[1:] == batch[r.doc_id]
    assert {r.doc_id for r in inc} == \
        {d for d in batch if d % INCREMENTAL_MOD >= INCREMENTAL_NEW}
    assert any(r.excluded for r in inc)
    assert not all(r.excluded for r in inc)


@pytest.mark.parametrize("stream_name,batch_fn,verdict_table,verdict_schema", [
    ("stream_afp_decontaminate", "decontaminate_afp",
     "AFP_SCREEN_VERDICTS_TABLE", "AFP_SCREEN_VERDICT_SCHEMA"),
    ("stream_vfp_decontaminate", "decontaminate_vfp",
     "VFP_SCREEN_VERDICTS_TABLE", "VFP_SCREEN_VERDICT_SCHEMA"),
])
def test_stream_perceptual_decontaminate_matches_batch(
        spark, store, tmp_path, stream_name, batch_fn,
        verdict_table, verdict_schema):
    """Suite assets first, corpus assets over two microbatches: the
    streaming audio/video screens' merged verdicts must equal the batch
    operators' rows — one signing stage, one shared screen frame, so
    the parity is structural (the stream_phash_decontaminate test
    extended to the remaining modalities)."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.streaming import jobs as J

    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id")
    is_suite = F.expr(C.key_hash("doc_id")) < C.BENCH_RATE
    src = str(tmp_path / "docs")
    docs.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = docs.filter(~is_suite)
    corpus.filter("doc_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("doc_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    q = getattr(J, stream_name)(spark, src, store, str(tmp_path / "ck"))
    q.awaitTermination(180)

    rows = store.read(getattr(J, verdict_table),
                      getattr(J, verdict_schema)).collect()
    got = _sans_epoch(rows)
    expected = sorted(map(tuple,
                          getattr(C, batch_fn)(spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[3] for r in got), "fixture has no flagged assets"
    # suite delivered first -> every verdict saw the full suite state
    # (the epoch-current pin the phash screen test carries; r15 sweep)
    _assert_epoch_current(
        rows, store,
        getattr(J, verdict_table.replace("VERDICTS_TABLE", "SUITE_TABLE")),
        getattr(J, verdict_schema.replace("VERDICT_SCHEMA",
                                          "SUITE_SCHEMA")))

    # replay: restarting against the same checkpoint finds no new
    # files, and a full REPROCESS into the same store (fresh
    # checkpoint) is idempotent — the keyed merges rewrite identical
    # verdicts (the family's at-least-once posture)
    q2 = getattr(J, stream_name)(spark, src, store,
                                 str(tmp_path / "ck"))
    q2.awaitTermination(120)
    q3 = getattr(J, stream_name)(spark, src, store,
                                 str(tmp_path / "ck_replay"))
    q3.awaitTermination(180)
    again = _sans_epoch(store.read(
        getattr(J, verdict_table),
        getattr(J, verdict_schema)).collect())
    assert again == got


@pytest.mark.parametrize("batch_fn,refresh_fn,count_col,new_col,ingest_mod", [
    ("decontaminate_ngram_overlap",
     "decontaminate_ngram_overlap_suite_refresh",
     "n_overlap", "n_overlap_new_suite", 10),
    ("decontaminate_phash", "decontaminate_phash_suite_refresh",
     "n_hits", "n_hits_new_suite", 4),
    ("decontaminate_afp", "decontaminate_afp_suite_refresh",
     "n_hits", "n_hits_new_suite", 4),
    ("decontaminate_vfp", "decontaminate_vfp_suite_refresh",
     "n_hits", "n_hits_new_suite", 4),
])
def test_suite_refresh_is_batch_plus_phase_all_modalities(
        spark, batch_fn, refresh_fn, count_col, new_col, ingest_mod):
    """The suite-refresh story across every screen modality: each
    refresh row equals the batch screen's row plus the phase label and
    the new-release attribution, the attribution never exceeds the
    total (the old/new suite split is disjoint — n decomposes exactly),
    and both growth events plus both attribution outcomes are
    exercised."""
    _assert_refresh_is_batch_plus_phase(
        spark, batch_fn, refresh_fn, count_col, new_col, ingest_mod)


def _assert_semantic_refresh_is_batch_plus_phase(spark, schedule):
    forms = C.SEMANTIC_SCHEDULES[schedule].forms
    _assert_refresh_is_batch_plus_phase(
        spark, forms["batch"], forms["suite_refresh"],
        "n_hits", "n_hits_new_suite", 10)


def test_suite_refresh_is_recallk_batch_plus_phase(spark):
    """Path equivalence for the top-k schedule's single-suite refresh:
    every row equals the batch recallk screen's row plus the phase
    label and the new-suite attribution — the disjoint old/new suite
    split loses nothing — and the backfill bill decomposes onto
    n_hits_new_suite (what a deployment actually recomputes on a
    benchmark release)."""
    _assert_semantic_refresh_is_batch_plus_phase(spark, "topk")


def test_exact_suite_refresh_is_exact_batch_plus_phase(spark):
    """The same pins for the exact schedule's release event: the
    disjoint old/new split decomposes n_hits exactly, and recall stays
    1.0 by construction (every flag the batch exact screen raises
    survives the refresh form)."""
    _assert_semantic_refresh_is_batch_plus_phase(spark, "exact")


def test_lsh_suite_refresh_is_batch_plus_phase(spark):
    """The same pins for the angle-keyed screen's release event."""
    _assert_semantic_refresh_is_batch_plus_phase(spark, "lsh")


def _assert_refresh_is_batch_plus_phase(
        spark, batch_fn, refresh_fn, count_col, new_col, ingest_mod):
    """Each refresh row equals the batch row in every batch column plus
    the phase label and new-release attribution. The entity id is the
    first column (doc_id, or vec_id for embeddings)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        INCREMENTAL_MOD,
        INCREMENTAL_NEW,
    )
    batch = {r[0]: r.asDict() for r in
             C.QUERIES[batch_fn](spark, SF_DIR).collect()}
    ref = C.QUERIES[refresh_fn](spark, SF_DIR).collect()
    assert len(ref) == len(batch) > 0
    for r in ref:
        b = batch[r[0]]
        d = r.asDict()
        for k, v in b.items():
            assert d[k] == v, (r[0], k)
        assert 0 <= d[new_col] <= d[count_col]
        if ingest_mod == 4:
            want = "ingest" if r[0] % 4 == 1 else "backfill"
        else:
            want = ("ingest" if r[0] % INCREMENTAL_MOD
                    >= INCREMENTAL_NEW else "backfill")
        assert r.phase == want
    assert {r.phase for r in ref} == {"ingest", "backfill"}
    assert any(r.asDict()[new_col] >= 1 for r in ref)
    assert any(r.asDict()[count_col] > r.asDict()[new_col] >= 0
               for r in ref if r.contaminated)


def test_stream_ngram_decontaminate_matches_batch(spark, store, tmp_path):
    """The single-suite lexical screen's streaming twin: suite docs
    first, corpus docs over two microbatches, merged verdicts equal the
    batch screen's rows. Every verdict additionally carries the
    suite-state epoch it was screened under (ADVICE r12): with the
    suite delivered first, every verdict's epoch equals the final
    suite-shingle count — i.e. the staleness detector (suite_epoch <
    current state count) fires for NO row; a late suite doc would
    leave earlier verdicts below the new count, which is exactly the
    replay signal."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        NGRAM_SCREEN_VERDICT_SCHEMA,
        NGRAM_SCREEN_VERDICTS_TABLE,
        stream_ngram_decontaminate,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .select("doc_id", "text")
    is_suite = F.expr(C.key_hash("doc_id")) < C.BENCH_RATE
    src = str(tmp_path / "docs")
    docs.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
    corpus = docs.filter(~is_suite)
    corpus.filter("doc_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    corpus.filter("doc_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)

    q = stream_ngram_decontaminate(spark, src, store,
                                   str(tmp_path / "ck"))
    q.awaitTermination(120)
    rows = store.read(NGRAM_SCREEN_VERDICTS_TABLE,
                      NGRAM_SCREEN_VERDICT_SCHEMA).collect()
    got = sorted((r.doc_id, r.n_overlap, r.contaminated) for r in rows)
    expected = sorted(map(tuple, C.decontaminate_ngram_overlap(
        spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[2] for r in got)
    # suite delivered first -> every verdict saw the FULL suite state:
    # one distinct epoch, equal to the current suite-shingle count, and
    # the staleness detector (epoch < current count) fires nowhere
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        NGRAM_SCREEN_SUITE_SCHEMA,
        NGRAM_SCREEN_SUITE_TABLE,
    )
    n_state = store.read(NGRAM_SCREEN_SUITE_TABLE,
                         NGRAM_SCREEN_SUITE_SCHEMA).count()
    assert {r.suite_epoch for r in rows} == {n_state} and n_state > 0

    # full reprocess into the same store is idempotent (keyed merges
    # rewrite identical verdicts; suite shingle state only re-merges,
    # so the epoch column is also unchanged)
    q2 = stream_ngram_decontaminate(spark, src, store,
                                    str(tmp_path / "ck_replay"))
    q2.awaitTermination(120)
    again = sorted(map(tuple, store.read(
        NGRAM_SCREEN_VERDICTS_TABLE,
        NGRAM_SCREEN_VERDICT_SCHEMA).collect()))
    assert again == sorted(map(tuple, rows))


def test_stream_ngram_late_suite_doc_flags_stale_verdicts(
        spark, store, tmp_path):
    """The suite-epoch column's reason to exist (ADVICE r12): when a
    suite doc arrives AFTER corpus docs were screened, the stale
    verdicts are detectable as suite_epoch < current suite-state count
    — previously a silently violated delivery-order assumption — and a
    corpus replay both fixes the verdicts and clears the signal."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        NGRAM_SCREEN_SUITE_SCHEMA,
        NGRAM_SCREEN_SUITE_TABLE,
        NGRAM_SCREEN_VERDICT_SCHEMA,
        NGRAM_SCREEN_VERDICTS_TABLE,
        stream_ngram_decontaminate,
    )

    def h(d):
        k = d % C.MOD
        lo, hi = k % 65536, (k - k % 65536) // 65536
        return (lo * C.MULT + (hi * C.MULT % C.MOD) * 65536) % C.MOD

    suite_id = next(d for d in range(1000) if h(d) < C.BENCH_RATE)
    c1, c2 = [d for d in range(1000) if h(d) >= C.BENCH_RATE][:2]
    leak = "alpha beta gamma delta epsilon zeta"   # 4 shared shingles
    clean = "unrelated words entirely different tokens here"
    src, ck = str(tmp_path / "docs"), str(tmp_path / "ck")

    # delivery 1: corpus only — screened against an EMPTY suite state
    spark.createDataFrame([(c1, leak), (c2, clean)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    stream_ngram_decontaminate(spark, src, store, ck).awaitTermination(120)
    rows = store.read(NGRAM_SCREEN_VERDICTS_TABLE,
                      NGRAM_SCREEN_VERDICT_SCHEMA).collect()
    assert {r.suite_epoch for r in rows} == {0}
    assert not any(r.contaminated for r in rows)

    # delivery 2: the LATE suite doc — restart on the same checkpoint,
    # so only the new file processes; corpus verdicts are NOT revisited
    spark.createDataFrame([(suite_id, leak)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    stream_ngram_decontaminate(spark, src, store, ck).awaitTermination(120)
    n_state = store.read(NGRAM_SCREEN_SUITE_TABLE,
                         NGRAM_SCREEN_SUITE_SCHEMA).count()
    stale = [r for r in store.read(NGRAM_SCREEN_VERDICTS_TABLE,
                                   NGRAM_SCREEN_VERDICT_SCHEMA).collect()
             if r.suite_epoch < n_state]
    # the detector FIRES: every corpus verdict predates the suite merge,
    # including the now-wrong non-contaminated verdict for the leak doc
    assert {r.doc_id for r in stale} == {c1, c2}
    assert not [r for r in stale if r.contaminated]

    # the replay the signal calls for: reprocess everything (fresh
    # checkpoint, same store) — verdicts update, the detector clears
    stream_ngram_decontaminate(spark, src, store,
                               str(tmp_path / "ck2")).awaitTermination(120)
    after = {r.doc_id: r for r in
             store.read(NGRAM_SCREEN_VERDICTS_TABLE,
                        NGRAM_SCREEN_VERDICT_SCHEMA).collect()}
    assert after[c1].contaminated and not after[c2].contaminated
    assert {r.suite_epoch for r in after.values()} == {n_state}


def _fixture_cents(spark):
    """One coarse cell centred on the fixture suite vector: the
    quantizer artifact the recall-targeted stream twin takes."""
    c = _vec("suite")
    return spark.createDataFrame(
        [(0, c, sum(x * x for x in c) ** 0.5)],
        "label int, c array<double>, cnrm double")


@pytest.mark.parametrize("twin", ["semantic", "recallk", "lsh",
                                  "semantic_multisuite"])
def test_stream_suite_overwrite_raises_at_merge(spark, store, tmp_path,
                                                twin):
    """The suite-epoch contract's enforcement, end-to-end, on every
    stream twin whose suite payload comes from the input row: a suite
    feed that re-issues an EXISTING vec_id with a CHANGED embedding
    would change verdict-relevant state without changing the row-count
    epoch — the merge refuses (ImmutablePayloadError through the
    streaming query) instead of letting every downstream epoch
    comparison silently lie, and the suite state keeps the original
    payload."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from qucosa_fcrepo_reportingdb_spark.streaming import jobs as J

    start, table, schema = {
        "semantic": (J.stream_semantic_decontaminate, J.SEM_SUITE_TABLE,
                     J.SEM_SUITE_SCHEMA),
        "recallk": (lambda *a: J.stream_semantic_recallk_decontaminate(
            *a, _fixture_cents(spark)), J.SEM_RK_SUITE_TABLE,
            J.SEM_SUITE_SCHEMA),
        "lsh": (J.stream_semantic_lsh_decontaminate,
                J.LSH_SCREEN_SUITE_TABLE, J.LSH_SCREEN_SUITE_SCHEMA),
        "semantic_multisuite": (J.stream_semantic_multisuite_decontaminate,
                                J.SEM_MS_SUITE_TABLE,
                                J.SEM_MS_SUITE_SCHEMA),
    }[twin]
    src = str(tmp_path / "emb")
    ck = str(tmp_path / "ck")
    # vec_id 0 hashes into the suite of both the single-suite screens
    # and the multi-suite slices (see the fixture-corpus note)
    spark.createDataFrame(
        [(0, _vec("suite"), 0), (1, _vec("near"), 0)],
        "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.mode("append").parquet(src)
    start(spark, src, store, ck).awaitTermination(180)
    before = {r.vec_id: r.v for r in store.read(table, schema).collect()}
    assert 0 in before
    # the overwriting feed: same suite key, corrected embedding
    spark.createDataFrame(
        [(0, _vec("far"), 0)],
        "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.mode("append").parquet(src)
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as exc:
        start(spark, src, store, ck).awaitTermination(180)
    assert "CHANGED payload" in str(exc.value)
    after = {r.vec_id: r.v for r in store.read(table, schema).collect()}
    assert after[0] == before[0]


def test_stale_detector_reads_pre_epoch_null_as_stale(spark, store):
    """ADVICE r14: a verdict table persisted BEFORE the suite_epoch
    column existed reads it back as NULL (the store's tolerant
    reader), and a raw ``suite_epoch < count`` comparison yields NULL
    — genuinely stale pre-migration verdicts would silently never trip
    the detector. The canonical consumer (stale_verdict_ids) COALESCEs
    NULL to 0, so every pre-epoch row reads as conservatively stale,
    while current-epoch rows stay clean and older-epoch rows fire."""
    from pyspark.sql import types as T

    from qucosa_fcrepo_reportingdb_spark.streaming import jobs as J

    pre_fields = [f for f in J.NGRAM_SCREEN_VERDICT_SCHEMA.fields
                  if f.name != "suite_epoch"]
    store.overwrite(
        J.NGRAM_SCREEN_VERDICTS_TABLE,
        spark.createDataFrame([(1, 0, False), (2, 3, True)],
                              T.StructType(pre_fields)))
    store.overwrite(
        J.NGRAM_SCREEN_SUITE_TABLE,
        spark.createDataFrame([(11,), (12,)], J.NGRAM_SCREEN_SUITE_SCHEMA))

    def stale():
        return {r.doc_id for r in J.stale_verdict_ids(
            store, J.NGRAM_SCREEN_VERDICTS_TABLE,
            J.NGRAM_SCREEN_VERDICT_SCHEMA, J.NGRAM_SCREEN_SUITE_TABLE,
            J.NGRAM_SCREEN_SUITE_SCHEMA).collect()}

    # the raw inline comparison misses BOTH pre-epoch rows...
    raw = [r for r in store.read(J.NGRAM_SCREEN_VERDICTS_TABLE,
                                 J.NGRAM_SCREEN_VERDICT_SCHEMA).collect()
           if r.suite_epoch is not None and r.suite_epoch < 2]
    assert raw == []
    # ...the canonical consumer flags them
    assert stale() == {1, 2}
    # epoch semantics unchanged for post-migration rows: current-epoch
    # clean, older-epoch stale
    store.merge_keyed(
        J.NGRAM_SCREEN_VERDICTS_TABLE,
        spark.createDataFrame([(3, 0, False, 2), (4, 0, False, 1)],
                              J.NGRAM_SCREEN_VERDICT_SCHEMA),
        keys=["doc_id"], schema=J.NGRAM_SCREEN_VERDICT_SCHEMA)
    assert stale() == {1, 2, 4}


def test_stream_lsh_late_suite_vec_flags_stale_verdicts(
        spark, store, tmp_path):
    """The ngram stream's late-suite drill transplanted to the
    angle-keyed screen (VERDICT r13 item 5's epoch-assertion
    companion): a suite vector arriving AFTER corpus vectors were
    screened leaves their verdicts stale-detectable (suite_epoch <
    current suite-state count) — including the now-wrong clean verdict
    for the near-duplicate — and the corpus replay the signal calls
    for both fixes the verdicts and clears the detector."""
    from qucosa_fcrepo_reportingdb_spark.streaming.jobs import (
        LSH_SCREEN_SUITE_SCHEMA,
        LSH_SCREEN_SUITE_TABLE,
        LSH_SCREEN_VERDICTS_TABLE,
        SEM_VERDICT_SCHEMA,
        stream_semantic_lsh_decontaminate,
    )

    def h(d):
        k = d % C.MOD
        lo, hi = k % 65536, (k - k % 65536) // 65536
        return (lo * C.MULT + (hi * C.MULT % C.MOD) * 65536) % C.MOD

    suite_id = next(d for d in range(1000) if h(d) < C.BENCH_RATE)
    c1, c2 = [d for d in range(1000) if h(d) >= C.BENCH_RATE][:2]
    src, ck = str(tmp_path / "emb"), str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>, label int"

    # delivery 1: corpus only — screened against an EMPTY suite state
    spark.createDataFrame(
        [(c1, _vec("near"), 0), (c2, _vec("far"), 0)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream_semantic_lsh_decontaminate(
        spark, src, store, ck).awaitTermination(120)
    rows = store.read(LSH_SCREEN_VERDICTS_TABLE,
                      SEM_VERDICT_SCHEMA).collect()
    assert {r.suite_epoch for r in rows} == {0}
    assert not any(r.contaminated for r in rows)

    # delivery 2: the LATE suite vector — restart on the same
    # checkpoint, so only the new file processes; corpus verdicts are
    # NOT revisited, and every one of them predates the suite merge
    spark.createDataFrame([(suite_id, _vec("suite"), 0)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream_semantic_lsh_decontaminate(
        spark, src, store, ck).awaitTermination(120)
    n_state = store.read(LSH_SCREEN_SUITE_TABLE,
                         LSH_SCREEN_SUITE_SCHEMA).count()
    stale = [r for r in store.read(LSH_SCREEN_VERDICTS_TABLE,
                                   SEM_VERDICT_SCHEMA).collect()
             if r.suite_epoch < n_state]
    assert {r.vec_id for r in stale} == {c1, c2}
    assert not [r for r in stale if r.contaminated]

    # the replay the signal calls for: reprocess everything (fresh
    # checkpoint, same store) — verdicts update, the detector clears
    stream_semantic_lsh_decontaminate(
        spark, src, store, str(tmp_path / "ck2")).awaitTermination(120)
    after = {r.vec_id: r for r in
             store.read(LSH_SCREEN_VERDICTS_TABLE,
                        SEM_VERDICT_SCHEMA).collect()}
    assert after[c1].contaminated and not after[c2].contaminated
    assert {r.suite_epoch for r in after.values()} == {n_state}


def test_streamed_manifest_assembles_to_batch_manifest(
        spark, store, tmp_path):
    """The streaming-deployment capstone: run ALL FIVE screens as
    streams (suite material first, corpus over two microbatches each),
    then fold their persisted verdict tables through the SAME
    _manifest_assemble body the batch operator uses — the result must
    equal contamination_manifest row-for-row. This is the parity a
    deployment actually relies on: a training run reading the streamed
    verdict state gets the exact exclusion set the batch audit would
    produce."""
    from pyspark.sql import functions as F

    from qucosa_fcrepo_reportingdb_spark.operators.similarity import (
        _full_centroid_arrays,
    )
    from qucosa_fcrepo_reportingdb_spark.streaming import jobs as J

    # one source per modality; suite slice first, then corpus halves
    def staged(df, key, name):
        is_suite = F.expr(C.key_hash(key)) < C.BENCH_RATE
        src = str(tmp_path / name)
        df.filter(is_suite).coalesce(1).write.mode("append").parquet(src)
        corpus = df.filter(~is_suite)
        corpus.filter(f"{key} % 2 = 0").coalesce(1) \
            .write.mode("append").parquet(src)
        corpus.filter(f"{key} % 2 = 1").coalesce(1) \
            .write.mode("append").parquet(src)
        return src

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    txt_src = staged(docs.select("doc_id", "text"), "doc_id", "txt")
    media_src = staged(docs.select("doc_id"), "doc_id", "media")
    emb_src = staged(emb, "vec_id", "emb")

    cents = _full_centroid_arrays(spark, SF_DIR)
    ck = str(tmp_path / "ck")
    for q in [
        J.stream_ngram_decontaminate(spark, txt_src, store, ck),
        J.stream_semantic_recallk_decontaminate(
            spark, emb_src, store, ck, cents),
        J.stream_phash_decontaminate(spark, media_src, store, ck),
        J.stream_afp_decontaminate(spark, media_src, store, ck),
        J.stream_vfp_decontaminate(spark, media_src, store, ck),
    ]:
        q.awaitTermination(240)

    # the named streamed-manifest entry point (VERDICT r12 item 6):
    # folds the five persisted verdict tables through the shared
    # _manifest_assemble body and merges the streamed manifest table
    got = sorted(map(tuple,
                     J.stream_contamination_manifest(spark, store)
                     .collect()))
    expected = sorted(map(tuple, C.contamination_manifest(
        spark, SF_DIR).collect()))
    assert got == expected and len(got) > 0
    assert any(r[-1] for r in got) and not all(r[-1] for r in got)
    # re-folding is idempotent: the keyed merge rewrites identical
    # rows, so a scheduled re-assembly never perturbs the artifact
    again = sorted(map(tuple,
                       J.stream_contamination_manifest(spark, store)
                       .collect()))
    assert again == got

    # ADVICE r13: a deployment following semantic_screen_policy's
    # lsh_bands dispatch writes LSH_SCREEN_VERDICTS_TABLE, not the
    # recallk table the manifest reads by default. Folding an EMPTY
    # semantic table while the other screens' tables are populated
    # must fail loudly — the silent alternative is a manifest with
    # zero semantic exclusions.
    with pytest.raises(ValueError, match="semantic verdict table"):
        J.stream_contamination_manifest(
            spark, store, semantic_table=J.LSH_SCREEN_VERDICTS_TABLE)
    # ADVICE r14: the raise also hits LEGITIMATE empty-semantic folds
    # (bootstrap before the semantic stream's first drain, or no
    # embedding modality) — allow_empty_semantic=True is the caller's
    # explicit assertion that empty is expected: the fold proceeds
    # with flagged_semantic=false throughout, other screens unchanged,
    # and the keyed merge lets a later post-drain fold overwrite it.
    boot = {r.doc_id: r for r in J.stream_contamination_manifest(
        spark, store, semantic_table=J.LSH_SCREEN_VERDICTS_TABLE,
        allow_empty_semantic=True).collect()}
    exp_rows = {r[0]: r for r in expected}
    assert set(boot) == set(exp_rows)
    for doc_id, row in boot.items():
        e = exp_rows[doc_id]
        assert not row.flagged_semantic
        assert (row.flagged_text, row.flagged_image, row.flagged_audio,
                row.flagged_video) == (e[1], e[3], e[4], e[5])
    # ...and with the dispatched stream drained, passing its table
    # folds its verdicts: flagged_semantic carries the LSH schedule's
    # verdicts, every other screen column unchanged.
    J.stream_semantic_lsh_decontaminate(
        spark, emb_src, store, ck).awaitTermination(240)
    lsh_fold = {r.doc_id: r for r in J.stream_contamination_manifest(
        spark, store,
        semantic_table=J.LSH_SCREEN_VERDICTS_TABLE).collect()}
    lsh_flags = {r.vec_id: r.contaminated for r in store.read(
        J.LSH_SCREEN_VERDICTS_TABLE, J.SEM_VERDICT_SCHEMA).collect()}
    exp = {r[0]: r for r in expected}
    assert set(lsh_fold) == set(exp)
    for doc_id, row in lsh_fold.items():
        assert row.flagged_semantic == bool(lsh_flags.get(doc_id, False))
        e = exp[doc_id]
        assert (row.flagged_text, row.flagged_image, row.flagged_audio,
                row.flagged_video) == (e[1], e[3], e[4], e[5])


def test_perceptual_recall_audit_structural_exactness(spark):
    """The perceptual families' measured-recall rows (VERDICT r12 item
    8): image/audio and the video M-of-K form must measure recall 1.0
    — their banding is pigeonhole-exact, so anything below 1.0 is a
    banding bug, and the audit turns that claim into a tripwire. The
    video_gate row (production M-of-K flags vs the exact ANY-frame
    baseline) is the family's one designed loss: its recall is
    measured, <= 1, against a baseline at least as large as the
    M-of-K one."""
    rows = {r.family: r for r in
            C.perceptual_screen_recall_audit(spark, SF_DIR).collect()}
    assert set(rows) == {"image", "audio", "video_mofk", "video_gate"}
    for fam in ("image", "audio", "video_mofk"):
        assert rows[fam].recall == 1.0, fam
        assert rows[fam].n_missed == 0, fam
    g, m = rows["video_gate"], rows["video_mofk"]
    assert g.n_true >= m.n_true
    assert g.recall <= 1.0
    assert g.n_flagged == m.n_flagged  # same production screen flags
    assert all(r.n_true > 0 for r in rows.values())


def test_manifest_diff_is_monotone_release_gain(spark):
    """The suite-release manifest diff: every row is an 'update' whose
    screen-flag count strictly grew (suite hits only accumulate with
    members, so a change implies at least one flag turned on), the
    current side agrees with the memoized manifest, and the release
    newly excluded at least one previously-clean entity — the case the
    report exists to surface."""
    rows = C.contamination_manifest_diff(spark, SF_DIR).collect()
    man = {r.doc_id: r for r in
           C.contamination_manifest(spark, SF_DIR).collect()}
    assert len(rows) > 0
    for r in rows:
        assert r.op == "update"
        assert r.n_screens_current > r.n_screens_prior
        assert r.excluded_current
        assert r.n_screens_current == man[r.doc_id].n_screens_flagged
        assert r.excluded_current == man[r.doc_id].excluded
    assert any(not r.excluded_prior for r in rows)

    # VERDICT r13 item 8: a deployment reads its PERSISTED prior
    # manifest instead of reconstructing it from the five refresh
    # screens — the diff over a materialized prior must be
    # row-identical (the reconstruction IS the prior's definition).
    from qucosa_fcrepo_reportingdb_spark.memo import cut_lineage
    from qucosa_fcrepo_reportingdb_spark.operators.corpus import (
        _manifest_assemble,
        decontaminate_afp_suite_refresh,
        decontaminate_embedding_suite_refresh,
        decontaminate_ngram_overlap_suite_refresh,
        decontaminate_phash_suite_refresh,
        decontaminate_vfp_suite_refresh,
    )
    prior = cut_lineage(_manifest_assemble(
        decontaminate_ngram_overlap_suite_refresh(spark, SF_DIR)
        .selectExpr("doc_id",
                    f"(n_overlap - n_overlap_new_suite) >= "
                    f"{C.CONTAMINATION_MIN_SHINGLES} AS flagged_text"),
        decontaminate_embedding_suite_refresh(spark, SF_DIR)
        .selectExpr("vec_id AS doc_id",
                    "(n_hits - n_hits_new_suite) >= 1"
                    " AS flagged_semantic"),
        decontaminate_phash_suite_refresh(spark, SF_DIR)
        .selectExpr("doc_id",
                    "(n_hits - n_hits_new_suite) >= 1 AS flagged_image"),
        decontaminate_afp_suite_refresh(spark, SF_DIR)
        .selectExpr("doc_id",
                    "(n_hits - n_hits_new_suite) >= 1 AS flagged_audio"),
        decontaminate_vfp_suite_refresh(spark, SF_DIR)
        .selectExpr("doc_id",
                    "(n_hits - n_hits_new_suite) >= 1"
                    " AS flagged_video")))
    from_prior = C.contamination_manifest_diff(
        spark, SF_DIR, prior=prior).collect()
    assert sorted(map(tuple, from_prior)) == sorted(map(tuple, rows))


def test_contamination_closure_propagates_through_dup_clusters(spark):
    """The exclusion closure: excluded_direct equals the manifest's
    verdict; excluded_via_dup holds exactly when ANOTHER member of the
    doc's near-dup cluster is directly excluded (reconstructed
    independently from the components query); and the closure rescues
    at least one document no screen flagged directly — the case the
    operator exists for."""
    man = {r.doc_id: r.excluded for r in
           C.contamination_manifest(spark, SF_DIR).collect()}
    comp = {r.doc_id: r.component_id for r in
            C.dedup_connected_components(spark, SF_DIR).collect()}
    by_cluster: dict = {}
    for d, cid in comp.items():
        if d in man:
            by_cluster.setdefault(cid, []).append(d)
    rows = C.contamination_closure(spark, SF_DIR).collect()
    assert {r.doc_id for r in rows} == set(man)
    for r in rows:
        assert r.excluded_direct == man[r.doc_id]
        members = by_cluster.get(comp.get(r.doc_id), [])
        want_via = any(man[m] for m in members if m != r.doc_id)
        assert r.excluded_via_dup == want_via, r.doc_id
        assert r.excluded == (r.excluded_direct or r.excluded_via_dup)
    assert any(r.excluded_via_dup and not r.excluded_direct
               for r in rows), "closure never rescued a missed doc"


def test_suite_leakage_report_reverse_attribution(spark):
    """Reverse attribution pins: one row per suite entity; the designed
    re-encode pairs mean a suite member whose partner is in the corpus
    shows EXACTLY one hit in each perceptual modality (zero-accidental
    corpus) and a partnerless member shows zero; the per-member
    semantic counts sum to the recallk screen's total hit count (both
    count the same scored pairs, attributed from opposite sides)."""
    suite, corpus = _suite_split(spark, SF_DIR)
    rows = {r.s_doc: r for r in
            C.suite_leakage_report(spark, SF_DIR).collect()}
    assert set(rows) == suite

    def partner(d):
        return d + 1 if d % 4 == 0 else (d - 1 if d % 4 == 1 else None)
    for s, r in rows.items():
        want = 1 if (partner(s) is not None and partner(s) in corpus) \
            else 0
        assert r.n_image_hits == want, s
        assert r.n_audio_hits == want, s
        assert r.n_video_hits == want, s
        assert r.n_total_hits == (r.n_text_hits + r.n_semantic_hits
                                  + r.n_image_hits + r.n_audio_hits
                                  + r.n_video_hits)
    sem_total = sum(r.n_semantic_hits for r in rows.values())
    screen_total = sum(
        r.n_hits for r in
        C.decontaminate_embedding_recallk(spark, SF_DIR).collect())
    assert sem_total == screen_total > 0
    assert any(r.n_text_hits >= 1 for r in rows.values())
    # burn is NOT uniform: members exist with zero lexical leakage and
    # with zero perceptual leakage (the semantic screen's barely-above-
    # threshold corpus burns almost every member on that axis — the
    # regime SCALING.md documents — so totals stay nonzero here)
    assert any(r.n_text_hits == 0 for r in rows.values())
    assert any(r.n_image_hits + r.n_audio_hits + r.n_video_hits == 0
               for r in rows.values())


def test_manifest_coverage_census_counts_match_manifest(spark):
    """The census rows are exact folds of the manifest columns:
    scored + missing = corpus size per screen, and flagged matches a
    direct count over the manifest."""
    man = C.contamination_manifest(spark, SF_DIR).collect()
    census = {r.screen: r for r in
              C.manifest_coverage_census(spark, SF_DIR).collect()}
    assert set(census) == {"text", "semantic", "image", "audio", "video"}
    for screen, col in C._MANIFEST_SCREENS:
        vals = [r.asDict()[col] for r in man]
        r = census[screen]
        assert r.n_scored == sum(v is not None for v in vals)
        assert r.n_missing == sum(v is None for v in vals)
        assert r.n_flagged == sum(bool(v) for v in vals)
        assert r.n_scored + r.n_missing == len(man)


def test_training_set_manifest_upgrades_contamination_gate(spark):
    """The multimodal curation verdict: same precedence as
    clean_corpus_manifest, contamination gate = the five-screen
    closure. Pins: every clean-manifest 'contaminated' drop stays
    contaminated (the closure only widens the lexical screen); the
    widening is non-empty and every widened drop is attributable
    (direct or via_dup true); 'keep' rows carry no contamination flag;
    and reasons downstream of the gate can only be overridden toward
    'contaminated', never un-dropped."""
    base = {r.doc_id: r.reason for r in
            C.clean_corpus_manifest(spark, SF_DIR).collect()}
    rows = {r.doc_id: r for r in
            C.training_set_manifest(spark, SF_DIR).collect()}
    assert set(rows) == set(base)
    widened = 0
    for d, r in rows.items():
        if base[d] == "contaminated":
            assert r.reason == "contaminated", d
        if base[d] == "benchmark":
            assert r.reason == "benchmark", d
        if r.reason != base[d]:
            assert r.reason == "contaminated", (d, base[d], r.reason)
            widened += 1
        if r.reason == "contaminated":
            assert r.contaminated_direct or r.contaminated_via_dup
        if r.keep:
            assert r.reason == "keep"
            assert not (r.contaminated_direct or r.contaminated_via_dup)
    assert widened >= 1, "closure added nothing beyond the lexical screen"
    assert any(r.keep for r in rows.values())


def test_closure_incremental_equals_batch_on_incoming(spark):
    """Delta-ingest closure: rows identical to the batch closure for
    incoming ids, coverage exactly the shared ingest convention —
    cluster counts stay corpus-wide (the persisted-artifact
    semantics), so propagation from an EXISTING excluded doc into an
    incoming near-dup still fires."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        INCREMENTAL_MOD,
        INCREMENTAL_NEW,
    )
    batch = {r.doc_id: tuple(r)[1:] for r in
             C.contamination_closure(spark, SF_DIR).collect()}
    inc = C.contamination_closure_incremental(spark, SF_DIR).collect()
    assert len(inc) > 0
    for r in inc:
        assert r.doc_id % INCREMENTAL_MOD >= INCREMENTAL_NEW
        assert tuple(r)[1:] == batch[r.doc_id]
    assert {r.doc_id for r in inc} == \
        {d for d in batch if d % INCREMENTAL_MOD >= INCREMENTAL_NEW}


def test_training_funnel_is_exact_and_prices_extra_screens(spark):
    """The training funnel decomposes exactly (first-failing-gate
    attribution), ends at the training manifest's keep set, and its
    decontamination stage drops AT LEAST as much as the lexical-only
    funnel's (the closure widens the gate, and precedence means the
    widening can only move docs INTO the earlier stage)."""
    tf = {r.stage: r for r in
          C.training_funnel_report(spark, SF_DIR).collect()}
    cf = {r.stage: r for r in
          C.curation_funnel_report(spark, SF_DIR).collect()}
    assert set(tf) == set(cf)
    man = C.training_set_manifest(spark, SF_DIR).collect()
    n_keep = sum(r.keep for r in man)
    order = sorted(tf.values(), key=lambda r: r.stage_idx)
    assert order[-1].n_remaining == n_keep
    for prev, cur in zip(order, order[1:]):
        assert cur.n_remaining == prev.n_remaining - cur.n_dropped_here
    assert (tf["decontamination"].n_dropped_here
            > cf["decontamination"].n_dropped_here)
    assert tf["benchmark_holdout"].n_dropped_here == \
        cf["benchmark_holdout"].n_dropped_here


def test_contamination_by_source_folds_manifest_exactly(spark):
    """The provenance breakdown is an exact fold: per-source counts
    sum to the manifest totals, closure counts are >= manifest counts
    per source, and the closure delta across sources equals the
    closure's via-dup-only rescue count."""
    man = C.contamination_manifest(spark, SF_DIR).collect()
    clo = C.contamination_closure(spark, SF_DIR).collect()
    rows = C.contamination_by_source(spark, SF_DIR).collect()
    assert sum(r.n_docs for r in rows) == len(man)
    assert sum(r.n_excluded for r in rows) == \
        sum(r.excluded for r in man)
    assert sum(r.n_excluded_closure for r in rows) == \
        sum(r.excluded for r in clo)
    for r in rows:
        assert r.n_excluded_closure >= r.n_excluded
    delta = sum(r.n_excluded_closure - r.n_excluded for r in rows)
    rescued = sum(1 for r in clo
                  if r.excluded_via_dup and not r.excluded_direct)
    assert delta == rescued >= 1


def test_suite_self_dedup_semantics(spark):
    """Suite self-dedup pins: one row per suite member; the near-dup
    relation is symmetric under the min-id rule (every near-dup GROUP
    keeps at least its minimum-id member non-redundant); redundant
    implies a near-dup exists; and both outcomes are exercised.
    Symmetry pin (ADVICE r12): the pair set is symmetrized before the
    roll-up, so every unordered near-dup pair contributes to BOTH
    members' n_near_dups — the total is even, and a pair the probe
    schedule saw from only one side can no longer leave both members
    non-redundant."""
    suite, _ = _suite_split(spark, SF_DIR)
    rows = {r.s_doc: r for r in
            C.suite_self_dedup_report(spark, SF_DIR).collect()}
    assert set(rows) == suite
    assert sum(r.n_near_dups for r in rows.values()) % 2 == 0
    dup_members = {d for d, r in rows.items() if r.n_near_dups > 0}
    for d, r in rows.items():
        if r.redundant:
            assert r.n_near_dups >= 1
    if dup_members:
        # the smallest id among members with near-dups can never be
        # redundant (no smaller near-dup can exist for it)
        assert not rows[min(dup_members)].redundant
        assert any(r.redundant for r in rows.values())
    assert any(r.n_near_dups == 0 for r in rows.values())


def test_bpe_fertility_by_lang_bounds_and_totals(spark):
    """Fertility pins: 1 <= fertility (BPE never splits below one
    token/word) and every word's token count is at most its character
    count, so chars_per_token >= 1; per-lang word totals sum to the
    corpus word count; and the corpus-wide occurrence-weighted
    fertility ties out against bpe_encode_stats' vocabulary-side
    aggregate ONLY through totals (encode_stats weights by distinct
    words; this weights by occurrences — assert both directions of
    the token total instead)."""
    rows = C.bpe_fertility_by_lang(spark, SF_DIR).collect()
    assert len(rows) >= 2
    total_words = 0
    total_tokens = 0
    for r in rows:
        assert 1.0 <= r.fertility
        assert r.chars_per_token >= 1.0
        assert r.n_tokens <= r.n_chars
        assert r.n_words <= r.n_tokens
        total_words += r.n_words
        total_tokens += r.n_tokens
    enc = C.bpe_encode_stats(spark, SF_DIR).collect()[0]
    assert total_words == enc.total_words
    assert total_tokens == enc.symbols_after


def test_screen_agreement_matrix_folds_manifest(spark):
    """Agreement matrix pins: ordered pairs over the five screens, each
    cell an exact fold of the manifest's co-scored flags; the three
    perceptual screens are mutually jaccard 1.0 on this corpus (they
    flag the same designed re-encode pairs — the redundancy signal the
    matrix exists to expose); text and semantic are complementary
    (both n_only sides nonzero)."""
    man = C.contamination_manifest(spark, SF_DIR).collect()
    rows = {(r.screen_a, r.screen_b): r for r in
            C.screen_agreement_matrix(spark, SF_DIR).collect()}
    assert len(rows) == 10
    cols = dict(C._MANIFEST_SCREENS)
    for (a, b), r in rows.items():
        fa, fb = cols[a], cols[b]
        pairs = [(m.asDict()[fa], m.asDict()[fb]) for m in man
                 if m.asDict()[fa] is not None
                 and m.asDict()[fb] is not None]
        assert r.n_both == sum(1 for x, y in pairs if x and y)
        assert r.n_only_a == sum(1 for x, y in pairs if x and not y)
        assert r.n_only_b == sum(1 for x, y in pairs if y and not x)
    for a, b in [("image", "audio"), ("image", "video"),
                 ("audio", "video")]:
        assert rows[(a, b)].jaccard == 1.0
    ts = rows[("text", "semantic")]
    assert ts.n_only_a > 0 and ts.n_only_b > 0 and ts.jaccard < 0.5
